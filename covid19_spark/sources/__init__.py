"""Table sources: parquet loaders, the emulated topic, persisted stores."""
