"""Serving layer: persisted stores, bot replies, alert text, charts."""
