"""Structured Streaming layer: the reference's Kafka Streams topologies
rebuilt as streaming DataFrame transforms.

Mapping (SURVEY §1.1, §2.7):
- KStream            → streaming DataFrame (append)
- KTable             → latest-by-key compaction (update-mode agg / MERGE sink)
- aggregator A1/A2   → per-key state in ``stateful_delta``
- custom state       → ``applyInPandasWithState``, the one stateful binding
                       (the running delta): state commits once per
                       micro-batch and recovers from the checkpoint;
                       ``get_spark`` backs it with the RocksDB provider
- 1-day window A3/A4 → ``windowed.daily_window_agg`` (watermark + tumbling window)
- dedup T2/T3        → ``dedup_stream`` (dropDuplicatesWithinWatermark)
- emit control T6    → update output mode + processingTime trigger
"""
