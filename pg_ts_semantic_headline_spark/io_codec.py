"""Parquet codec for the engine's PERSISTED index/store tables.

Measured at sf0.1 (full english build, min-of-2 per codec, isolated):
zstd writes a 24% smaller index than snappy (2.19 vs 2.86 MB) with no
build-wall or query-latency cost (7.8 vs 9.0 s build, 0.49 vs 0.53
s/query on the since-removed block-max plan — both within window
noise). At 100 TB the index's bytes on object storage AND every scan's
bytes-read shrink by the same fraction, so zstd is strictly better for
tables the engine owns.

User-facing corpus sinks (sources/writers.py) deliberately keep the
session default — output codec choice belongs to the pipeline owner.
"""

INDEX_CODEC = "zstd"
