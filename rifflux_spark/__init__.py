"""rifflux_spark — a PySpark-native inverted-index + BM25 retrieval engine.

A from-scratch, Spark-first rebuild of the retrieval semantics of the
reference engine (yxbh/rifflux — local SQLite FTS5/BM25 + embedding cosine
+ RRF hybrid): tokenization/chunking as vectorized Arrow UDFs, explicit
posting-list construction with salted range runs and delta+varbyte block
compression, BM25 (k1=1.2, b=0.75) top-k under a posting budget, brute
force + LSH semantic search, RRF rank-window fusion, incremental catalog
diffing, and per-shard lineage checkpointing — all expressed as DataFrame
plans so Catalyst handles pushdown/pruning/AQE.

Reference semantics citations use file:line into /root/reference/.
"""

from rifflux_spark.config import EngineConfig

__all__ = ["EngineConfig"]
__version__ = "0.1.0"
