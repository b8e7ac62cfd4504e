"""Seeded page snapshots: the build's base crawl and the next crawl that
the incremental apply brings the index in line with.

Both snapshots are materialised to parquet before anything is timed, so
the build and the apply read the same input a production job would read,
and page generation never lands inside a timed region. The next crawl is
written only by runs that time the apply.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.chunker import chunk_markdown
from rifflux_spark.sources.pages import synthetic_pages

PAGE_SCALE = 4
# next-snapshot churn, in percent of base pages (chosen per url hash)
DELETED_PCT = 2
CHANGED_PCT = 2
ADDED_PCT = 2


@dataclass(frozen=True)
class BaseCrawl:
    path: str
    pages: int
    chunks: int
    text_bytes: int
    fingerprint: str


@dataclass(frozen=True)
class NextCrawl:
    path: str
    pages: int
    deleted: int
    changed: int
    added: int


def write_base(
    spark: SparkSession, n_pages: int, seed: int, work: str, n_partitions: int, config: EngineConfig
) -> BaseCrawl:
    """Base crawl of ``n_pages`` Zipf pages, with its text bytes, a
    fingerprint and its chunk count from the chunker kernel (the live
    chunk count an index of it must report), all from one pass."""
    path = f"{work}/pages_base"
    synthetic_pages(
        spark, n_pages, seed=seed, n_partitions=n_partitions, page_scale=PAGE_SCALE
    ).write.parquet(path)
    row = spark.read.parquet(path).agg(
        F.count("*").alias("n"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.expr("bit_xor(xxhash64(url, text))").alias("fingerprint"),
        F.sum(_n_chunks(config)("url", "text")).alias("chunks"),
    ).collect()[0]
    return BaseCrawl(
        path=path,
        pages=int(row["n"]),
        chunks=int(row["chunks"] or 0),
        text_bytes=int(row["text_bytes"]),
        fingerprint=f"{int(row['fingerprint']) & (2**64 - 1):016x}",
    )


def write_next(
    spark: SparkSession, base: BaseCrawl, seed: int, work: str, n_partitions: int
) -> NextCrawl:
    """The next crawl after ``base``: a url-hash-chosen ``DELETED_PCT`` of
    pages gone, ``CHANGED_PCT`` with a new section and a later fetch time,
    and ``ADDED_PCT`` new pages."""
    path = f"{work}/pages_next"
    pages = spark.read.parquet(base.path)
    bucket = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(100))
    is_changed = bucket < DELETED_PCT + CHANGED_PCT
    kept = pages.filter(bucket >= DELETED_PCT).select(
        "url",
        F.when(is_changed, F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
        .otherwise(F.col("warc_ts"))
        .alias("warc_ts"),
        "html",
        F.when(
            is_changed,
            F.concat(
                F.col("text"),
                F.lit("\n## Revision Notes\n\nRevised eviction policy for the cache tier of "),
                F.col("url"),
                F.lit(".\n"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    n_added = base.pages * ADDED_PCT // 100
    added = synthetic_pages(
        spark, n_added, seed=seed + 1, n_partitions=n_partitions, page_scale=PAGE_SCALE
    ).withColumn("url", F.concat(F.col("url"), F.lit("/next")))
    kept.unionByName(added).write.parquet(path)

    row = pages.agg(
        F.sum((bucket < DELETED_PCT).cast("int")).alias("deleted"),
        F.sum(((bucket >= DELETED_PCT) & is_changed).cast("int")).alias("changed"),
    ).collect()[0]
    return NextCrawl(
        path=path,
        pages=base.pages - int(row["deleted"]) + n_added,
        deleted=int(row["deleted"]),
        changed=int(row["changed"]),
        added=n_added,
    )


def _n_chunks(config: EngineConfig):
    """Pandas UDF: chunk count of each page, straight from the chunker kernel."""
    max_c, min_c = config.max_chunk_chars, config.min_chunk_chars

    @F.pandas_udf(T.LongType())
    def n_chunks(urls: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                len(chunk_markdown(t or "", u or "", max_chunk_chars=max_c, min_chunk_chars=min_c))
                for u, t in zip(urls, texts)
            ]
        )

    return n_chunks


def expected_chunks(spark: SparkSession, pages_path: str, config: EngineConfig) -> int:
    """Chunk count of a snapshot: the live chunk count an index of that
    snapshot must report."""
    pages = spark.read.parquet(pages_path)
    return int(pages.agg(F.sum(_n_chunks(config)("url", "text"))).collect()[0][0] or 0)
