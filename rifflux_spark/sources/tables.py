"""Index table IO seam.

The reference persists everything in one SQLite file (reference
src/rifflux/db/schema.sql); the rebuild persists columnar tables under an
index root directory, resolved through an atomic snapshot manifest
(sources/manifest.py): every mutation writes immutable generation dirs
and publishes one pointer swap, so readers get the WAL-grade isolation
the reference inherits from SQLite. On a cluster the same calls target
Iceberg (``df.writeTo(table)`` — the manifest maps 1:1 onto a snapshot
commit) — the seam isolates that choice. Explicit StructType schemas
everywhere; no inference on the hot path (SURVEY.md §1.2).

Physical layout decisions that matter at 10^12 docs:

- ``postings`` is partitioned by ``term_bucket = pmod(xxhash64(term), NB)``
  and each partition is written sorted by ``(term, salt, block_seq)`` so a
  query-time ``term IN (...)`` prunes partitions *and* parquet row groups;
- ``chunks`` is written sorted by ``doc_ord`` so top-k rehydration
  (``doc_ord IN (...)``) prunes row groups;
- small tables (``corpus_stats``, ``term_stats`` for query terms,
  ``lineage``) are read driver-side or broadcast.
"""

from __future__ import annotations

import datetime
import json
import threading
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.functions.xxhash64 import term_bucket
from rifflux_spark.sources.manifest import Manifest

# Posting files get EXPLICIT bounded row groups (default 128 MB would
# mean a rare-term coordinator read decompresses ~128 MB of column
# chunks once a bucket grows to multi-GB): 8 MB keeps row groups
# term-min/max-prunable and the read cost df-proportional at 100×
# corpus growth, while staying far above the ~1 MB floor where footer
# overhead starts to matter. Warm coordinator posting reads are served
# from local_exec's decoded row-group cache, so the bound sizes a COLD
# read and one cache entry. Tests pin the mechanism by shrinking it.
POSTINGS_ROW_GROUP_BYTES = 8 << 20

# The chunks table is rehydration-read by doc_ord (top-k join-back on the
# coordinator path, get_chunk/get_file). Warm coordinator rehydrates are
# served from local_exec's decoded row-group cache and read no parquet;
# this bound sizes only a COLD read: with Spark's default 128 MB row
# groups, the first fetch of top_k ordinals would decode the whole content
# column (CORPUS-proportional), while bounded groups keep it at ≤ top_k ×
# this many (uncompressed) bytes (the bound also counts the `tokens`
# column, which rehydration never reads). The doc_ord-sorted layout keeps
# the min/max stats tight so exactly the covering groups are read.
CHUNKS_ROW_GROUP_BYTES = 4 << 20

# Generation dirs staged but not yet published, PROCESS-wide (absolute
# paths): gc() must not reclaim a sibling thread's uncommitted writes
# (self._pending is thread-local, so it cannot see them). Cross-process
# in-flight writers are covered by gc(min_age_sec=...).
_INFLIGHT_GENS: set[str] = set()

# Generation-dir glob cache: a dir whose path contains a ``g-*`` part is
# an immutable generation (fully written BEFORE it is staged/committed,
# never appended to, uuid-named so a path is never reused), so its file
# list can be cached for the life of the process. Non-generation dirs
# (adopted legacy roots) glob fresh every call. Saves the ~1 ms of
# rglob+stat churn every coordinator query paid per table touch.
_GEN_GLOB_CACHE: dict[str, list[Path]] = {}


def _snapshot_dir_files(d: Path) -> list[Path]:
    key = str(d)
    hit = _GEN_GLOB_CACHE.get(key)
    if hit is not None:
        return hit
    out = sorted(
        f
        for f in d.rglob("*.parquet")
        # a referenced dir may be an ADOPTED legacy table root with
        # in-flight generations nested under it — those belong to
        # uncommitted snapshots, never to this one
        if not any(
            p.startswith("g-") or p == "_temporary"
            for p in f.relative_to(d).parts[:-1]
        )
    )
    if any(p.startswith("g-") for p in d.parts):
        if len(_GEN_GLOB_CACHE) > 8192:
            _GEN_GLOB_CACHE.clear()
        _GEN_GLOB_CACHE[key] = out
    return out
_INFLIGHT_GUARD = threading.Lock()

CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("heading_path", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("token_count", T.IntegerType(), True),
        T.StructField("dl", T.IntegerType(), True),  # FTS5 doc length (both cols)
        # pre-tokenized stream: written once by the build's single UDF
        # pass and column-pruned away by every query-path reader; posting
        # (re)builds and stats consume it without re-running Python.
        # Space-joined string, not array<string>: one value per row through
        # Arrow/parquet, and F.split keeps the re-explode JVM-side.
        T.StructField("tokens", T.StringType(), True),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.LongType(), False),
        T.StructField("block_seq", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("gaps", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("block_max_tf", T.LongType(), False),
        T.StructField("block_min_dl", T.LongType(), False),
        T.StructField("block_tf_sum", T.LongType(), False),
    ]
)

# encode_postings' native output: block rows that already carry their
# term_bucket partition value, so write_postings can partitionBy straight
# from the encode shuffle without re-shuffling the encoded bytes.
POSTINGS_BUCKETED_SCHEMA = T.StructType(
    POSTINGS_SCHEMA.fields + [T.StructField("term_bucket", T.IntegerType(), False)]
)

TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df_docs", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
    ]
)

TERM_STATS_BUCKETED_SCHEMA = T.StructType(
    TERM_STATS_SCHEMA.fields + [T.StructField("term_bucket", T.IntegerType(), True)]
)

CORPUS_STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("total_tokens", T.LongType(), False),
        T.StructField("avgdl", T.DoubleType(), False),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("model", T.StringType(), False),
        T.StructField("dim", T.IntegerType(), False),
        # packed little-endian float32 — the reference's BLOB format
        # (reference sqlite_store.py:81-94); ~3× cheaper through
        # Arrow/parquet than list<float> and decoded zero-copy by numpy
        T.StructField("vec", T.BinaryType(), False),
    ]
)

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("n_chunks", T.IntegerType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("build_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("detail", T.StringType(), True),
        # input-corpus fingerprint of the build that wrote this row — the
        # reference's git-fingerprint analog (mcp/tools.py:61-117): lets a
        # resume detect the corpus changed under a reused build_id
        T.StructField("source_fp", T.StringType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)

TOMBSTONES_SCHEMA = T.StructType([T.StructField("doc_ord", T.LongType(), False)])

# KV metadata rows are append-only ops; reads resolve last-write-wins by
# seq (reference sqlite_store.py:99-119 set/get/delete over a meta table).
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("deleted", T.BooleanType(), False),
    ]
)



def _releases_gens_on_error(fn):
    """Writer guard: outside a transaction, a write that fails after
    allocating its generation dir would leave the gen in the
    process-wide in-flight set forever (no commit/abort ever resolves
    it) — gc() would then skip the orphan for the process lifetime.
    Release the thread's gens on the way out so gc can reclaim them;
    inside a transaction the transaction's own finally handles it (and
    an early release there could expose still-staged sibling gens to a
    concurrent gc before the txn commits)."""
    import functools

    @functools.wraps(fn)
    def wrap(self, *a, **k):
        try:
            return fn(self, *a, **k)
        except BaseException:
            if self._pending is None:
                self._release_gens()
            raise

    return wrap

class IndexStore:
    """Directory-backed index tables (parquet seam for Iceberg tables)."""

    def __init__(self, spark: SparkSession, root: str, n_term_buckets: int | None = None) -> None:
        self.spark = spark
        self.root = str(root)
        self.manifest = Manifest(self.root)
        # Per-THREAD overlay state (threading.local): a writer thread's
        # in-flight transaction stages entries only it can see (its own
        # pipeline reads its writes), while reader threads on the same
        # store resolve the last committed snapshot — a background
        # reindex never leaks half-applied state into foreground queries.
        # Readers can additionally PIN a snapshot (:meth:`read_snapshot`)
        # so one logical query resolves every table against ONE manifest
        # version even if a commit lands mid-query.
        import threading as _threading

        self._tl = _threading.local()
        # Physical-layout parameters are PERSISTED at build time
        # (metadata_kv "layout.*" keys) and validated here: a caller-
        # supplied bucket count that disagrees with the on-disk index
        # would silently break postings_for_terms' bucket pruning and
        # mis-bucket appended postings. None = trust the store.
        persisted_nb = self._persisted_layout("layout.n_term_buckets")
        if n_term_buckets is None:
            self.n_term_buckets = persisted_nb if persisted_nb is not None else 32
        else:
            if persisted_nb is not None and persisted_nb != int(n_term_buckets):
                raise ValueError(
                    f"index at {self.root!r} was built with n_term_buckets="
                    f"{persisted_nb}, but {n_term_buckets} was requested — "
                    "bucket pruning and appended postings would be wrong; "
                    "pass the build-time value (or None to auto-detect)"
                )
            self.n_term_buckets = int(n_term_buckets)
        self.salt_range = self._persisted_layout("layout.salt_range")
        # prefix-index lengths (operators/prefix.py) — () when the index
        # was built without them; metadata may not exist yet mid-build
        try:
            pl = self.meta_get("layout.prefix_lengths")
        except Exception:
            pl = None
        self.prefix_lengths: tuple[int, ...] = (
            tuple(int(x) for x in pl.split(",") if x.strip()) if pl else ()
        )

    def _persisted_layout(self, key: str) -> int | None:
        v = self.meta_get(key) if Path(self.path("metadata_kv")).exists() else None
        return int(v) if v is not None else None

    def persist_layout(self, n_term_buckets: int, salt_range: int) -> None:
        """Record the physical-layout parameters the index was built with
        (idempotent). Incremental appliers auto-align to these; readers
        validate against them at construction. A CONFLICTING value is an
        error, never a silent override: encoding blocks with a salt_range
        readers won't use would resolve every doc_ord past the range to
        the wrong ordinal (the same class of mismatch n_term_buckets
        hard-rejects in __init__)."""
        if self.meta_get("layout.n_term_buckets") is None:
            self.meta_set("layout.n_term_buckets", str(int(n_term_buckets)))
        persisted = self.meta_get("layout.salt_range")
        if persisted is None:
            self.meta_set("layout.salt_range", str(int(salt_range)))
        elif int(persisted) != int(salt_range):
            raise ValueError(
                f"index at {self.root} was built with salt_range={persisted}; "
                f"building into it with salt_range={salt_range} would encode "
                "blocks existing readers decode wrongly — use force=True or "
                "match the persisted layout"
            )
        self.salt_range = int(salt_range)

    def path(self, name: str) -> str:
        return str(Path(self.root) / name)

    # --- snapshot resolution (manifest-aware, legacy fallback) ---
    #
    # Committed indexes are resolved through the manifest pointer (see
    # sources/manifest.py): tables are unions of immutable generation
    # dirs, and every mutation below stages new generations + one atomic
    # pointer swap. Indexes built before the manifest existed (no entry
    # for a table) fall back to the flat ``root/<name>`` layout.

    @property
    def _pending(self) -> dict | None:
        return getattr(self._tl, "pending", None)

    @_pending.setter
    def _pending(self, value: dict | None) -> None:
        self._tl.pending = value

    @property
    def _pinned(self) -> dict | None:
        return getattr(self._tl, "pinned", None)

    @_pinned.setter
    def _pinned(self, value: dict | None) -> None:
        self._tl.pinned = value

    def _entry(self, name: str) -> dict | None:
        if self._pending is not None and name in self._pending:
            return self._pending[name]
        if self._pinned is not None:
            return self._pinned.get(name)
        return self.manifest.entry(name)

    def read_snapshot(self, version: int | None = None):
        """Pin a committed snapshot for every read on this thread until
        exit — one logical operation (a search: stats + term_stats +
        postings + chunks) resolves a single manifest version even if a
        writer commits mid-flight. ``version`` pins a PAST snapshot from
        the manifest history (time travel, the Iceberg snapshot-id read;
        valid until :meth:`gc` reclaims that generation's files).
        Re-entrant: an outer pin wins, so nested service calls stay on
        one snapshot."""
        import contextlib

        @contextlib.contextmanager
        def _pin():
            if self._pinned is not None:
                yield self
                return
            state = (
                self.manifest.load()
                if version is None
                else self.manifest.load_version(version)
            )
            self._pinned = state["tables"]
            try:
                yield self
            finally:
                self._pinned = None

        return _pin()

    def _legacy_exists(self, name: str) -> bool:
        p = Path(self.path(name))
        if not p.exists():
            return False
        if any(p.glob("*.parquet")) or any(p.glob("_SUCCESS")):
            return True
        # partitioned/staged legacy layouts (term_bucket=*/, shard=*/) —
        # generation dirs (g-*) are manifest-owned, never legacy data
        return any(
            d.is_dir() and not d.name.startswith("g-") and any(d.glob("*.parquet"))
            for d in p.iterdir()
        )

    def exists(self, name: str) -> bool:
        e = self._entry(name)
        if e is not None:
            return bool(e.get("dirs") or e.get("partitions"))
        return self._legacy_exists(name)

    def data_dirs(self, name: str) -> list[Path]:
        """Absolute directories composing the table's current snapshot."""
        e = self._entry(name)
        if e is None:
            p = Path(self.path(name))
            return [p] if p.exists() else []
        root = Path(self.root)
        if "partitions" in e:
            return [root / d for dirs in e["partitions"].values() for d in dirs]
        return [root / d for d in e.get("dirs", [])]

    def data_files(self, name: str) -> list[Path]:
        """Every parquet file in the table's current snapshot (sorted for
        deterministic iteration), resolved via the manifest. The legacy
        fallback enumerates only non-generation paths: an IN-FLIGHT
        (uncommitted) generation under the same table dir must stay
        invisible to concurrent readers."""
        e = self._entry(name)
        if e is not None:
            out: list[Path] = []
            for d in self.data_dirs(name):
                out.extend(_snapshot_dir_files(d))
            return sorted(out)
        p = Path(self.path(name))
        if not p.exists():
            return []
        out = list(p.glob("*.parquet"))
        for d in p.iterdir():
            if d.is_dir() and not d.name.startswith(("g-", "_")):
                out.extend(f for f in d.rglob("*.parquet") if "_temporary" not in f.parts)
        return sorted(out)

    def _adopt_legacy(self, name: str, partitioned: bool = False) -> None:
        """Record a legacy flat-layout table in the manifest BEFORE its
        first generation write begins, so concurrent readers resolve the
        committed entry and can never glob an in-flight generation dir.
        Pure bookkeeping of what is already on disk — safe to commit
        immediately even mid-transaction."""
        if self._entry(name) is not None or not self._legacy_exists(name):
            return
        if partitioned:
            entry: dict = {
                "partition_col": "term_bucket",
                "partitions": self._partitions_for_update(name),
            }
        else:
            entry = {"dirs": [name]}
        self.manifest.commit({name: entry})

    def partition_files(self, name: str, values: set[int] | list[int]) -> list[Path]:
        """Parquet files for specific bucket partitions — manifest-level
        partition pruning (the Iceberg manifest-file prune): unreferenced
        buckets are never even enumerated."""
        e = self._entry(name)
        out: list[Path] = []
        if e is None:
            root = Path(self.path(name))
            for b in sorted(values):
                out.extend(sorted((root / f"term_bucket={b}").glob("*.parquet")))
            return out
        parts = e.get("partitions", {})
        for b in sorted(values):
            for d in parts.get(str(b), []):
                out.extend(_snapshot_dir_files(Path(self.root) / d))
        return out

    def _new_gen_dir(self, name: str) -> Path:
        p = Path(self.root) / name / f"g-{uuid.uuid4().hex[:12]}"
        # register as in-flight process-wide so a concurrent gc (e.g. a
        # maintenance call racing a background auto-reindex thread) never
        # deletes a generation that is still being written but not yet
        # published; cleared when the owning commit/abort resolves
        with _INFLIGHT_GUARD:
            _INFLIGHT_GENS.add(str(p.absolute()))
        gens = getattr(self._tl, "gens", None)
        if gens is None:
            gens = self._tl.gens = []
        gens.append(str(p.absolute()))
        return p

    def _release_gens(self) -> None:
        gens = getattr(self._tl, "gens", None)
        if gens:
            with _INFLIGHT_GUARD:
                _INFLIGHT_GENS.difference_update(gens)
            gens.clear()

    def _rel(self, p: Path) -> str:
        return str(p.relative_to(self.root))

    def _stage(self, name: str, entry: dict) -> None:
        """Record a table's new entry: buffered when inside a
        :meth:`transaction`, otherwise committed immediately (a
        single-table commit is still one atomic pointer swap)."""
        if self._pending is not None:
            self._pending[name] = entry
        else:
            self.manifest.commit({name: entry})
            self._release_gens()

    def transaction(self):
        """Context manager: every store mutation inside it stages
        generation dirs + entries, then ONE manifest commit publishes all
        of them atomically. Same-store readers observe staged state (the
        apply pipeline reads its own writes); external readers see the
        old snapshot until the swap. On error nothing is published — the
        orphan generation dirs are reclaimed by :meth:`gc`."""
        import contextlib

        @contextlib.contextmanager
        def _txn():
            if self._pending is not None:
                raise RuntimeError("nested IndexStore.transaction")
            self._pending = {}
            try:
                yield self
                staged = self._pending
                self._pending = None
                if staged:
                    self.manifest.commit(staged)
            finally:
                self._pending = None
                self._release_gens()

        return _txn()

    def _plain_dirs_for_update(self, name: str) -> list[str]:
        e = self._entry(name)
        if e is not None:
            return list(e.get("dirs", []))
        return [name] if self._legacy_exists(name) else []

    def _partitions_for_update(self, name: str) -> dict[str, list[str]]:
        e = self._entry(name)
        if e is not None:
            return {k: list(v) for k, v in e.get("partitions", {}).items()}
        out: dict[str, list[str]] = {}
        root = Path(self.path(name))
        if root.exists():
            for d in sorted(root.glob("term_bucket=*")):
                if any(d.glob("*.parquet")):
                    out[d.name.split("=", 1)[1]] = [self._rel(d)]
        return out

    def _gen_partition_leaves(self, gen: Path) -> dict[str, list[str]]:
        return {
            d.name.split("=", 1)[1]: [self._rel(d)]
            for d in sorted(gen.glob("term_bucket=*"))
            if any(d.glob("*.parquet"))
        }

    def drop_table(self, name: str) -> None:
        """Snapshot-level drop: the entry becomes explicitly empty; the
        old generation files stay on disk for in-flight readers until
        :meth:`gc` (never an inline rmtree)."""
        self._stage(name, {"dirs": []})

    def sync_iceberg(self, warehouse: str | None = None) -> dict:
        """Advance the REAL Iceberg v2 mirror (sources/iceberg.py) to
        the store's current snapshot. Idempotent via a per-table store-
        version cursor in Iceberg table properties, so this doubles as
        crash catch-up: a commit that landed in the store but missed
        its mirror heals on the next call. Returns a summary
        {table: {snapshots, live_files, version}}."""
        from .iceberg import mirror_store_history

        wh = warehouse or str(Path(self.root) / "_iceberg")
        writers = mirror_store_history(self.root, wh)
        return {
            name: {
                "version": w.version,
                "snapshots": len(w.metadata["snapshots"]),
                # summary arithmetic, not a manifest walk: the per-sync
                # report must stay O(delta) like the commits themselves
                "live_files": w.live_file_count(),
            }
            for name, w in writers.items()
        }

    def gc(self, min_age_sec: float = 0.0) -> dict:
        """Reclaim ``g-*`` generation dirs (and stale partition leaves
        inside them) that the CURRENT manifest no longer references, plus
        old history files. Scope note: pre-manifest FLAT files under a
        table root (an adopted legacy index later superseded by
        generations) are intentionally NOT collected — several non-
        manifest tables (metadata_kv, lineage, tf_stage scratch) are
        read straight off the directory, so a flat-file sweep could eat
        live data; reclaim adopted-legacy remnants manually if the
        one-time migration residue matters.
        Run out-of-band, after in-flight readers of prior snapshots are
        done — the snapshot-retention knob of a real table format.

        Generations still being written by a sibling THREAD (background
        auto-reindex) are tracked process-wide and skipped. A writer in
        another PROCESS is invisible here — pass ``min_age_sec`` (dir
        mtime retention age) when other drivers may be mid-commit, the
        same young-snapshot guard a real table format's
        expire-snapshots uses."""
        import shutil
        import time

        if self._pending is not None:
            raise RuntimeError("gc inside a transaction")
        # ORDER MATTERS: snapshot in-flight gens BEFORE reading the
        # manifest. A gen that commits and releases between the two reads
        # is then visible in the (later) manifest read; the reverse order
        # would miss it in both sets and delete a just-committed gen.
        with _INFLIGHT_GUARD:
            inflight = set(_INFLIGHT_GENS)
        referenced = self.manifest.referenced_dirs()
        if not self.manifest.exists():
            return {"removed": 0}
        now = time.time()
        removed = 0
        root = Path(self.root)
        for table_dir in root.iterdir():
            if not table_dir.is_dir() or table_dir.name.startswith("_"):
                continue
            for gen in table_dir.glob("g-*"):
                rel = self._rel(gen)
                if rel in referenced:
                    continue
                if str(gen.absolute()) in inflight:
                    continue
                if min_age_sec > 0:
                    try:
                        if now - gen.stat().st_mtime < min_age_sec:
                            continue
                    except OSError:
                        continue
                leaves = [d for d in gen.glob("*=*") if d.is_dir()]
                if leaves:
                    kept_any = False
                    for leaf in leaves:
                        if self._rel(leaf) in referenced:
                            kept_any = True
                        else:
                            shutil.rmtree(leaf, ignore_errors=True)
                            removed += 1
                    if not kept_any:
                        shutil.rmtree(gen, ignore_errors=True)
                else:
                    shutil.rmtree(gen, ignore_errors=True)
                    removed += 1
        hist = sorted((root / "_manifests").glob("v*.json"))
        for f in hist[:-10]:
            f.unlink(missing_ok=True)
        return {"removed": removed}

    # --- writers (all snapshot commits: new generation dir + pointer) ---

    def _commit_plain(self, name: str, gen: Path, mode: str) -> None:
        rel = self._rel(gen)
        if mode != "append":
            self._stage(name, {"dirs": [rel]})
            return
        if self._pending is not None:
            # transaction path: single-writer per store by contract; the
            # merge base is the staged view this thread is building
            self._stage(name, {"dirs": self._plain_dirs_for_update(name) + [rel]})
            return

        # immediate append = read-modify-write of the dir list: like the
        # partitioned path, the merge must run INSIDE the manifest's
        # critical section, or two concurrent appenders (a streaming
        # apply + a maintenance script) both read the same base and the
        # second commit silently drops the first's generation
        def _mut(state: dict) -> dict:
            e = state.get("tables", {}).get(name)
            if e is not None:
                base = list(e.get("dirs", []))
            else:
                base = [name] if self._legacy_exists(name) else []
            return {name: {"dirs": base + [rel]}}

        self.manifest.commit_with(_mut)
        self._release_gens()

    def _commit_partitioned(
        self, name: str, gen: Path, mode: str = "dynamic", expected_parts=None
    ) -> None:
        """Publish a partitioned generation. ``dynamic`` = dynamic
        partition overwrite (partitions present in the gen replace their
        old dirs; ``expected_parts`` that came out EMPTY vanish from the
        map — no rmtree of stale partition dirs); ``append`` = per-bucket
        union; ``full`` = whole-table replacement."""
        found = self._gen_partition_leaves(gen)

        def _merged(base: dict[str, list[str]]) -> dict:
            parts = {k: list(v) for k, v in base.items()}
            if mode == "append":
                for v, ds in found.items():
                    parts[v] = parts.get(v, []) + ds
            else:
                for v in expected_parts or []:
                    parts.pop(str(int(v)), None)
                parts.update(found)
            return {"partition_col": "term_bucket", "partitions": parts}

        if mode == "full":
            self._stage(name, {"partition_col": "term_bucket", "partitions": found})
        elif self._pending is not None:
            # transaction path: single-writer per store by contract; the
            # merge base is the staged view this thread is building
            self._stage(name, _merged(self._partitions_for_update(name)))
        else:
            # immediate commit = read-modify-write of the partition map:
            # the merge runs INSIDE the manifest's critical section so
            # concurrent committers of disjoint partitions (the build's
            # parallel posting shards) never lose each other's buckets
            def _mut(state: dict) -> dict:
                e = state.get("tables", {}).get(name)
                base = (
                    {k: list(v) for k, v in e.get("partitions", {}).items()}
                    if e is not None
                    else self._partitions_for_update(name)
                )
                return {name: _merged(base)}

            self.manifest.commit_with(_mut)
            self._release_gens()

    @_releases_gens_on_error
    def write_chunks(self, df: DataFrame, ordered: bool = False, extra_cols: tuple[str, ...] = ()) -> None:
        """``ordered=True``: the frame is already globally ordered by
        doc_ord (build plan) — write as-is, row-group stats stay tight
        without paying another range shuffle. ``extra_cols`` (e.g. carried
        catalog metadata) are written too; schema-projected readers
        (:meth:`chunks`) prune them for free."""
        self._adopt_legacy("chunks")
        out = df.select([f.name for f in CHUNKS_SCHEMA.fields] + list(extra_cols))
        if not ordered:
            out = out.repartitionByRange(
                max(1, self.n_term_buckets // 2), "doc_ord"
            ).sortWithinPartitions("doc_ord")
        gen = self._new_gen_dir("chunks")
        out.write.option("parquet.block.size", str(CHUNKS_ROW_GROUP_BYTES)).parquet(str(gen))
        self._commit_plain("chunks", gen, "overwrite")

    @_releases_gens_on_error
    def append_chunks(self, df: DataFrame) -> None:
        """Append a sorted batch as a new generation (incremental runs:
        appended doc_ords sit above every existing ordinal, so row-group
        pruning semantics are preserved per generation)."""
        self._adopt_legacy("chunks")
        gen = self._new_gen_dir("chunks")
        df.write.option("parquet.block.size", str(CHUNKS_ROW_GROUP_BYTES)).parquet(str(gen))
        self._commit_plain("chunks", gen, "append")

    @_releases_gens_on_error
    def write_postings(
        self, df: DataFrame, mode: str = "overwrite", expected_parts=None
    ) -> None:
        """Persist encoded block rows partitioned by term bucket.

        ``encode_postings`` emits rows already clustered AND sorted by
        ``term_bucket`` (its shuffle key is a function of the bucket), so
        the normal path writes them straight through — no second shuffle
        of the encoded index bytes. Rows lacking the column (hand-built
        test frames) fall back to bucketing + clustering here.
        """
        if "term_bucket" not in df.columns:
            df = (
                df.withColumn(
                    "term_bucket",
                    F.pmod(F.xxhash64("term"), F.lit(self.n_term_buckets)).cast("int"),
                )
                .repartition(self.n_term_buckets, "term_bucket")
                .sortWithinPartitions("term_bucket", "term", "salt", "block_seq")
            )
        self._adopt_legacy("postings", partitioned=True)
        gen = self._new_gen_dir("postings")
        df.write.option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES)).partitionBy(
            "term_bucket"
        ).parquet(str(gen))
        self._commit_partitioned(
            "postings",
            gen,
            mode if mode in ("append", "full") else "dynamic",
            expected_parts=expected_parts,
        )

    @_releases_gens_on_error
    def overwrite_posting_buckets(self, df: DataFrame, affected: list[int]) -> None:
        """Compaction commit: replace exactly the ``affected`` bucket
        partitions with the gen's contents (buckets rewritten to empty
        disappear from the snapshot — files of untouched buckets are not
        rewritten, not even touched)."""
        self._adopt_legacy("postings", partitioned=True)
        gen = self._new_gen_dir("postings")
        df.write.option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES)).partitionBy(
            "term_bucket"
        ).parquet(str(gen))
        self._commit_partitioned("postings", gen, "dynamic", expected_parts=affected)

    @_releases_gens_on_error
    def write_small(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        self._adopt_legacy(name)
        gen = self._new_gen_dir(name)
        df.coalesce(1).write.parquet(str(gen))
        self._commit_plain(name, gen, mode)

    @_releases_gens_on_error
    def write_corpus_stats(self, n_docs: int, total_tokens: int, avgdl: float) -> None:
        """One-row table: write driver-side via pyarrow — a Spark job for
        one row costs ~0.5-1s of scheduler/committer overhead per build.
        (Iceberg target: a snapshot-properties or stats-table append.)"""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self._adopt_legacy("corpus_stats")
        gen = self._new_gen_dir("corpus_stats")
        gen.mkdir(parents=True, exist_ok=True)
        table = pa.table(
            {
                "n_docs": pa.array([n_docs], pa.int64()),
                "total_tokens": pa.array([total_tokens], pa.int64()),
                "avgdl": pa.array([avgdl], pa.float64()),
            }
        )
        pq.write_table(table, gen / "part-0.parquet")
        self._commit_plain("corpus_stats", gen, "overwrite")

    @_releases_gens_on_error
    def write_term_stats(
        self, df: DataFrame, full: bool = True, expected_parts=None
    ) -> None:
        """``full=True``: whole-table snapshot (build / vacuum).
        ``full=False``: dynamic partition merge — only the buckets present
        in ``df`` change; ``expected_parts`` merged-to-empty vanish."""
        self._adopt_legacy("term_stats", partitioned=True)
        with_bucket = df.withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(self.n_term_buckets))
        )
        gen = self._new_gen_dir("term_stats")
        (
            with_bucket.repartition(max(1, self.n_term_buckets // 4), "term_bucket")
            .sortWithinPartitions("term")
            .write.option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES))
            .partitionBy("term_bucket")
            .parquet(str(gen))
        )
        self._commit_partitioned(
            "term_stats", gen, "full" if full else "dynamic", expected_parts=expected_parts
        )

    @_releases_gens_on_error
    def write_embeddings(self, df: DataFrame, ordered: bool = False, mode: str = "overwrite") -> None:
        out = df.select([f.name for f in EMBEDDINGS_SCHEMA.fields])
        if not ordered:
            out = out.repartitionByRange(
                max(1, self.n_term_buckets // 2), "doc_ord"
            ).sortWithinPartitions("doc_ord")
        # packed L2-normalized float32 is ~incompressible; snappy would
        # only burn encode CPU on the build's second-biggest write
        self._adopt_legacy("embeddings")
        gen = self._new_gen_dir("embeddings")
        out.write.option("compression", "uncompressed").parquet(str(gen))
        self._commit_plain("embeddings", gen, mode)

    # --- driver-side metadata reads (no Spark job) ---

    def count_rows(self, name: str) -> int:
        """Row count from parquet footers only — the Iceberg analog is a
        snapshot's row-count summary."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in self.data_files(name))

    def max_column(self, name: str, col: str) -> int | None:
        """Column max from parquet row-group statistics only (no data
        read, no Spark job) — the Iceberg analog is a column-stats read
        from the manifest. Returns None if the table is empty or any row
        group lacks statistics (caller falls back to an agg job)."""
        import pyarrow.parquet as pq

        best: int | None = None
        for f in self.data_files(name):
            md = pq.ParquetFile(f).metadata
            try:
                ci = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            except ValueError:
                return None
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(ci).statistics
                if stats is None or not stats.has_min_max:
                    return None
                v = stats.max
                best = v if best is None else max(best, v)
        return best

    def sum_column(
        self, name: str, col: str, exclude_prefix_markers: bool = False
    ) -> int:
        """Driver-side column sum for small tables (e.g. term_stats.cf).
        On Iceberg this is a stats/metadata-table read or a tiny agg job.
        ``exclude_prefix_markers`` drops synthetic '\x01'-prefixed rows
        (operators/prefix.py) — corpus stats must count real tokens only.
        """
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        total = 0
        for f in self.data_files(name):
            cols = [col] + (["term"] if exclude_prefix_markers else [])
            t = pq.read_table(f, columns=cols)
            if exclude_prefix_markers:
                t = t.filter(
                    pc.invert(pc.starts_with(t.column("term"), "\x01"))
                )
            s = t.column(0).to_pandas().sum()
            total += int(s) if s == s else 0  # NaN-safe on empty files
        return total

    def column_bytes(self, name: str, cols: list[str]) -> int | None:
        """UNCOMPRESSED bytes of exactly ``cols`` across the table's
        snapshot, from parquet footers only (no data read, no Spark job) —
        the Iceberg analog is a manifest column-sizes read. Uncompressed,
        not compressed: callers route driver-side aggregation on this
        number, and dictionary+snappy on repetitive term strings easily
        compresses 4-8× — a compressed-bytes threshold would admit inputs
        that decode to several times the budget on the driver heap.
        Returns None if the table is missing or any requested column is
        absent from any file (caller falls back to the distributed
        plan)."""
        import pyarrow.parquet as pq

        files = self.data_files(name)
        if not files:
            return None
        total = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            try:
                idx = [names[c] for c in cols]
            except KeyError:
                return None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                total += sum(g.column(i).total_uncompressed_size for i in idx)
        return total

    @_releases_gens_on_error
    def write_term_stats_arrow(self, table) -> None:
        """Driver-side twin of :meth:`write_term_stats` (full snapshot)
        for metadata-sized stats: identical hive layout (``term_bucket=N``
        dirs, rows term-sorted so row-group min/max stats prune, bounded
        row groups) through the same manifest commit — no Spark job, so
        the build's stats stage stops paying ~1s of fixed scheduler cost
        (a pure Amdahl serial fraction at high parallelism). ``table`` is
        an Arrow table with columns (term, df_docs, cf)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self._adopt_legacy("term_stats", partitioned=True)
        gen = self._new_gen_dir("term_stats")
        table = table.select(["term", "df_docs", "cf"]).cast(
            pa.schema(
                [("term", pa.string()), ("df_docs", pa.int64()), ("cf", pa.int64())]
            )
        )
        buckets = pa.array(
            [term_bucket(t, self.n_term_buckets) for t in table.column("term").to_pylist()],
            pa.int32(),
        )
        table = table.append_column("term_bucket", buckets)
        for b in sorted(pc.unique(buckets).to_pylist()):
            part = table.filter(pc.equal(table.column("term_bucket"), b))
            part = part.sort_by("term").drop_columns(["term_bucket"])
            d = gen / f"term_bucket={int(b)}"
            d.mkdir(parents=True, exist_ok=True)
            # ~256k rows ≈ a few MB — same bounded-row-group contract as
            # the Spark writer (POSTINGS_ROW_GROUP_BYTES)
            pq.write_table(part, d / "part-0.parquet", row_group_size=262144)
        self._commit_partitioned("term_stats", gen, "full")

    @_releases_gens_on_error
    def write_small_arrow(self, table, name: str, mode: str = "overwrite") -> None:
        """Driver-side twin of :meth:`write_small` — one parquet file per
        generation, same manifest commit, no Spark job."""
        import pyarrow.parquet as pq

        self._adopt_legacy(name)
        gen = self._new_gen_dir(name)
        gen.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, gen / "part-0.parquet")
        self._commit_plain(name, gen, mode)

    def append_lineage(self, rows: list[dict]) -> None:
        """Lineage rows are driver-side metadata (a handful of rows per
        build): write them as JSONL directly — a full Spark write job for
        one row costs seconds of fixed overhead. On Iceberg this is a
        metadata-table append; the seam keeps that swap local."""
        lineage_dir = Path(self.path("lineage"))
        lineage_dir.mkdir(parents=True, exist_ok=True)
        payload = []
        for r in rows:
            r = dict(r)
            ts = r.get("finished_at")
            if ts is not None and not isinstance(ts, str):
                r["finished_at"] = ts.isoformat()
            payload.append(json.dumps(r))
        fname = f"lineage-{uuid.uuid4().hex}.jsonl"
        tmp = lineage_dir / (fname + ".tmp")
        tmp.write_text("\n".join(payload) + "\n", encoding="utf-8")
        tmp.rename(lineage_dir / fname)

    def read_lineage_rows(self) -> list[dict]:
        lineage_dir = Path(self.path("lineage"))
        out: list[dict] = []
        if not lineage_dir.exists():
            return out
        for f in sorted(lineage_dir.glob("lineage-*.jsonl")):
            for line in f.read_text(encoding="utf-8").splitlines():
                if line.strip():
                    out.append(json.loads(line))
        # file names are uuid-random — return rows in event order so a
        # lifecycle read (started → completed) is chronological
        out.sort(key=lambda r: (r.get("finished_at") or ""))
        return out

    # --- readers (resolve the current snapshot via the manifest) ---

    def _read_plain(self, name: str, schema: T.StructType | None = None) -> DataFrame:
        e = self._entry(name)
        reader = self.spark.read.schema(schema) if schema is not None else self.spark.read
        if e is None:
            return reader.parquet(self.path(name))  # legacy flat layout
        # explicit FILE list, not dirs: an adopted legacy entry points at
        # the table root, which may contain in-flight generation subdirs
        # that must stay invisible (data_files excludes them)
        files = [str(f) for f in self.data_files(name)]
        if not files:
            if schema is None:
                raise FileNotFoundError(f"table {name!r} is empty and has no schema")
            return self.spark.createDataFrame([], schema=schema)
        return reader.parquet(*files)

    def _read_partitioned(
        self, name: str, empty_schema: T.StructType, part_values: set[int] | None = None
    ) -> DataFrame:
        """Union of the snapshot's generation scans. One generation (the
        common post-build state) = one scan, the same plan as a flat
        partitioned read; each scan keeps partition-dir discovery via its
        own basePath so partition pruning still pushes down.
        ``part_values`` prunes at the MANIFEST level — unreferenced
        buckets never reach the scan at all (Iceberg manifest pruning)."""
        e = self._entry(name)
        if e is None:
            return self.spark.read.parquet(self.path(name))  # legacy flat layout
        groups: dict[str, list[str]] = {}
        for v, ds in e.get("partitions", {}).items():
            if part_values is not None and int(v) not in part_values:
                continue
            for d in ds:
                leaf = Path(self.root) / d
                groups.setdefault(str(leaf.parent), []).append(str(leaf))
        if not groups:
            return self.spark.createDataFrame([], schema=empty_schema)
        dfs = [
            self.spark.read.option("basePath", base).parquet(*sorted(leafs))
            for base, leafs in sorted(groups.items())
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def chunks(self) -> DataFrame:
        return self._read_plain("chunks", CHUNKS_SCHEMA)

    def chunks_raw(self) -> DataFrame:
        """The staged chunk table with every carried column (catalog
        metadata riders included) — schema inferred."""
        return self._read_plain("chunks", None)

    def postings(self) -> DataFrame:
        return self._read_partitioned("postings", POSTINGS_BUCKETED_SCHEMA)

    def postings_for_terms(self, terms: list[str]) -> DataFrame:
        """Bucket + term filter: buckets prune at the manifest level AND
        in each scan; the term filter pushes into parquet row groups."""
        if not terms:
            return self.postings().limit(0)
        buckets = sorted({term_bucket(t, self.n_term_buckets) for t in terms})
        return self._read_partitioned(
            "postings", POSTINGS_BUCKETED_SCHEMA, part_values=set(buckets)
        ).filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))

    def term_stats(self) -> DataFrame:
        return self._read_partitioned("term_stats", TERM_STATS_BUCKETED_SCHEMA)

    def corpus_stats(self) -> dict:
        import pyarrow.parquet as pq

        files = self.data_files("corpus_stats")
        table = pq.read_table(files[0])
        row = table.to_pylist()[0]
        return {
            "n_docs": int(row["n_docs"]),
            "total_tokens": int(row["total_tokens"]),
            "avgdl": float(row["avgdl"]),
        }

    def embeddings(self) -> DataFrame:
        return self._read_plain("embeddings", EMBEDDINGS_SCHEMA)

    def catalog(self) -> DataFrame:
        return self._read_plain("catalog", CATALOG_SCHEMA)

    def lineage(self) -> DataFrame:
        rows = self.read_lineage_rows()
        data = [
            (
                r.get("build_id"),
                r.get("stage"),
                r.get("status"),
                r.get("rows"),
                r.get("bytes"),
                r.get("detail"),
                r.get("source_fp"),
                datetime.datetime.fromisoformat(r["finished_at"]) if r.get("finished_at") else None,
            )
            for r in rows
        ]
        return self.spark.createDataFrame(data, schema=LINEAGE_SCHEMA)

    def tombstones(self) -> DataFrame:
        """doc_ords dead but still present in *postings* (queries must
        anti-join). Cleared by compaction, which physically removes them
        from the posting blocks and moves the ords to ``purged``."""
        if not self.exists("tombstones"):
            return self.spark.createDataFrame([], schema=TOMBSTONES_SCHEMA)
        return self._read_plain("tombstones", TOMBSTONES_SCHEMA)

    def purged(self) -> DataFrame:
        """doc_ords physically removed from postings by compaction but
        whose rows still sit in the chunks/embeddings files (row-group
        filtered at read time instead of copied — the O(delta) compaction
        contract). Cleared by :func:`plans.incremental.vacuum`."""
        if not self.exists("purged"):
            return self.spark.createDataFrame([], schema=TOMBSTONES_SCHEMA)
        return self._read_plain("purged", TOMBSTONES_SCHEMA)

    def dead_ords(self) -> DataFrame:
        """tombstoned ∪ purged — everything chunk/embedding readers must
        exclude. The set is delta-sized between vacuums; broadcast it."""
        return self.tombstones().unionByName(self.purged()).distinct()

    def live_chunks(self) -> DataFrame:
        return self.chunks().join(F.broadcast(self.dead_ords()), on="doc_ord", how="left_anti")

    def live_embeddings(self) -> DataFrame:
        return self.embeddings().join(F.broadcast(self.dead_ords()), on="doc_ord", how="left_anti")

    # --- generic metadata KV (reference sqlite_store.py:99-119 A6) ---

    def _meta_next_seq(self) -> int:
        m = self.max_column("metadata_kv", "seq") if self.exists("metadata_kv") else None
        return (int(m) + 1) if m is not None else 0

    def meta_set(self, key: str, value: str) -> None:
        """Append-only upsert: one driver-side parquet row (a Spark write
        job for one row costs seconds of fixed overhead; on Iceberg this
        is a metadata-table append)."""
        self._meta_append(key, value, deleted=False)

    def meta_delete(self, key: str) -> None:
        self._meta_append(key, None, deleted=True)

    def _meta_append(self, key: str, value: str | None, deleted: bool) -> None:
        import contextlib
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            import fcntl
        except ImportError:  # pragma: no cover
            fcntl = None

        out = Path(self.path("metadata_kv"))
        out.mkdir(parents=True, exist_ok=True)

        @contextlib.contextmanager
        def _seq_lock():
            # seq allocation is a read-max-then-write: without a lock two
            # concurrent writers can claim the same seq and make
            # last-write-wins resolution glob-order-nondeterministic
            if fcntl is None:  # pragma: no cover
                yield
                return
            fd = os.open(out / ".kv.lock", os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        with _seq_lock():
            seq = self._meta_next_seq()
            table = pa.table(
                {
                    "key": pa.array([key], pa.string()),
                    "value": pa.array([value], pa.string()),
                    "seq": pa.array([seq], pa.int64()),
                    "deleted": pa.array([deleted], pa.bool_()),
                }
            )
            pq.write_table(table, out / f"part-{seq}-{uuid.uuid4().hex}.parquet")

    def meta_get(self, key: str) -> str | None:
        rows = [r for r in self._meta_rows() if r["key"] == key]
        if not rows:
            return None
        last = max(rows, key=lambda r: r["seq"])
        return None if last["deleted"] else last["value"]

    def _meta_rows(self) -> list[dict]:
        import pyarrow.parquet as pq

        p = Path(self.path("metadata_kv"))
        if not p.exists():
            return []
        out: list[dict] = []
        for f in sorted(p.glob("*.parquet")):
            out.extend(pq.read_table(f).to_pylist())
        return out

    def metadata(self) -> DataFrame:
        """Resolved KV state as a DataFrame (last-write-wins by seq,
        deletions dropped) — see :func:`operators.kv.resolve_kv`."""
        from rifflux_spark.operators.kv import resolve_kv

        if not self.exists("metadata_kv"):
            return self.spark.createDataFrame([], schema=METADATA_SCHEMA).select("key", "value")
        ops = self.spark.read.schema(METADATA_SCHEMA).parquet(self.path("metadata_kv"))
        return resolve_kv(ops)
