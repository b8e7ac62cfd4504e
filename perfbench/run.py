"""rifflux_spark benchmark harness.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, Spark at ``local[nproc]``,
one closed-loop client (each query is sent after the previous one
returns). Every run generates its inputs from ``--seed``, builds an index
with ``plans.build.build_index``, then times queries through
``SearchService.search`` for ``--seconds``. Workloads:

- ``ingest``: the write path at the larger corpus, then stopword-class
  (head-term) lexical and hybrid queries, whose cost is posting decode;
- ``search_mixed``: a small index and interactive traffic — selective
  lexical, hybrid, semantic, phrase and FTS boolean+prefix queries.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the same run is made with per-layer spans and Spark
job counts, followed by cold-cache passes, the kernels, the distributed
operators and ``plans.incremental.apply_incremental`` of the next crawl
snapshot, and carries the per-layer metrics. The line before it is the
run record (environment, corpus sizes, query classes, routes admitted).
Every timed query's output is checked (``checks.py``); a wrong or failed
operation counts in ``failed``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import Counter, defaultdict
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TOP_K = 10
# service opens per run, made in four batches spread over the run so
# that their median follows the host's load over the run, not one instant
SETUP_REPEATS = 4 * 26
COLD_COPIES = 5
KERNEL_SAMPLE_PAGES = 60

# query modes in the order the closed loop cycles through them
MIXED_CYCLE = ("lexical",) * 5 + ("hybrid", "hybrid", "semantic", "phrase", "fts")
HEAD_CYCLE = ("lexical", "lexical", "lexical", "hybrid")


@dataclass(frozen=True)
class Workload:
    pages: int
    cycle: tuple[str, ...]
    head: bool
    n_queries: int


WORKLOADS = {
    # ~26k chunks: the build is the timed write path; the embeddings
    # stay under the coordinator's byte budget, so head queries time the
    # coordinator's full posting decode. The size is capped by run time:
    # the session, inputs and build already take ~35 s of a run on a
    # loaded 4-core host
    "ingest": Workload(pages=2000, cycle=HEAD_CYCLE, head=True, n_queries=48),
    # ~13k chunks: vocabulary and embeddings fit the coordinator caches,
    # so every query takes the local path and no Spark job runs
    "search_mixed": Workload(pages=1000, cycle=MIXED_CYCLE, head=False, n_queries=80),
}


def _config():
    from rifflux_spark.config import EngineConfig

    # bench.py's headline layout; retrieval knobs stay at their defaults
    return EngineConfig(block_size=128, salt_range=1 << 14, n_term_buckets=32,
                        n_build_shards=2, embedding_dim=384)


def _isolate(work: Path) -> None:
    """Point every temp and scratch directory of this run into ``work``."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _session(nproc: int, work: Path):
    from rifflux_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [p for p in Path(path).rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), sum(p.suffix == ".parquet" for p in files)


def _table_rows(store, name: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in store.data_files(name))


def _status_mb(field: str) -> float:
    for line in Path("/proc/self/status").read_text().splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1]) / 1024
    raise KeyError(field)


def _reset_peak_rss() -> float:
    """Hand free heap back to the OS, reset the kernel's peak-RSS mark
    (``VmHWM``) to the current RSS and return that RSS in MB: the
    baseline the serving peak is measured above."""
    gc.collect()
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    Path("/proc/self/clear_refs").write_text("5")
    return _status_mb("VmRSS")


def _tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ≥10 samples
    beyond it; with fewer than 11 samples, the maximum."""
    s = sorted(lat)
    if len(s) < 11:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


class Ledger:
    """Operations attempted and failed, with the reasons for failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def op(self, problem: str | None, n: int = 1) -> None:
        self.attempted += n
        if problem:
            self.failed += n
            self.reasons.append(problem)


class Loop:
    """The closed-loop client: one query at a time, each result kept the
    first time its query runs and compared on every repeat."""

    def __init__(self, svc, queries) -> None:
        self.svc, self.queries = svc, queries
        self.first: dict[int, list] = {}
        self.runs: Counter = Counter()
        self.errors: dict[int, str] = {}
        self.lat: list[float] = []
        self.lat_by_mode: dict[str, list[float]] = defaultdict(list)

    def one(self, i: int, tracer=None) -> None:
        key = i % len(self.queries)
        q = self.queries[key]
        span = tracer.query(q.mode) if tracer is not None else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                rows = self.svc.search(q.text, top_k=TOP_K, mode=q.mode)
        except Exception as e:  # a failed query is counted, not fatal
            rows, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        self.lat.append(dt)
        self.lat_by_mode[q.mode].append(dt)
        self.runs[key] += 1
        if rows is None:
            self.errors.setdefault(key, err)
        elif key not in self.first:
            self.first[key] = rows
        elif _digest(rows) != _digest(self.first[key]):
            self.errors.setdefault(key, "result differs between repeats")

    def for_seconds(self, seconds: float) -> float:
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < seconds:
            self.one(i)
            i += 1
        return time.perf_counter() - start


def _digest(rows: list[dict]) -> list:
    return [(r["chunk_id"], tuple(sorted(r["score_breakdown"].items()))) for r in rows]


def _check_loop(loop: Loop, checker, ledger: Ledger) -> dict:
    """Every distinct query that ran is checked once; all of its runs
    count as failed when its result is wrong or it ever failed."""
    wrong = dict(loop.errors)
    for key, rows in loop.first.items():
        if key not in wrong:
            problem = checker.check(loop.queries[key], rows)
            if problem:
                wrong[key] = problem
    for key, n in loop.runs.items():
        q = loop.queries[key]
        ledger.op(f"{q.mode} {q.text!r}: {wrong[key]}" if key in wrong else None, n)
    return {"distinct_checked": len(loop.first), "distinct_wrong": len(wrong)}


def _kernels(seed: int, n_pages: int, config) -> dict[str, float]:
    """Single-process kernel µs per page over a seeded page sample."""
    import random

    import pandas as pd

    from rifflux_spark.functions.chunker import chunk_markdown
    from rifflux_spark.functions.embedder import embed_series_packed
    from rifflux_spark.functions.tokenizer import tokenize_series
    from rifflux_spark.sources.pages import make_page_text

    from corpus import PAGE_SCALE

    rng = random.Random(seed)
    ids = rng.sample(range(n_pages), min(KERNEL_SAMPLE_PAGES, n_pages))
    texts = [(f"https://perfbench.example.com/page/{i}", make_page_text(i, seed, PAGE_SCALE)) for i in ids]
    times: dict[str, list[float]] = defaultdict(list)
    for _ in range(3):
        t0 = time.perf_counter()
        chunks = [c for url, t in texts for c in chunk_markdown(
            t, url, max_chunk_chars=config.max_chunk_chars, min_chunk_chars=config.min_chunk_chars)]
        t1 = time.perf_counter()
        tokenize_series(pd.Series([c.content for c in chunks]))
        tokenize_series(pd.Series([c.heading_path for c in chunks]))
        t2 = time.perf_counter()
        embed_series_packed(pd.Series([c.content for c in chunks]), dim=config.embedding_dim)
        t3 = time.perf_counter()
        times["chunk"].append(t1 - t0)
        times["tokenize"].append(t2 - t1)
        times["embed"].append(t3 - t2)
    return {k: statistics.median(v) / len(ids) * 1e6 for k, v in times.items()}


def _decode_ns_per_posting(store, queries) -> float:
    """Varbyte decode cost over the lexical queries' posting blocks."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rifflux_spark.functions.tokenizer import tokenize
    from rifflux_spark.operators.codec import decode_posting_arrow

    terms = sorted({t for q in queries if q.mode in ("lexical", "hybrid") for t in tokenize(q.text)})
    cols = ["term", "n_docs", "first_doc", "gaps", "tfs", "dls"]
    parts = []
    for f in store.data_files("postings"):
        t = pq.read_table(f, columns=cols)
        parts.append(t.filter(pc.is_in(t.column("term"), value_set=pa.array(terms))))
    blocks = pa.concat_tables(parts)
    n = int(pc.sum(blocks.column("n_docs")).as_py() or 0)
    times = []
    for _ in range(5):
        t0 = time.perf_counter_ns()
        decode_posting_arrow(blocks)
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times) / n if n else 0.0


def run(args, work: Path) -> tuple[dict, dict, Ledger]:
    import corpus
    import queries as Q
    import spans
    from checks import Checker, CosineOracle, ExactBm25, Fts5Oracle

    import pyarrow
    import pyspark
    from rifflux_spark.plans.build import build_index
    from rifflux_spark.plans.incremental import apply_incremental
    from rifflux_spark.service import SearchService
    from rifflux_spark.sources.tables import IndexStore

    wl = WORKLOADS[args.workload]
    cfg = _config()
    nproc = len(os.sched_getaffinity(0))
    ledger = Ledger()
    traced = bool(args.trace)

    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 3)
        mark[0] = now

    spark = _session(nproc, work)
    lap("session")
    try:
        sc = spark.sparkContext
        jobs = spans.JobCounter(sc)
        group = jobs.group if traced else (lambda label: contextlib.nullcontext())

        with group("inputs"):
            base = corpus.write_base(spark, wl.pages, args.seed, str(work), nproc, cfg)
        lap("inputs")

        idx = str(work / "index")
        with group("build"):
            t0 = time.perf_counter()
            built = build_index(spark, spark.read.parquet(base.path), idx, cfg)
            build_s = time.perf_counter() - t0
        index_bytes, data_files = _dir_bytes(idx)
        store = IndexStore(spark, idx)
        table_bytes = {
            name: sum(f.stat().st_size for f in store.data_files(name))
            for name in ("postings", "chunks", "embeddings", "term_stats")
        }
        n_postings = store.sum_column("term_stats", "df_docs")
        lap("build")

        setup: list[float] = []

        def open_service(n: int):
            for _ in range(n):
                t0 = time.perf_counter()
                svc = SearchService(spark, idx, cfg)
                setup.append(time.perf_counter() - t0)
            return svc

        with group("checks"):
            # a fresh build has no tombstones: its tables' row counts are
            # the live counts, read from the parquet footers
            rows = {name: _table_rows(store, name) for name in ("catalog", "chunks", "embeddings")}
            want = {"catalog": base.pages, "chunks": base.chunks, "embeddings": base.chunks}
            ledger.op(
                None if rows == want and built["n_chunks"] == base.chunks
                else f"build: table rows {rows}, n_chunks {built['n_chunks']}, expected {want}"
            )
            lap("build_check")
            open_service(SETUP_REPEATS // 4)
            ts = store.term_stats().select("term", "df_docs").toPandas()
            df = dict(zip(ts["term"].tolist(), ts["df_docs"].astype(int).tolist()))
            cstats = store.corpus_stats()
            n_live = base.chunks
            fts5 = None if wl.head else Fts5Oracle(store)
            cosine = CosineOracle(store, fts5.chunk_ids) if "semantic" in wl.cycle else None
            exact = ExactBm25(df, int(cstats["n_docs"]), float(cstats["avgdl"])) if wl.head else None
            lap("oracles")
            qs = Q.generate(
                df, n_live, wl.cycle, wl.n_queries, args.seed, TOP_K, wl.head,
                corpus=(args.seed, corpus.PAGE_SCALE, wl.pages),
                hits=fts5.hits if fts5 else None,
            )
        open_service(SETUP_REPEATS // 4)
        lap("queries")

        # everything the harness holds (oracles, query list, corpus facts)
        # is allocated by now, so the peak above this baseline is the
        # service's own: opening it, filling its caches and serving
        rss_base = _reset_peak_rss()
        # the harness's objects leave the collector's generations, so the
        # service's collections during the loop do not walk the oracles
        gc.freeze()
        svc = open_service(SETUP_REPEATS // 4)
        checker = Checker(svc, TOP_K, fts5=fts5, cosine=cosine, exact=exact)
        n_cold = min(len(qs), len(wl.cycle))
        warmup = Loop(svc, qs)
        for i in range(min(len(qs), 2 * n_cold)):
            warmup.one(i)
        loop = Loop(svc, qs)
        lap("setup_warm")
        layer: dict = {}
        if traced:
            elapsed, layer = _traced_passes(loop, svc, jobs, args.seconds, spans)
        else:
            elapsed = loop.for_seconds(args.seconds)
        serve_rss_mb = _status_mb("VmHWM") - rss_base
        gc.unfreeze()
        lap("loop")
        open_service(SETUP_REPEATS // 4)
        checked = _check_loop(loop, checker, ledger)
        if fts5 is not None:
            fts5.close()
        lap("checks")

        tail_s, tail_pct = _tail(loop.lat)
        embeddings_bytes = table_bytes["embeddings"]
        record = {
            "workload": args.workload,
            "env": {
                "nproc": nproc,
                "master": f"local[{nproc}]",
                "python": platform.python_version(),
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "loop": "closed",
                "clients": 1,
            },
            "corpus": {
                "pages": base.pages,
                "chunks_built": built["n_chunks"],
                "chunks_live": n_live,
                "text_bytes": base.text_bytes,
                "fingerprint": base.fingerprint,
                "index_bytes": index_bytes,
            },
            "routes": {
                "embeddings_bytes": embeddings_bytes,
                "local_exec_budget_bytes": SearchService.LOCAL_EXEC_BUDGET_BYTES,
                "semantic_route": "local" if embeddings_bytes <= SearchService.LOCAL_EXEC_BUDGET_BYTES else "spark",
                "max_query_sigma_df": max(q.sigma_df for q in qs),
                "local_exec_max_postings": SearchService.LOCAL_EXEC_MAX_POSTINGS,
                "lexical_budget_postings": cfg.lexical_budget_postings,
            },
            "queries": {
                "distinct": len(qs),
                "classes": dict(Counter(f"{q.mode}/{q.klass}" for q in qs)),
                "list": [[q.mode, q.klass, q.text, q.sigma_df] for q in qs],
            },
            "tail": {"percentile": tail_pct, "samples": len(loop.lat)},
            "p50_ms_by_mode": {m: statistics.median(v) * 1e3 for m, v in loop.lat_by_mode.items()},
            "build_stage_sec": built["stage_sec"],
            "checks": checked,
            "phase_s": phases,
        }
        e2e = {
            "setup_s": (statistics.median(setup), "s"),
            "build_pages_per_s": (base.pages / build_s, "pages/s"),
            "index_bytes_per_text_byte": (index_bytes / base.text_bytes, "B/B"),
            "query_p50_ms": (statistics.median(loop.lat) * 1e3, "ms"),
            "query_tail_ms": (tail_s * 1e3, "ms"),
            "qps": (len(loop.lat) / elapsed, "1/s"),
            "success_pct": (100.0 * (1 - ledger.failed / ledger.attempted), "%"),
            "serve_peak_rss_mb": (serve_rss_mb, "MB"),
        }
        if not traced:
            return e2e, record, ledger

        # one pass over the mode cycle on a service whose caches are
        # empty: each mode's first query fills that mode's caches. The
        # coordinator caches are keyed by file path, so every pass runs on
        # a fresh copy of the index, and the median pass is reported
        cold_ms = []
        for r in range(COLD_COPIES):
            copy = work / f"cold-{r}"
            shutil.copytree(idx, copy)
            cold = Loop(SearchService(spark, str(copy), cfg), qs)
            t0 = time.perf_counter()
            for i in range(n_cold):
                cold.one(i)
            cold_ms.append((time.perf_counter() - t0) * 1e3 / n_cold)
            for key in range(n_cold):
                if key in loop.first:
                    same = key in cold.first and _digest(cold.first[key]) == _digest(loop.first[key])
                    ledger.op(None if same else f"cold result of {qs[key].text!r} differs from warm")
            shutil.rmtree(copy)
        record["cold_ms_per_copy"] = cold_ms
        layer.update(_spark_topk(svc, qs, ledger) if wl.head else {
            # the distributed operators are not reached on this workload
            "operators.bm25.topk_spark_ms": (0.0, "ms"),
            "operators.semantic.topk_spark_ms": (0.0, "ms"),
        })
        lap("cold_spark")
        kernels = _kernels(args.seed, wl.pages, cfg)
        decode_ns = _decode_ns_per_posting(store, qs)
        lap("kernels")

        # the write path's second half: bring the index in line with the
        # next crawl, then check it against that crawl's page and chunk
        # counts and the apply's new/changed/deleted page counts
        nxt = corpus.write_next(spark, base, args.seed, str(work), nproc)
        lap("next_inputs")
        with group("apply"):
            t0 = time.perf_counter()
            applied = apply_incremental(spark, store, spark.read.parquet(nxt.path), cfg, full_snapshot=True)
            apply_s = time.perf_counter() - t0
        lap("apply")
        status = SearchService(spark, idx, cfg).index_status()
        next_chunks = corpus.expected_chunks(spark, nxt.path, cfg)
        want = {"files": nxt.pages, "chunks": next_chunks, "embeddings": next_chunks}
        want_counts = {"new": nxt.added, "changed": nxt.changed, "deleted": nxt.deleted}
        got_counts = {k: applied["counts"].get(k, 0) for k in want_counts}
        ledger.op(
            None if status == want and got_counts == want_counts
            else f"apply: index_status {status} counts {got_counts}, expected {want} {want_counts}"
        )
        record["apply"] = {"next_pages": nxt.pages, "next_chunks": next_chunks, "counts": applied["counts"]}
        lap("apply_check")

        stage = built["stage_sec"]
        chunk_s = stage.get("chunks_udf_write", 0.0)
        kernel_s = (kernels["chunk"] + kernels["tokenize"]) * base.pages / nproc / 1e6
        build_jobs, _ = jobs.count("build")
        apply_jobs, _ = jobs.count("apply")
        record["layers"] = layer.pop("_table")
        per_layer = {
            # a few seconds of cold passes follow the host's load too
            # closely to carry an end-to-end bound
            "service.cold_query_ms": (statistics.median(cold_ms), "ms"),
            **{f"plans.build.{s}_s": (float(stage.get(s, 0.0)), "s")
               for s in ("chunks_udf_write", "tf_stage", "embeddings", "term_stats", "catalog")},
            "plans.build.postings_s": (max((v for k, v in stage.items() if k.startswith("postings_")), default=0.0), "s"),
            "plans.build.chunks_nonkernel_s": (chunk_s - kernel_s, "s"),
            **{f"functions.{k}_us_per_page": (v, "us") for k, v in kernels.items()},
            **{f"sources.tables.{k}_bytes": (v, "B") for k, v in table_bytes.items()},
            "sources.tables.postings_bytes_per_posting": (table_bytes["postings"] / n_postings if n_postings else 0.0, "B"),
            "sources.tables.data_files": (data_files, "count"),
            "plans.incremental.apply_s": (apply_s, "s"),
            **{f"plans.incremental.rows_{k}": (applied["counts"].get(k, 0), "count") for k in ("new", "changed", "deleted")},
            "operators.codec.decode_ns_per_posting": (decode_ns, "ns"),
            "query.sigma_df_postings": (statistics.median(q.sigma_df for q in qs), "count"),
            "spark.build_jobs": (build_jobs, "count"),
            "spark.apply_jobs": (apply_jobs, "count"),
            **layer,
        }
        return per_layer, record, ledger
    finally:
        _stop(spark)


LAYER_METRICS = (
    "operators.local_exec.df_lookup",
    "operators.local_exec.lexical_topk",
    "operators.local_exec.rehydrate",
    "operators.local_exec.semantic_topk",
    "operators.phrase.topk_local",
    "operators.ftsquery.topk_local",
    "functions.embedder.query_embed",
    "operators.fusion.rrf",
)
MODES = ("lexical", "hybrid", "semantic", "phrase", "fts")


def _traced_passes(loop: Loop, svc, jobs, seconds: float, spans) -> tuple[float, dict]:
    """Alternate untraced and traced passes over one query sequence: the
    traced passes give the spans and per-query Spark jobs, and their wall
    time over the untraced passes' the tracing cost."""
    tracer = spans.Tracer(on_query=lambda qid: jobs.label(f"q{qid}"))
    untraced = traced = 0.0
    n = None
    for _ in range(2):
        start = time.perf_counter()
        if n is None:
            n = 0
            while time.perf_counter() - start < seconds / 4:
                loop.one(n)
                n += 1
        else:
            for i in range(n):
                loop.one(i)
        untraced += time.perf_counter() - start
        with spans.instrumented(tracer, svc):
            start = time.perf_counter()
            for i in range(n):
                loop.one(i, tracer)
            traced += time.perf_counter() - start
        jobs.label("untraced")
    summary = spans.summarize(tracer.spans)
    layers = summary["layers"]
    per_q = [jobs.count(f"q{i}") for i in range(1, tracer.n_queries + 1)]
    out = {
        f"{name}_ms": (statistics.median(layers[name]["self_ms"]) if name in layers else 0.0, "ms")
        for name in LAYER_METRICS
    }
    for mode in MODES:
        roots = [s[2] - s[1] for s in tracer.spans if s[0] == f"search.{mode}"]
        out[f"service.{mode}_p50_ms"] = (statistics.median(roots) / 1e6 if roots else 0.0, "ms")
    out["spark.jobs_per_query"] = (statistics.fmean(j for j, _ in per_q), "count")
    out["spark.tasks_per_query"] = (statistics.fmean(t for _, t in per_q), "count")
    out["service.local_route_frac"] = (sum(j == 0 for j, _ in per_q) / len(per_q), "frac")
    out["trace.overhead_frac"] = (traced / untraced - 1, "frac")
    out["trace.span_coverage_frac"] = (summary["coverage_frac"], "frac")
    out["_table"] = {
        name: {"calls": d["calls"], "self_ms_total": round(d["self_ms_total"], 3)}
        for name, d in sorted(layers.items())
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.write(out_dir / f"spans-{os.getpid()}.json")
    return untraced, out


def _spark_topk(svc, qs, ledger: Ledger) -> dict:
    """The distributed top-k operators on head queries (engine="spark"),
    each checked against the coordinator path's result."""
    from checks import compare, scored

    lex_ms, sem_ms = [], []
    for q in [q for q in qs if q.mode == "lexical"][:2]:
        t0 = time.perf_counter()
        spark_rows = svc.lexical(q.text, TOP_K, engine="spark")
        lex_ms.append((time.perf_counter() - t0) * 1e3)
        bad = compare(scored(spark_rows, "bm25"), scored(svc.lexical(q.text, TOP_K, engine="local"), "bm25"))
        ledger.op(f"spark lexical {q.text!r}: {bad}" if bad else None)
        vec = svc.embed_query(q.text)
        t0 = time.perf_counter()
        spark_rows = svc.semantic(vec, TOP_K, engine="spark")
        sem_ms.append((time.perf_counter() - t0) * 1e3)
        bad = compare(scored(spark_rows, "cosine"), scored(svc.semantic(vec, TOP_K, engine="local"), "cosine"), rel=1e-5)
        ledger.op(f"spark semantic {q.text!r}: {bad}" if bad else None)
    return {
        "operators.bm25.topk_spark_ms": (statistics.median(lex_ms), "ms"),
        "operators.semantic.topk_spark_ms": (statistics.median(sem_ms), "ms"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the cleanup below: stop Spark, wait for
    # its JVM, remove the scratch directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    if not (ROOT / "rifflux_spark" / "__init__.py").is_file() or not (ROOT / "tests" / "sqlite_oracle.py").is_file():
        print(f"perfbench: no rifflux_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        metrics, record, ledger = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["error_rate"] = ledger.failed / ledger.attempted
    record["failures"] = ledger.reasons[:10]
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
