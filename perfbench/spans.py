"""Benchmark-side tracing: spans around the calls the benchmark makes into
each layer of rifflux_spark, and Spark job/task counts per labelled call.

A span is (name, start, end, parent, query id). Spans stay in memory and
are written out when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

The package itself is not instrumented: ``instrumented`` swaps the layer
entry points named in ``LAYER_HOOKS`` for timing wrappers for the length
of a ``with`` block and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from collections import defaultdict

# (module, attribute, span name) of the layer calls a query makes
LAYER_HOOKS = (
    ("rifflux_spark.operators.local_exec", "local_df", "operators.local_exec.df_lookup"),
    ("rifflux_spark.operators.local_exec", "bm25_topk_local", "operators.local_exec.lexical_topk"),
    ("rifflux_spark.operators.local_exec", "rehydrate_local", "operators.local_exec.rehydrate"),
    ("rifflux_spark.operators.local_exec", "semantic_topk_local", "operators.local_exec.semantic_topk"),
    ("rifflux_spark.operators.phrase", "phrase_topk_local", "operators.phrase.topk_local"),
    ("rifflux_spark.operators.ftsquery", "fts_topk_local", "operators.ftsquery.topk_local"),
    ("rifflux_spark.service", "rrf_fuse", "operators.fusion.rrf"),
)
# a modality call that plans on Spark is renamed after the operator
SPARK_ROUTES = (
    ("bm25_topk", "service.lexical", "operators.bm25.topk_spark"),
    ("semantic_topk", "service.semantic", "operators.semantic.topk_spark"),
)


class Tracer:
    def __init__(self, on_query=None) -> None:
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent, query_id]
        self._open: list[int] = []
        self.query_id: int | None = None
        self.n_queries = 0
        self.on_query = on_query

    def query(self, mode: str):
        """Root span of one query, under a new query id."""
        self.n_queries += 1
        self.query_id = self.n_queries
        if self.on_query is not None:
            self.on_query(self.query_id)
        return self.span(f"search.{mode}")

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append([name, time.perf_counter_ns(), None, parent, self.query_id])
        self._open.append(idx)
        try:
            yield idx
        finally:
            self._open.pop()
            self.spans[idx][2] = time.perf_counter_ns()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def renaming(self, fn, old: str, new: str):
        """``fn`` untimed, but the innermost open span named ``old`` is
        renamed ``new`` when it is called."""

        @functools.wraps(fn)
        def marked(*args, **kwargs):
            for idx in reversed(self._open):
                if self.spans[idx][0] == old:
                    self.spans[idx][0] = new
                    break
            return fn(*args, **kwargs)

        return marked

    def write(self, path) -> None:
        keys = ("name", "start_ns", "end_ns", "parent", "query")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


@contextlib.contextmanager
def instrumented(tracer: Tracer, svc):
    """Route ``svc``'s layer calls through ``tracer`` inside the block."""
    from rifflux_spark import service as service_mod

    saved = []

    def patch(obj, attr, new) -> None:
        saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    try:
        for module, attr, name in LAYER_HOOKS:
            mod = importlib.import_module(module)
            patch(mod, attr, tracer.wrap(getattr(mod, attr), name))
        for attr, old, new in SPARK_ROUTES:
            patch(service_mod, attr, tracer.renaming(getattr(service_mod, attr), old, new))
        cls = type(svc)
        patch(cls, "lexical", tracer.wrap(cls.lexical, "service.lexical"))
        patch(cls, "semantic", tracer.wrap(cls.semantic, "service.semantic"))
        patch(svc, "embed_query", tracer.wrap(svc.embed_query, "functions.embedder.query_embed"))
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)


def _covered_ns(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans: list[list]) -> list[int]:
    """Per span: duration minus the union of its children's intervals (ns)."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for s in spans:
        if s[3] is not None:
            children[s[3]].append((s[1], s[2]))
    return [(s[2] - s[1]) - _covered_ns(children[i]) for i, s in enumerate(spans)]


def summarize(spans: list[list]) -> dict:
    """Per span name: call count, total self ms and the per-call self ms
    list; plus the share of root-span time that child spans cover."""
    own = self_times(spans)
    layers: dict[str, dict] = {}
    root_ns = covered = 0
    for s, self_ns in zip(spans, own):
        d = layers.setdefault(s[0], {"calls": 0, "self_ms_total": 0.0, "self_ms": []})
        d["calls"] += 1
        d["self_ms_total"] += self_ns / 1e6
        d["self_ms"].append(self_ns / 1e6)
        if s[3] is None and s[4] is not None:
            root_ns += s[2] - s[1]
            covered += (s[2] - s[1]) - self_ns
    return {"layers": layers, "coverage_frac": covered / root_ns if root_ns else 0.0}


class JobCounter:
    """Spark jobs and tasks per label: each labelled block runs under its
    own job group; jobs that build/apply threads start without the group
    are caught as the ungrouped jobs that appeared during the block."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.jobs: dict[str, set[int]] = {}

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextlib.contextmanager
    def group(self, label: str):
        before = self._ungrouped()
        self.sc.setJobGroup(label, label)
        try:
            yield
        finally:
            self.jobs[label] = set(self.tracker.getJobIdsForGroup(label)) | (self._ungrouped() - before)

    def label(self, label: str) -> None:
        """Cheap per-query form: later jobs of this thread carry ``label``."""
        self.sc.setJobGroup(label, label)

    def count(self, label: str) -> tuple[int, int]:
        ids = self.jobs.get(label)
        if ids is None:
            ids = set(self.tracker.getJobIdsForGroup(label))
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(ids), tasks
