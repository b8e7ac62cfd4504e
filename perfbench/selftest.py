"""Self-test of the benchmark harness on tiny corpora (a few minutes):

    python3 perfbench/selftest.py

Runs both workloads with and without tracing on a few hundred pages and
checks that:

- every metric ``BENCHMARK.json`` names is printed, with its unit;
- a deliberately perturbed score is counted as a failed operation;
- the same seed gives the identical corpus and query list, and another
  seed a different one.

Each benchmark run is its own process, as the benchmark is run: a Spark
JVM does not restart cleanly inside one Python process.
"""

from __future__ import annotations

import dataclasses
import json
import subprocess
import sys

import run

SEED = 7
TINY = {
    "ingest": dataclasses.replace(run.WORKLOADS["ingest"], pages=300, n_queries=8),
    "search_mixed": dataclasses.replace(run.WORKLOADS["search_mixed"], pages=800, n_queries=20),
}


def bench(workload: str, seed: int, trace: int, perturb: bool = False) -> tuple[dict, dict]:
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(
        [sys.executable, __file__, "--child", "1" if perturb else "0", *argv],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}, output {lines[-2:]}\n{p.stderr[-2000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def perturbed_search(search):
    """``SearchService.search`` with the top lexical score nudged by 0.1%."""

    def search_off_by_a_bit(self, query, *, top_k=10, mode="hybrid"):
        rows = search(self, query, top_k=top_k, mode=mode)
        if mode == "lexical" and rows:
            bm25 = rows[0]["score_breakdown"]["bm25"] * 1.001
            rows = [{**rows[0], "score_breakdown": {"bm25": bm25}}, *rows[1:]]
        return rows

    return search_off_by_a_bit


def child(perturb: bool, argv: list[str]) -> int:
    """One benchmark run on the tiny corpora, optionally with a perturbed
    search."""
    run.WORKLOADS.update(TINY)
    if perturb:
        sys.path.insert(0, str(run.ROOT))
        from rifflux_spark.service import SearchService

        SearchService.search = perturbed_search(SearchService.search)
    return run.main(argv)


def main() -> int:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    records = {}
    for workload in ("search_mixed", "ingest"):
        for trace in (0, 1):
            record, result = bench(workload, SEED, trace)
            printed = {k: v["unit"] for k, v in result["metrics"].items()}
            assert printed == units[trace], f"{workload} trace={trace}: printed {printed}, spec {units[trace]}"
            assert result["correct"] and result["failed"] == 0, (workload, trace, record["failures"])
            records[workload, trace] = record
    print("metric names and units: ok")

    record, result = bench("search_mixed", SEED, 0, perturb=True)
    lexical_runs = sum(1 for r in record["failures"] if r.startswith("lexical"))
    assert not result["correct"] and result["failed"] > 0 and lexical_runs > 0, result
    assert result["metrics"]["success_pct"]["value"] < 100.0, result["metrics"]["success_pct"]
    print(f"perturbed score: {result['failed']}/{result['attempted']} operations failed: ok")

    for workload in ("search_mixed", "ingest"):
        a, b = records[workload, 0], records[workload, 1]
        assert a["corpus"]["fingerprint"] == b["corpus"]["fingerprint"], workload
        assert a["queries"]["list"] == b["queries"]["list"], workload
    other, _ = bench("search_mixed", SEED + 1, 0)
    assert other["corpus"]["fingerprint"] != records["search_mixed", 0]["corpus"]["fingerprint"]
    assert other["queries"]["list"] != records["search_mixed", 0]["queries"]["list"]
    print("same seed, same corpus and queries; new seed, new ones: ok")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2] == "1", sys.argv[3:]))
    sys.exit(main())
