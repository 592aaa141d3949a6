#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_backfill|cdc_live|analytics
                             --seed N --seconds S --trace 0|1 [--cpus 4]

Run from the repository root. Prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they
are the per-layer ones (a layer the workload does not use reads 0), and the
end-to-end metrics of the traced run go to stderr so tracing overhead can be
read as traced minus untraced. A traced
run also writes every span to ``.perfbench/spans-<workload>-<seed>.json``.

Exits non-zero without a result when the program cannot be imported or a
run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
CPUS = 4  # local[4]: one Spark process, at most four worker threads
DRIVER_MEM = "2g"  # well below this class of 15 GB box; the default 48g is not


def pin_env(work: str, cpus: int) -> None:
    """Deployment settings, fixed here so every run sees the same ones.
    PYTHONPATH lets Spark's Python workers import the program and the
    benchmark's traced readers from a checkout anywhere."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


class PeakPss(threading.Thread):
    """Samples the summed proportional set size (PSS) of this process and
    all its descendants (the JVM and Spark's Python workers) every 250 ms,
    leaving out the subtrees of `exclude`: the benchmark's own helper
    processes. PSS splits a shared page among the processes that map it, so
    Python workers forked from one daemon are not counted twice."""

    def __init__(self, exclude: set[int]) -> None:
        super().__init__(daemon=True)
        self.exclude = exclude
        self.peak = 0
        self._done = threading.Event()

    @staticmethod
    def pss_kib(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        return int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass  # the process exited between listing and reading
        return 0

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            ppid = int(stat.rsplit(b")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += self.pss_kib(pid) * 1024
            todo.extend(children.get(pid, ()))
        return total

    def run(self) -> None:
        while not self._done.wait(0.25):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


def with_units(values: dict[str, float], kind: str, bypassed_zero: bool = False) -> dict:
    """Attach BENCHMARK.json's units; the names must be exactly its list,
    or with `bypassed_zero` a subset whose missing names read 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    unknown, missing = set(values) - set(units), set(units) - set(values)
    if unknown or (missing and not bypassed_zero):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: {sorted(unknown | missing)}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("cdc_backfill", "cdc_live", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS, help="local[N]; 1 gives the single-thread baseline")
    args = ap.parse_args(argv)

    work = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(work)
    pin_env(work, args.cpus)
    sys.path.insert(0, ROOT)
    bench_pids: set[int] = set()
    mem = PeakPss(bench_pids)
    mem.start()
    h = None
    try:
        from perfbench import cdc
        from perfbench.spans import percentile

        h = cdc.Harness(work, bool(args.trace), bench_pids)
        if args.workload == "analytics":
            from perfbench import analytics

            res = analytics.run_analytics(h, args.seed, args.seconds)
            layers = analytics.layer_metrics(h, res) if args.trace else None
            spans = None
        else:
            run = cdc.run_backfill if args.workload == "cdc_backfill" else cdc.run_live
            res = run(h, args.seed, args.seconds)
            layers = cdc.layer_metrics(h, res) if args.trace else None
            spans = cdc.all_spans(h, res) if args.trace else None
        if layers is not None:
            layers["session.start_s"] = h.session_start_s
            layers["session.first_query_s"] = h.first_query_s
    finally:
        if h is not None:
            h.close()
        peak_mb = mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "rows_per_s": res.rows_per_s,
        "latency_p50_ms": percentile(res.latency_ms, 50),
        "latency_p90_ms": percentile(res.latency_ms, 90),
        "peak_pss_mb": peak_mb,
        "setup_s": statistics.median(h.setup_s),
    }
    print(json.dumps({"setup_s": h.setup_s, "first_query_s": h.first_query_s, **res.notes}), file=sys.stderr)
    if args.trace:
        print(json.dumps({"traced_end_to_end": e2e}), file=sys.stderr)
        if spans is not None:
            with open(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"), "w", encoding="utf-8") as f:
                json.dump(spans, f)
        metrics = with_units(layers, "per_layer", bypassed_zero=True)
    else:
        metrics = with_units(e2e, "end_to_end")
    print(
        json.dumps(
            {
                "correct": bool(res.correct),
                "attempted": int(res.check.attempted),
                "failed": int(res.check.failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
