"""The analytics workload: registered queries over seeded fixture tables.

One client in one warm session runs whole passes over the queries of
``QUERIES``, each materialised to the ``noop`` sink, until the run's seconds
are used and at least ``MIN_PASSES`` passes ran. The queries are registered
ones (``plans``) that read only ``events``, ``orders`` and ``supplier``,
which ``perfbench.tablegen`` writes from the seed in the fixture schema;
through them the run uses ``tables.load_table``, the changefeed, reconcile,
matview, funnel and sketch operators, and ``functions.ranks``.
Unmeasured passes come first: one collects every query's rows, which are
checked against the DuckDB oracles after the timed region, and
``WARM_PASSES`` more let the JIT settle."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

import duckdb

from crdb_changefeed_publisher_spark import plans
from perfbench.cdc import SETUPS, Harness
from perfbench.tablegen import write_tables
from tools.check_oracle import compare

SCALE = 0.01  # as the sf0.01 fixtures: 10,000 events, 15,000 orders, 100 suppliers
# query -> the tables it reads (its input rows count towards rows_per_s)
QUERIES = {
    "cdc_envelopes": ("events",),
    "events_funnel": ("events",),
    "order_price_quantile_sketch": ("orders",),
    "orders_cdc_reconcile": ("orders",),
    "orders_matview_totals": ("orders",),
    "supplier_acctbal_rank": ("supplier",),
}
WARMUP_QUERY = "cdc_envelopes"
# unmeasured passes after the one that collects rows: the JIT is still
# warming then, and the first passes after it take up to 1.5 times as long
# as later ones
WARM_PASSES = 1
# whole passes timed, at least; each query's wall is the median of its
# executions, so one slow pass does not move it
MIN_PASSES = 3


@dataclass
class QueryCheck:
    attempted: int  # timed query executions
    failed: int  # of them, executions of a query whose rows miss its oracle


@dataclass
class Execution:
    """One query, run once."""

    name: str
    build_s: float  # inside the registered function: plan construction
    exec_s: float  # materialising the frame to the noop sink
    jobs: int = 0  # Spark jobs, stages and tasks it ran (traced)
    stages: int = 0
    tasks: int = 0

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class AnalyticsResult:
    check: QueryCheck
    correct: bool
    rows_per_s: float
    latency_ms: list[float]  # per query: the median wall of its executions
    runs: list[Execution]
    notes: dict = field(default_factory=dict)


def _execute(h: Harness, name: str, sf_dir: str, tag: str, collect: bool = False):
    """Run one query; returns its Execution, and its rows with `collect`."""
    spark = h.spark
    spec = plans.all_specs()[name]
    if h.trace:
        spark.sparkContext.setJobGroup(tag, name)
    t0 = time.time()
    df = spec.fn(spark, sf_dir)
    t1 = time.time()
    rows = df.toPandas() if collect else df.write.format("noop").mode("overwrite").save()
    ex = Execution(name, t1 - t0, time.time() - t1)
    if h.trace:
        tracker = spark.sparkContext.statusTracker()
        for jid in tracker.getJobIdsForGroup(tag):
            ex.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                ex.stages += 1
                ex.tasks += stage.numTasks if stage else 0
    return (ex, rows) if collect else ex


def check_oracles(sf_dir: str, got: dict) -> dict[str, list[str]]:
    """Problems per query (empty when its rows `got[name]` match the DuckDB
    oracle)."""
    con = duckdb.connect()
    tables = {t for ts in QUERIES.values() for t in ts}
    for t in sorted(tables):
        con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems = {name: compare(name, got[name], con.execute(plans.all_specs()[name].oracle).df()) for name in QUERIES}
    con.close()
    return problems


def run_analytics(h: Harness, seed: int, seconds: float) -> AnalyticsResult:
    for _ in range(SETUPS):
        t0 = h.start_session()
        sf_dir = h.fresh_dir("tables")
        rows = write_tables(sf_dir, seed, SCALE)
        tq = time.time()
        _execute(h, WARMUP_QUERY, sf_dir, "warm")
        h.set_up_done(t0, time.time() - tq)
    names = list(QUERIES)
    # unmeasured passes: the first reads every table once and collects the
    # rows the oracles check, the rest let the JIT settle
    got = {name: _execute(h, name, sf_dir, f"warm-{name}", collect=True)[1] for name in names}
    for i in range(WARM_PASSES):
        for name in names:
            _execute(h, name, sf_dir, f"warm{i}-{name}")

    t_measure = time.time()
    runs: list[Execution] = []
    while len(runs) < MIN_PASSES * len(names) or time.time() - t_measure < seconds:
        for name in names:
            runs.append(_execute(h, name, sf_dir, f"run{len(runs)}-{name}"))

    problems = check_oracles(sf_dir, got)
    bad = {name for name, p in problems.items() if p}
    # a query run more often than another must not weigh more: each query
    # counts once, with the median wall of its executions
    wall = {name: statistics.median(ex.wall_s for ex in runs if ex.name == name) for name in names}
    return AnalyticsResult(
        check=QueryCheck(attempted=len(runs), failed=sum(ex.name in bad for ex in runs)),
        correct=not bad,
        # input rows of every query, per second of their summed walls
        rows_per_s=sum(rows[t] for ts in QUERIES.values() for t in ts) / sum(wall.values()),
        latency_ms=[w * 1000 for w in wall.values()],
        runs=runs,
        notes={
            "runs": len(runs),
            "measured_s": time.time() - t_measure,
            "walls_ms": {n: [round(ex.wall_s * 1000) for ex in runs if ex.name == n] for n in names},
            "problems": {n: problems[n] for n in bad},
        },
    )


def layer_metrics(h: Harness, res: AnalyticsResult) -> dict[str, float]:
    def per_pass(f) -> float:
        """Sum over the queries of each one's median `f`: one pass's worth."""
        return float(sum(statistics.median(f(ex) for ex in res.runs if ex.name == q) for q in QUERIES))

    out = {
        "analytics.runs": float(len(res.runs)),
        "analytics.build_ms": per_pass(lambda ex: ex.build_s * 1000),
        "analytics.exec_ms": per_pass(lambda ex: ex.exec_s * 1000),
        "analytics.jobs_per_pass": per_pass(lambda ex: ex.jobs),
        "analytics.stages_per_pass": per_pass(lambda ex: ex.stages),
        "analytics.tasks_per_pass": per_pass(lambda ex: ex.tasks),
    }
    for name in QUERIES:
        out[f"query.{name}_ms"] = float(statistics.median(ex.wall_s * 1000 for ex in res.runs if ex.name == name))
    return out
