"""CDC publisher benchmark: seeded changefeed recordings and fixture tables,
the two stream workloads and the analytics workload, their output checks and
the traced per-layer run.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
