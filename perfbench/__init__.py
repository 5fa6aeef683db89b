"""Layered benchmark for mofka_spark: pub/sub, live streaming and gates.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
