"""End-to-end and per-layer benchmark for the sfa_spark engine.

Run one workload with ``python3 enginebench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``; see README.md in this
directory for the workloads, metrics and reference figures.
"""
