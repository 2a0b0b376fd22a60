"""Steady end-to-end and per-layer benchmark of the engine.

Run from the repository root:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``.
See ``perfbench/NOTES.md`` for the workloads, metrics and their layer map.
"""
