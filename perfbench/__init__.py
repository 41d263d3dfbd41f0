"""End-to-end and per-layer benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 --trace 0

See ``run.py`` for the workloads, the metrics and the traced run, and
``python3 -m pytest perfbench`` for the benchmark's own self-tests.
"""
