"""The repository's benchmark: workloads, tracing and event-log rollup.

Run it with ``python3 perfbench/run.py --help``; see ``perfbench/README.md``.
"""
