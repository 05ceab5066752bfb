"""The repository's benchmark: Kinesis round-trip, live-tail latency and
headline-query workloads, driven through the library's public seams.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
