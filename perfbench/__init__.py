"""Benchmark of the engine's batch ingest (with its BI card refresh) and CDC upsert paths.

Run ``python3 perfbench/run.py --help``; see ``perfbench/DESIGN.md``.
"""
