"""Crawl-engine benchmark: three seed-parameterised workloads over the
synthetic world, each gated by the single-process oracle.

Run ``python3 crawlbench/run.py --help`` from the repository root.
"""
