"""Seeded, reference-checked benchmark of the Spark data-prep engine.

Entry point: ``python3 steadybench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the root of a checkout. See METRICS.md.
"""
