"""End-to-end and per-layer benchmark of the sifter search engine.

Entry point: ``python3 perfbench/run.py --workload <serve|scan> --seed N
--seconds S --trace 0|1``. See ``perfbench/README.md``.
"""
