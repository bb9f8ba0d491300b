"""KG-build benchmark: end-to-end runs of the aser_spark pipeline plus a
traced per-layer ledger.  Entry point: ``python3 perfbench/run.py``."""
