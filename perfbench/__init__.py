"""End-to-end and per-layer benchmark for the extraction job and its
downstream operators. Run ``python3 perfbench/run.py --help``."""
