"""gos2_spark benchmark harness; run ``python3 perfbench/run.py --help``."""
