"""sparkplug-py benchmark: seeded workloads, DuckDB oracles and a traced
layer run.  Entry point: ``python3 perfbench/run.py --workload <name>``."""
