"""Repository benchmark: three workloads driven through the engine's public
functions. Entry point: ``python3 perfbench/run.py --workload <name>``."""
