"""Extraction benchmark for the pipeline in ``plans.pipeline``; run it with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``."""
