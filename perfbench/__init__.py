"""The repository benchmark: cookbook ETL and registry workloads.

Entry point: ``python3 perfbench/run.py`` (see README.md here).
"""
