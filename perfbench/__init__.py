"""Benchmark for the Jira/Tempo ETL engine: see ``run.py``."""
