"""Benchmark of the elb_pipeline ETL job and dedup chain; see run.py."""
