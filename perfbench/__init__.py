"""Crawl benchmark for artemis_spark: seeded synthetic webs, CrawlEngine on
local[4], every run checked against ReferenceModel, plus a traced run that
splits time by layer.  Entry point: ``python3 perfbench/run.py``."""
