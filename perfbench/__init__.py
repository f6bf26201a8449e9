"""Crawl + query benchmark for film_crawler_spark (entry point: run.py)."""
