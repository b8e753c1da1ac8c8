"""Crawl benchmark: drives ``run_crawl`` end to end through public entry
points and reports end-to-end and per-layer metrics (see README.md)."""
