"""Crawl benchmark of record for the wave engine (see README.md)."""
