"""Service benchmark for the lake, serving, crawl and analysis planes
(see README.md in this directory)."""
