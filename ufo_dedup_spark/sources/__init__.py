"""Table I/O: read the page corpus and write cluster assignments, Iceberg
or parquet (tables.py)."""
