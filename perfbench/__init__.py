"""End-to-end and per-layer benchmark of sqlpp_spark (see README.md)."""
