"""End-to-end and per-layer benchmark of check_datapackage_spark on
generated tokenized-sequence tables. Entry point: ``perfbench/run.py``."""
