"""Workload benchmark for vectra_py_spark: see README.md in this directory."""
