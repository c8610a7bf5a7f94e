"""Benchmark for the probably_jl_spark sketch library (see README.md)."""
