"""Linkage benchmark for pprl_spark; see README.md."""
