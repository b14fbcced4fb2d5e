"""Layered, oracle-checked benchmark for qurious_spark (see README.md)."""
