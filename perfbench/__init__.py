"""Benchmark for trend_o_meter_spark; see README.md."""
