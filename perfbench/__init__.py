"""Benchmark of the liresolr_spark engine (see BENCHMARK.json)."""
