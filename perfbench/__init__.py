"""Seeded end-to-end and per-layer benchmark of lyssandra_spark (see README.md)."""
