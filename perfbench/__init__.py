"""End-to-end and per-layer benchmark for puma_matcher_spark (see README.md)."""
