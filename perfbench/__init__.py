"""Seeded entity-resolution benchmark for the triple_accel_spark engine."""
