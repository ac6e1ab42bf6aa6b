"""Fixed-work benchmark of the feast_spark engine (see run.py)."""
