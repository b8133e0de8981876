"""Core-format benchmark for bazof_spark; see README.md and run.py."""
