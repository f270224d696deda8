"""Closed-loop benchmark of the delta_lake_spark engine; see README.md."""
