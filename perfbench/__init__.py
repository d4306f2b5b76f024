"""Closed-loop benchmark of the seisdb Spark engine (see NOTES.md)."""
