"""Closed-loop benchmark of the link-graph engine; see README.md."""
