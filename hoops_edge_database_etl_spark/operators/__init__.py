"""Composite operators the reference implemented imperatively (SURVEY.md §2.3,
§2.5): as-of joins, sessionization, dedup sketches, iterative solvers.

Each is built from declarative DataFrame ops; order-dependent scans such as
possession sessionization are window functions, not Python.
"""
