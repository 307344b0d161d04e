"""Operator modules; import each by name (``from .operators import dedup``)."""
