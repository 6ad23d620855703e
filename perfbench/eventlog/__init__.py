"""Spark event log -> per-op records (see ``fold.py``)."""

from .fold import fold_event_log

__all__ = ["fold_event_log"]
