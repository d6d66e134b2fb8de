"""Former name of the schema_url-dispatched cascade.

The broadcast rule-table dispatch now lives in ``operators/rules.apply_rules``
(one cascade for every caller); this alias keeps the old entry point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import Config
from .rules import apply_rules

__all__ = ["apply_rules_broadcast"]


def apply_rules_broadcast(
    df: DataFrame, cfg: Config, *, id_col: str | None = None, **kw
) -> DataFrame:
    """``apply_rules(df, cfg, **kw)``.  ``id_col``, when given, is only
    checked to exist: resolution is span-local, so nothing keys on it."""
    if id_col is not None and id_col not in df.columns:
        raise ValueError(f"id column {id_col!r} is not in the input ({df.columns})")
    return apply_rules(df, cfg, **kw)
