"""SQL-text column helpers.

PySpark builds every plan over py4j, one Python -> JVM round trip per
call: a Column tree costs a few round trips per node, a parsed SQL
expression one per output column, whatever its size. The pipeline's
checks and cleaners therefore write their expressions as SQL text and
apply them with these helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def with_sql(df: DataFrame, exprs: dict, keep=None) -> DataFrame:
    """``df.withColumns`` of SQL text, as ONE ``selectExpr``: each
    ``name: sql`` entry replaces column ``name`` in place, or is
    appended. ``keep`` lists the columns to pass through (default: all
    of ``df``), so helper columns are dropped in the same projection."""
    if keep is None and not exprs:
        return df
    if keep is None and not set(exprs) & set(df.columns):
        return df.selectExpr("*", *[f"{e} AS {q(c)}" for c, e in exprs.items()])
    cols = df.columns if keep is None else list(keep)
    return df.selectExpr(
        *[f"{exprs[c]} AS {q(c)}" if c in exprs else q(c) for c in cols],
        *[f"{e} AS {q(c)}" for c, e in exprs.items() if c not in cols],
    )
