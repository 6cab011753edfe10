"""Ordered-per-key window operators — the engine's core competency.

The reference's QA/QC battery is a set of per-station ordered-by-time
computations (SURVEY.md §2.5, W1-W10). Re-expressed here as reusable
transforms over ``Window.partitionBy(key).orderBy(order)``:

- first difference / time delta (W1/W2 — reference
  ``scripts/3_qaqc_data/qaqc_unusual_large_jumps.py:252-262``)
- sessionization / run-length encoding (W3 —
  ``qaqc_unusual_streaks.py:573-694``'s ``(v != v.shift()).cumsum()``)
- spike detection (W6 — ``qaqc_unusual_large_jumps.py:128-299``)
- de-accumulation (W7 — ``qaqc_deaccumulate.py:74-234``)
- run bounds and long-run flagging (W8 — ``qaqc_logic_checks.py:80-151``,
  rewritten from the reference's O(n·k) candidate loop to O(n)
  running windows shared by every tested column)

The window operators the QA/QC pass calls (``run_bounds``,
``flag_long_runs``, ``detect_spikes_multi``) are written as SQL text
(``functions.sqltext``).

Scale: each operator is a single window pass per key — one shuffle on
``key``, then linear work inside each partition. Keys (stations,
users) are numerous and bounded in size (≈4.4 M rows max in the
reference corpus), so partitions stay executor-sized at 100 TB; skew
is handled by AQE, not manual packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from ..functions.sqltext import q, with_sql


def ordered_window(key, order) -> WindowSpec:
    key = [key] if isinstance(key, str) else list(key)
    order = [order] if isinstance(order, (str, Column)) else list(order)
    return Window.partitionBy(*key).orderBy(*order)


def with_diff(
    df: DataFrame, key, order, col: str, out: str = "diff"
) -> DataFrame:
    """W1: first difference of ``col`` within key, ordered by ``order``."""
    w = ordered_window(key, order)
    return df.withColumn(out, F.col(col) - F.lag(col).over(w))


def with_time_delta_seconds(
    df: DataFrame, key, time_col: str, out: str = "dt_seconds"
) -> DataFrame:
    """W2: seconds elapsed since the previous row of the same key."""
    w = ordered_window(key, time_col)
    return df.withColumn(
        out,
        (
            F.unix_timestamp(time_col) - F.unix_timestamp(F.lag(time_col).over(w))
        ).cast("long"),
    )


def sessionize(
    df: DataFrame, key, order, change: Column, out: str = "run_id"
) -> DataFrame:
    """W3: run-length encoding — ``out`` increments whenever ``change``
    is true, starting at a new key. The classic
    ``(v != v.shift()).cumsum()`` sessionization as a running sum.
    """
    w = ordered_window(key, order)
    chg = F.when(change | F.isnull(change), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        out,
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def sessionize_runs(
    df: DataFrame, key, order, col: str, out: str = "run_id"
) -> DataFrame:
    """Runs of consecutive equal ``col`` values per key (null-safe
    equality, so runs of nulls also group)."""
    w = ordered_window(key, order)
    chg = F.when(
        F.col(col).eqNullSafe(F.lag(col).over(w)), F.lit(0)
    ).otherwise(F.lit(1))
    return df.withColumn(
        out, F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def run_stats(
    df_with_runs: DataFrame, key, run_col: str, time_col: str, value_col: str
) -> DataFrame:
    """Per-run statistics used by every streak test: length, span,
    first/last timestamp, the run's value."""
    key = [key] if isinstance(key, str) else list(key)
    return df_with_runs.groupBy(*key, run_col).agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min(time_col).alias("run_start"),
        F.max(time_col).alias("run_end"),
        F.first(value_col).alias("run_value"),
    )


def over(key, order: str, frame: str = "") -> str:
    """The SQL window spec ``PARTITION BY key ORDER BY order [frame]``."""
    keyl = [key] if isinstance(key, str) else list(key)
    return f"PARTITION BY {', '.join(map(q, keyl))} ORDER BY {order} {frame}".rstrip()


RUNNING = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def run_bounds(df: DataFrame, key, time_col: str, cols) -> DataFrame:
    """For each column ``c`` of ``cols``, the run of consecutive
    null-safe-equal ``c`` values (ordered by ``time_col`` within
    ``key``) that the row belongs to: its first and last row number
    ``__i0_c``/``__i1_c`` and time ``__t0_c``/``__t1_c``. Also adds the
    row number ``__idx`` and the last-row test ``__last``.

    Every column shares the passes: one ordered window select numbers
    the rows; one finds each column's run starts and ends (value
    differs from the previous / next row); one running window carries
    each run's start row and time forward and one reversed running
    window carries its end back, so run length and span need no
    per-run window (and no sort per column). Catalyst does not share a
    window function between the expressions that use it, so the
    first/last-row tests are columns, computed once for every column."""
    w = over(key, q(time_col))
    forward = over(key, q(time_col), RUNNING)
    back = over(key, "__idx DESC", RUNNING)
    numbered = df.selectExpr(
        "*",
        f"row_number() OVER ({w}) AS __idx",
        f"lead(1) OVER ({w}) IS NULL AS __last",
    )
    edges = numbered.selectExpr(
        "*",
        *[
            e
            for c in cols
            for e in (
                f"__idx = 1 OR NOT ({q(c)} <=> lag({q(c)}) OVER ({w}))"
                f" AS {q('__start_' + c)}",
                f"__last OR NOT ({q(c)} <=> lead({q(c)}) OVER ({w}))"
                f" AS {q('__end_' + c)}",
            )
        ],
    )
    return edges.selectExpr(
        "*",
        *[
            e
            for c in cols
            for e in (
                f"max(CASE WHEN {q('__start_' + c)} THEN __idx END)"
                f" OVER ({forward}) AS {q('__i0_' + c)}",
                f"max(CASE WHEN {q('__start_' + c)} THEN {q(time_col)} END)"
                f" OVER ({forward}) AS {q('__t0_' + c)}",
                f"min(CASE WHEN {q('__end_' + c)} THEN __idx END)"
                f" OVER ({back}) AS {q('__i1_' + c)}",
                f"min(CASE WHEN {q('__end_' + c)} THEN {q(time_col)} END)"
                f" OVER ({back}) AS {q('__t1_' + c)}",
            )
        ],
    )


def flag_long_runs(
    df: DataFrame,
    key,
    time_col: str,
    predicates: dict,
    min_span_seconds: int,
) -> DataFrame:
    """W8: for each ``out: predicate`` entry (SQL text), a boolean
    column ``out`` that is true on every row inside a run where
    ``predicate`` holds continuously for at least ``min_span_seconds``.

    Reference semantics: qaqc_logic_checks.py:80-151 scans every
    candidate 24 h window (O(n·k)); the equivalent O(n) form is runs of
    the predicate's value (``run_bounds``) + a span test. Every
    predicate shares the same ordered passes."""
    marked = df.selectExpr(
        "*", *[f"{p} AS {q('__p_' + out)}" for out, p in predicates.items()]
    )
    runs = run_bounds(marked, key, time_col, [f"__p_{out}" for out in predicates])
    return with_sql(
        runs,
        {
            out: f"{q('__p_' + out)} AND unix_timestamp({q('__t1___p_' + out)})"
            f" - unix_timestamp({q('__t0___p_' + out)}) >= {min_span_seconds}"
            for out in predicates
        },
        keep=df.columns,
    )


def detect_spikes_multi(
    df: DataFrame,
    key,
    time_col: str,
    series,
    max_gap_seconds: int = 12 * 3600,
    max_len: int = 3,
) -> DataFrame:
    """W6 full form: 1-to-``max_len``-point spikes
    (qaqc_unusual_large_jumps.py:128-216): the jump into the first
    spike point exceeds ``crit``; diffs between spike points stay
    below crit/2 (the excursion holds level); the exit jump exceeds
    ``crit`` with the opposite sign; all neighbor gaps ≤ 12 h. Every
    row inside the excursion is marked.

    ``series`` lists ``(col, crit, out)``: a boolean ``out`` column is
    added per value column, tested against its own ``crit`` (SQL
    text). Window functions are not shared between the expressions
    that use them, so every lead/lag a test reads (the time and each
    value column at offsets -1 and 1..``max_len``) is computed ONCE, as
    a column, in one window select; the tests are then a plain
    projection, and the marks a second window select."""
    w = over(key, q(time_col))
    offsets = [o for o in range(-1, max_len + 1) if o != 0]

    def name(base: str, o: int) -> str:
        return f"{base}_{'m' if o < 0 else 'p'}{abs(o)}"

    bases = [("__t", f"unix_timestamp({q(time_col)})")] + [
        (f"__v_{out}", q(col)) for col, _crit, out in series
    ]
    shifted = df.selectExpr(
        "*",
        *[
            (f"lag({c})" if o < 0 else f"lead({c}, {o})")
            + f" OVER ({w}) AS {q(name(base, o))}"
            for base, c in bases
            for o in offsets
        ],
    )

    def at(base: str, c: str) -> dict:  # offset -> c at that offset
        return {o: c if o == 0 else q(name(base, o)) for o in [0] + offsets}

    t = at(*bases[0])
    # index i compares offset i with offset i-1 (i = 0: the entry step)
    gap_ok = [
        f"({t[i]} - {t[i - 1]} <= {max_gap_seconds})" for i in range(max_len + 1)
    ]
    starts = []
    for (base, c), (_col, crit, out) in zip(bases[1:], series):
        v = at(base, c)
        dv = [f"({v[i]} - {v[i - 1]})" for i in range(max_len + 1)]
        size = [f"abs{d}" for d in dv]
        big = [f"({s} > ({crit}))" for s in size]
        up = [f"({d} > 0)" for d in dv]
        half = f"(({crit}) / 2)"
        held = f"({big[0]} AND {gap_ok[0]})"
        for L in range(1, max_len + 1):
            # non-null, so the marks below need no per-offset coalesce
            starts.append(
                f"coalesce({held} AND {big[L]} AND ({up[0]} != {up[L]})"
                f" AND {gap_ok[L]}, false) AS {q(f'__sp{L}_{out}')}"
            )
            held = f"({held} AND ({size[L]} <= {half}) AND {gap_ok[L]})"

    marked = shifted.selectExpr("*", *starts)
    marks = {}
    for _col, _crit, out in series:
        # a row is in a spike when an L-point pattern starts at most
        # L-1 rows before it; marks are OR'd row-wise
        terms = ["false"]
        for L in range(1, max_len + 1):
            sp = q(f"__sp{L}_{out}")
            terms += [sp if o == 0 else f"lag({sp}, {o}, false) OVER ({w})"
                      for o in range(L)]
        marks[out] = " OR ".join(terms)
    return with_sql(marked, marks, keep=df.columns)


# A drop below this is a gauge counter reset (qaqc_deaccumulate.py:
# 167-234).
DEACCUM_RESET_DROP = -50.0


def deaccumulate(
    df: DataFrame,
    key,
    time_col: str,
    col: str,
    out: str = "deaccumulated",
) -> DataFrame:
    """W7: recover incremental values from an accumulated gauge.

    incremental = diff; counter resets (drop below
    ``DEACCUM_RESET_DROP``) and negative increments clamp to 0
    (qaqc_deaccumulate.py:167-234).
    The first row of each key yields null (no prior reading).
    """
    w = ordered_window(key, time_col)
    d = F.col(col) - F.lag(col).over(w)
    return df.withColumn(
        out,
        F.when(d.isNull(), F.lit(None))
        .when(d < F.lit(DEACCUM_RESET_DROP), F.lit(0.0))
        .when(d < 0, F.lit(0.0))
        .otherwise(d),
    )
