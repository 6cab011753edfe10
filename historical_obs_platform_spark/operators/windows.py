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
- long-run flagging (W8 — ``qaqc_logic_checks.py:80-151``, rewritten
  from the reference's O(n·k) candidate loop to an O(n) sessionize)

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


def flag_long_runs(
    df: DataFrame,
    key,
    time_col: str,
    predicate: Column,
    min_span_seconds: int,
    flag_col: str,
    flag_value,
) -> DataFrame:
    """W8: flag every row inside a run where ``predicate`` holds
    continuously for at least ``min_span_seconds``.

    Reference semantics: qaqc_logic_checks.py:80-151 scans every
    candidate 24 h window (O(n·k)); the equivalent O(n) form is
    sessionize-on-predicate + span filter.
    """
    keyl = [key] if isinstance(key, str) else list(key)
    marked = df.withColumn("__pred", predicate.cast("int"))
    runs = sessionize(
        marked,
        keyl,
        time_col,
        F.col("__pred") != F.lag("__pred").over(ordered_window(keyl, time_col)),
        out="__run",
    )
    w_run = Window.partitionBy(*keyl, "__run")
    spanned = runs.withColumn(
        "__span",
        F.unix_timestamp(F.max(time_col).over(w_run))
        - F.unix_timestamp(F.min(time_col).over(w_run)),
    )
    flagged = spanned.withColumn(
        flag_col,
        F.when(
            (F.col("__pred") == 1) & (F.col("__span") >= min_span_seconds),
            F.lit(flag_value),
        ).otherwise(F.col(flag_col) if flag_col in df.columns else F.lit(None)),
    )
    return flagged.drop("__pred", "__run", "__span")


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
    added per value column, tested against its own ``crit`` Column.
    Window functions are not shared between the expressions that use
    them, so every lead/lag a test reads (the time and each value
    column at offsets -1 and 1..``max_len``) is computed ONCE, as a
    column, in one window select; the tests are then a plain
    projection, and the marks a second window select."""
    w = ordered_window(key, time_col)
    offsets = [o for o in range(-1, max_len + 1) if o != 0]

    def name(base: str, o: int) -> str:
        return f"{base}_{'m' if o < 0 else 'p'}{abs(o)}"

    bases = [("__t", F.unix_timestamp(time_col))] + [
        (f"__v_{out}", F.col(col)) for col, _crit, out in series
    ]
    shifted = df.select(
        "*",
        *[
            (F.lag(c).over(w) if o < 0 else F.lead(c, o).over(w)).alias(
                name(base, o)
            )
            for base, c in bases
            for o in offsets
        ],
    )

    def at(base: str, c: Column) -> dict:  # offset -> c at that offset
        return {o: c if o == 0 else F.col(name(base, o)) for o in [0] + offsets}

    t = at(*bases[0])
    # index i compares offset i with offset i-1 (i = 0: the entry step)
    gap_ok = [t[i] - t[i - 1] <= max_gap_seconds for i in range(max_len + 1)]
    starts = []
    for (base, c), (_col, crit, out) in zip(bases[1:], series):
        v = at(base, c)
        dv = [v[i] - v[i - 1] for i in range(max_len + 1)]
        size = [F.abs(d) for d in dv]
        big = [s > crit for s in size]
        up = [d > 0 for d in dv]
        half = crit / 2
        held = big[0] & gap_ok[0]
        for L in range(1, max_len + 1):
            # non-null, so the marks below need no per-offset coalesce
            starts.append(
                F.coalesce(
                    held & big[L] & (up[0] != up[L]) & gap_ok[L], F.lit(False)
                ).alias(f"__sp{L}_{out}")
            )
            held = held & (size[L] <= half) & gap_ok[L]

    marked = shifted.select("*", *starts)
    marks = {}
    for _col, _crit, out in series:
        # a row is in a spike when an L-point pattern starts at most
        # L-1 rows before it; marks are OR'd row-wise
        flag = F.lit(False)
        for L in range(1, max_len + 1):
            sp = F.col(f"__sp{L}_{out}")
            for o in range(L):
                flag = flag | (sp if o == 0 else F.lag(sp, o, False).over(w))
        marks[out] = flag
    return marked.withColumns(marks).drop(
        *[name(base, o) for base, _c in bases for o in offsets],
        *[
            f"__sp{L}_{out}"
            for _col, _crit, out in series
            for L in range(1, max_len + 1)
        ],
    )


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
