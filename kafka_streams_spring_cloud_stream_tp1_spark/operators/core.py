"""The reference topology's operators as composable builders.

Each builder is ``DataFrame -> DataFrame`` so the identical logic binds
to a batch parquet scan *and* a Structured-Streaming source — Structured
Streaming's core trick, and this engine's answer to the reference's one
topology (reference: hanndlers/PageEventHandler.java:49-60).

Scale notes: every builder is pure Column expressions (JVM-side,
whole-stage-codegen'd — no Python in the hot path). The only shuffle in
the flagship composition is the groupBy's hash Exchange, which Catalyst
places *after* the filter and projection, so just (key, window) pairs
cross the wire — the same manual ordering the reference hand-codes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_min_value(df: DataFrame, threshold: float = 100.0, col: str = "value") -> DataFrame:
    """F1 — keep records with duration/value strictly above ``threshold``
    (reference: hanndlers/PageEventHandler.java:51, ``duration > 100``)."""
    return df.filter(F.col(col) > F.lit(threshold))


def rekey_by_page(df: DataFrame, key_col: str = "event_type") -> DataFrame:
    """P1 — re-key by page name, constant 0L value; drops every other
    column *before* any shuffle (reference: PageEventHandler.java:52).

    In Spark the downstream ``groupBy`` plans the hash partitioning, so
    the projection alone expresses this; Catalyst's column pruning would
    derive it anyway.
    """
    return df.select(F.col(key_col).alias("name"), F.lit(0).cast("long").alias("zero"))


def windowed_page_counts(
    df: DataFrame,
    window: str = "5 seconds",
    ts_col: str = "ts",
    key_col: str = "event_type",
    threshold: float = 100.0,
) -> DataFrame:
    """The flagship topology: filter -> project -> tumbling window count.

    Composition F1 ∘ P1 ∘ G1 ∘ W1 ∘ A1 of the reference's topology
    (reference: hanndlers/PageEventHandler.java:51-55): keep value >
    threshold, group by page over epoch-aligned tumbling windows, count.
    Output: (name, window struct, cnt). Partial (map-side) + final hash
    aggregation is planned by Catalyst automatically, so only
    (name, window) -> partial-count pairs shuffle.
    """
    return (
        df.filter(F.col("value") > F.lit(threshold))
        .select(F.col(key_col).alias("name"), F.col(ts_col).alias("ts"))
        .groupBy(F.window("ts", window), F.col("name"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def salted_agg(
    df: DataFrame,
    key: str,
    agg_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-resistant exact distinct-count: two-stage aggregation with
    an explicit salt.

    For algebraic aggregates (count/sum/min/max) Catalyst's partial
    aggregation already neutralizes key skew — do NOT salt those. The
    cases that need this are aggregates whose partial state doesn't
    shrink (exact distinct, collect_set, percentiles): one hot key
    funnels its entire value set through one reducer. Stage 1 groups
    by (key, salt) — the hot key's values spread over ``n_salts``
    reducers, each deduping locally; stage 2 merges the per-salt
    distinct counts... which is only correct because the salt is
    derived from the VALUE (same value → same salt → no double
    count across salt groups).

    AQE's skew-join splitting handles joins; this is the groupBy-side
    equivalent for state-heavy aggregates.
    """
    salt = F.pmod(F.xxhash64(F.col(agg_col)), F.lit(n_salts))
    stage1 = (
        df.select(F.col(key), F.col(agg_col), salt.alias("_salt"))
        .groupBy(key, "_salt")
        .agg(F.count_distinct(F.col(agg_col)).alias("_partial"))
    )
    return stage1.groupBy(key).agg(F.sum("_partial").alias("n_distinct"))


def unwrap_windowed_key(df: DataFrame, keep_bounds: bool = False) -> DataFrame:
    """P2 — project the windowed key down to the plain page name
    (reference: PageEventHandler.java:57 drops the window bounds).

    ``keep_bounds=True`` keeps start/end — the contents of the
    reference's queryable ``count-store`` (window store entries are
    (key, window) -> count)."""
    cols: list[Column] = [F.col("name")]
    if keep_bounds:
        cols += [
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
        ]
    else:
        cols += [F.col("window.start").alias("window_start")]
    return df.select(*cols, F.col("cnt"))


def latest_window_per_key(df: DataFrame, anchor_ts: Column, span: str = "5 seconds") -> DataFrame:
    """Q1 — the reference's interactive store fetch: windows whose start
    lies in ``[anchor - span, anchor]``, folded to one row per key where
    the *most recent window wins* (reference:
    controllers/PageEventController.java:47-55 — the while-loop's
    ``map.put`` overwrite keeps the last-iterated window per page).

    ``df`` must carry (name, window_start, cnt). ``max_by`` expresses
    the fold natively (no self-join, single shuffle on name).
    """
    return (
        df.filter(
            (F.col("window_start") >= anchor_ts - F.expr(f"INTERVAL {span}"))
            & (F.col("window_start") <= anchor_ts)
        )
        .groupBy("name")
        .agg(F.max_by("cnt", "window_start").alias("cnt"))
    )
