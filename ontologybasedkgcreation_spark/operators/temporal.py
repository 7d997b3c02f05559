"""Temporal joins over event streams.

The as-of join — "for each left row, the latest right row at or before
its timestamp per key" — is the event-enrichment primitive (sessionize
clicks against the last view, price a trade at the last quote, attach
the most recent profile snapshot) that Spark's built-in joins lack: a
naive range join explodes to |left|x|right| per key and pandas
``merge_asof`` is a single-machine sort.

This implementation is the UNION + ORDERED-WINDOW shape, the one that
scales: tag both sides, union them, and take a running ``last`` of the
right-side payload ignoring nulls over a per-key window ordered by
``(ts, side, payload)`` — the right row "flows forward" to every later
left row with exactly ONE shuffle (the window's key exchange), no range
explosion, no driver-side sort.  Pure ``pyspark.sql.functions``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# the prefix both joins put on the columns they take from the right side
RIGHT_PREFIX = "right_"
# sessionize: a gap above this many microseconds starts a new session
SESSION_GAP_US = 3_600_000_000
# interval_join: the width of the buckets intervals explode to
INTERVAL_BUCKET_WIDTH = 40


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """As-of join -> every ``left`` row plus the matched ``right``
    row's columns as ``right_<col>`` (NULL when no match).

    Backward matching: the LATEST right row with ``right.ts <= left.ts``
    (exact-timestamp matches included); both sides carry the timestamp
    in the ``ts`` column.  Right rows that tie on (key, ts) resolve
    to the payload-struct maximum, so the result is deterministic
    whatever the partitioning.

    Scale shape: one union + one per-key window (a single key
    exchange).  The running ``last(ignorenulls)`` is O(rows); no
    per-key range join, no |left|x|right| blowup on hot keys, no
    Python.  Timestamp order within a key is the window sort — at
    10^12 rows the exchange is the same one ANY per-key temporal
    operator pays."""
    on = list(on)
    # the right timestamp is emitted once, as right_ts from the struct's
    # _rts slot — keep it out of the payload list
    rpay = [c for c in right.columns if c not in on and c != "ts"]
    rrow = F.struct(F.col("ts").alias("_rts"), *[F.col(c) for c in rpay])
    lrow = F.struct(*[F.col(c) for c in left.columns])
    l_tagged = left.select(
        *on,
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        lrow.alias("_lrow"),
        F.lit(None).cast(
            right.select(rrow.alias("s")).schema["s"].dataType.simpleString()
        ).alias("_rrow"),
    )
    r_tagged = right.select(
        *on,
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(lrow.alias("s")).schema["s"].dataType.simpleString()
        ).alias("_lrow"),
        rrow.alias("_rrow"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_rrow").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        l_tagged.unionByName(r_tagged)
        .withColumn("_m", F.last("_rrow", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    cols += [F.col("_m._rts").alias(f"{RIGHT_PREFIX}ts")]
    cols += [F.col(f"_m.{c}").alias(f"{RIGHT_PREFIX}{c}") for c in rpay]
    return out.select(*cols)


def sessionize(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Gap-based sessionization of ``ts``-stamped events -> the input plus
    ``session_index`` (0-based per key, in time order) and ``session_id``
    (``<key>:<index>``) — the standard event-stream grouping (a new
    session starts when the gap since the previous event of the same
    key exceeds ``SESSION_GAP_US`` microseconds).

    The classic two-window formulation, exactly replayable in SQL:
    ``lag`` the previous timestamp per key, flag gap-exceeded (or
    first-event) rows, running-sum the flags.  Scale shape: ONE key
    exchange shared by both windows (same partitioning and ordering —
    Catalyst plans a single sort+exchange); no Python, no joins.  Ties
    at identical (key, ts) order by the remaining sort stability of the
    window — gap flags only compare against the lagged timestamp, so
    equal-ts runs always share a session regardless of their order."""
    key_cols = list(key_cols)
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy(*key_cols).orderBy(t.asc())
    prev = F.lag(t).over(w)
    new_sess = F.when(
        prev.isNull() | ((t - prev) > F.lit(SESSION_GAP_US)), 1
    ).otherwise(0)
    run = (
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - 1
    )
    out = df.withColumn("session_index", run.cast("long"))
    sid = F.concat_ws(
        ":",
        *[F.col(c).cast("string") for c in key_cols],
        F.col("session_index").cast("string"),
    )
    return out.withColumn("session_id", sid)


def interval_join(
    left: DataFrame, right: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Interval overlap join -> one row per (left, right) pair of
    CLOSED intervals [s, e] that overlap (``left.s <= right.e AND
    right.s <= left.e``) within the same key — the range-join primitive (ad
    impressions x outages, sessions x incidents, genomic ranges) that
    Spark otherwise plans as a per-key cross product with a theta
    filter.

    The bucketed formulation: each interval explodes to the
    INTERVAL_BUCKET_WIDTH-sized buckets it covers, pairs meet by (key,
    bucket) EQUI-join, and each overlapping pair is emitted EXACTLY
    once — not by a distinct, but by keeping only the bucket containing
    ``greatest(left.s, right.s)`` (the pair's first shared bucket), so
    no dedup shuffle exists at all.  Start/end are integers (epoch
    seconds, positions); rows with start > end are dropped (empty
    intervals).

    Scale shape: fan-out per row = interval length / bucket width
    (size the width to the TYPICAL interval so fan-out is ~1-2),
    one equi-join both sides of which Catalyst/AQE can re-plan, and the
    overlap + first-bucket predicates are whole-stage codegen — no
    cross product, no Python, no distinct."""
    on = list(on)
    w = INTERVAL_BUCKET_WIDTH

    def explode_side(df, tag):
        return df.filter(F.col("s") <= F.col("e")).select(
            *on,
            F.struct(*[F.col(c) for c in df.columns]).alias(f"_{tag}row"),
            F.col("s").cast("long").alias(f"_{tag}s"),
            F.col("e").cast("long").alias(f"_{tag}e"),
            F.explode(
                F.sequence(
                    F.floor(F.col("s").cast("long") / w),
                    F.floor(F.col("e").cast("long") / w),
                )
            ).alias("_bk"),
        )

    le = explode_side(left, "l")
    re_ = explode_side(right, "r")
    joined = le.join(re_, [*on, "_bk"]).filter(
        (F.col("_ls") <= F.col("_re"))
        & (F.col("_rs") <= F.col("_le"))
        & (
            F.col("_bk")
            == F.floor(F.greatest(F.col("_ls"), F.col("_rs")) / w)
        )
    )
    lcols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    rcols = [
        F.col(f"_rrow.{c}").alias(f"{RIGHT_PREFIX}{c}")
        for c in right.columns
        if c not in on
    ]
    return joined.select(*lcols, *rcols)
