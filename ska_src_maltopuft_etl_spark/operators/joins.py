"""Join operators Spark lacks as primitives (as-of, interval, validated, key remap).

Interval-point joins (J5): use :func:`interval_join` in general, and
:func:`interval_join_asof` when no right interval nests inside another.
"""

from __future__ import annotations

from typing import Iterable, Literal, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class CardinalityError(ValueError):
    """Join cardinality validation failed (mirrors Polars ``validate=``)."""


def _check_no_clash(left: DataFrame, out_rcols: Iterable[str]) -> None:
    clash = set(out_rcols) & set(left.columns)
    if clash:
        raise ValueError(f"right columns clash with left: {sorted(clash)}; pass right_prefix")


# ---------------------------------------------------------------------------
# As-of join (J6)
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    allow_exact_matches: bool = True,
    right_prefix: str = "",
    right_tiebreak: Sequence[str] = (),
    direction: Literal["backward", "forward"] = "backward",
) -> DataFrame:
    """For each left row, attach the nearest right row within the same
    ``by`` group: the greatest ``right_on`` <= ``left_on`` (backward,
    the default) or the smallest ``right_on`` >= ``left_on`` (forward —
    e.g. "next maintenance window after this candidate"). Forward is
    the same one-shuffle union+window plan with the time order
    reversed; every other knob behaves identically.

    Implementation ("union trick", one shuffle, no row explosion):

    1. Tag right rows with a marker and union both sides on
       (by-keys, event time, marker, payload-struct).
    2. Sort within each by-group by (time, marker) — right rows sort
       before left rows at equal times when ``allow_exact_matches`` —
       and propagate the last non-null right payload with
       ``last(..., ignoreNulls=True)``.
    3. Keep left rows; unpack the propagated right payload.

    All right columns (except the by-keys) come back ``right_prefix``-ed;
    rows with no match get NULLs (left-join semantics, matching Polars
    ``join_asof``). ``tolerance_seconds`` drops matches older than the
    tolerance (timestamps only). ``right_tiebreak`` columns make the
    winner among equal-``right_on`` right rows deterministic (the row
    with the greatest tiebreak value wins).

    NULL semantics — a deliberate divergence from Polars: this operator
    uses SQL equi-join NULL semantics for the ``by`` keys (a NULL by-key
    matches nothing, on either side; NULL-keyed/NULL-time right rows are
    dropped pre-union, NULL-keyed left rows come back unmatched). Polars
    ``join_asof`` groups by-keys groupby-style, where NULL by-keys on
    both sides fall into the same group and CAN match each other. The
    reference pipeline never exercises the difference (its beam /
    coherent-beam keys are validated non-null upstream,
    meertrap/candidate/transform.py:107-136); SQL semantics are the
    consistent choice next to every other join in this module.
    """
    by = list(by)
    lcols = left.columns
    rcols = [c for c in right.columns if c not in by]
    out_rcols = {c: f"{right_prefix}{c}" for c in rcols}
    _check_no_clash(left, out_rcols.values())

    # marker: right=0 sorts before left=1 at equal times → exact matches
    # visible to left rows. With allow_exact_matches=False, invert.
    r_marker, l_marker = (0, 1) if allow_exact_matches else (1, 0)

    # Equi-join NULL semantics (round-12 fuzz hardening): a right row
    # with a NULL event time or NULL by-key can never be "the nearest
    # right row" — drop them before the union, else they sort first in
    # the group (nulls-first) and their payload propagates as a bogus
    # match to every probe before the first real right row. Left rows
    # with NULL keys/times stay (left-join semantics: NULL match) —
    # with rights filtered, their group holds no rights, and the
    # nulls-FIRST placement below makes NULL-time left rows see zero
    # rights in both directions.
    right_ok = F.col(right_on).isNotNull()
    for k in by:
        right_ok = right_ok & F.col(k).isNotNull()
    right = right.where(right_ok)

    r_tagged = right.select(
        *[F.col(c) for c in by],
        F.col(right_on).alias("__t"),
        F.lit(r_marker).alias("__m"),
        F.struct(*[F.col(c) for c in rcols]).alias("__rpayload"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in lcols]).alias("s")).schema["s"].dataType
        ).alias("__lpayload"),
    )
    l_tagged = left.select(
        *[F.col(c) for c in by],
        F.col(left_on).alias("__t"),
        F.lit(l_marker).alias("__m"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in rcols]).alias("s")).schema["s"].dataType
        ).alias("__rpayload"),
        F.struct(*[F.col(c) for c in lcols]).alias("__lpayload"),
    )

    unioned = r_tagged.unionByName(l_tagged)
    w = Window.partitionBy(*[F.col(c) for c in by]) if by else Window.partitionBy()
    # forward = backward with the time axis reversed: process greater
    # times first, so "last right seen so far" is the SMALLEST
    # right_on >= left_on. The marker still orders right before left
    # at equal times (exact-match semantics unchanged).
    # nulls FIRST in both directions: a NULL-time left row must be
    # processed before ANY right row so it accumulates no match
    # (Spark's desc default is NULLS LAST, which would hand it the
    # final right row of the scan).
    t_order = (
        F.col("__t").asc_nulls_first()
        if direction == "backward"
        else F.col("__t").desc_nulls_first()
    )
    order = [t_order, F.col("__m")]
    # equal-time right rows: greatest tiebreak sorts last → wins last().
    order += [F.col(f"__rpayload.{c}").asc_nulls_first() for c in right_tiebreak]
    w = w.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    # last(ignoreNulls) skips structs that are NULL; right rows carry a
    # non-null struct, left rows carry NULL __rpayload → wrap so the whole
    # struct is NULL for left rows.
    matched = unioned.withColumn(
        "__match",
        F.last(
            F.when(
                F.col("__rpayload").isNotNull(),
                F.struct(F.col("__t").alias("__rt"), F.col("__rpayload").alias("__rp")),
            ),
            ignorenulls=True,
        ).over(w),
    )

    out = matched.where(F.col("__lpayload").isNotNull())
    if tolerance_seconds is not None:
        gap = (
            F.col("__t").cast("double") - F.col("__match.__rt").cast("double")
            if direction == "backward"
            else F.col("__match.__rt").cast("double") - F.col("__t").cast("double")
        )
        out = out.withColumn(
            "__match",
            F.when(gap <= F.lit(float(tolerance_seconds)), F.col("__match")),
        )

    sel: list[Column] = [F.col(f"__lpayload.{c}").alias(c) for c in lcols]
    sel += [F.col(c) for c in by if c not in lcols]
    sel += [F.col(f"__match.__rp.{c}").alias(out_rcols[c]) for c in rcols]
    return out.select(*sel)


# ---------------------------------------------------------------------------
# Interval join (J5)
# ---------------------------------------------------------------------------

def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_start: str,
    right_end: str,
    by: Sequence[str] = (),
    how: Literal["inner", "left"] = "left",
    tie_break: str | None = None,
    tie_break_desc: bool = False,
    broadcast_right: bool = True,
    right_prefix: str = "",
) -> DataFrame:
    """Join each left row to right rows whose [start, end] interval
    contains ``left_ts``; optionally keep one match per left row.

    Reference J5 finds the parent schedule block of each observation with
    a per-row Python filter loop (observation/transform.py:203-221). Here
    it is a declarative non-equi join Catalyst can plan:

    - with ``by`` keys → shuffled equi-join + residual range predicate;
    - without → broadcast-nested-loop; pass ``broadcast_right=True``
      (dimension side small — schedule blocks, in the reference).

    ``tie_break`` picks a single match per left row (row_number == 1 over
    the tie-break ordering), making the operator deterministic when
    intervals overlap.
    """
    by = list(by)
    rcols = [c for c in right.columns if c not in by]
    out_rcols = [f"{right_prefix}{c}" for c in rcols]
    _check_no_clash(left, out_rcols)
    renamed = right
    for c in rcols:
        renamed = renamed.withColumnRenamed(c, f"{right_prefix}{c}") if right_prefix else renamed
    rstart = f"{right_prefix}{right_start}"
    rend = f"{right_prefix}{right_end}"

    # Internal per-row id so the tie-break window keys on left ROWS, not
    # left values — duplicate left rows must each keep their own match.
    # (The id never leaves the operator, so monotonic non-determinism is
    # harmless.)
    out_cols = list(left.columns)
    left = left.withColumn("__iv_rowid", F.monotonically_increasing_id())

    rhs = F.broadcast(renamed) if broadcast_right else renamed
    cond = (F.col(rstart) <= left[left_ts]) & (F.col(rend) >= left[left_ts])
    for k in by:
        cond = cond & (left[k] == renamed[k])
    joined = left.join(rhs, cond, how)
    if by:
        joined = joined.drop(*[renamed[k] for k in by])

    if tie_break is not None:
        tb = f"{right_prefix}{tie_break}"
        order = F.col(tb).desc_nulls_last() if tie_break_desc else F.col(tb).asc_nulls_last()
        w = Window.partitionBy(F.col("__iv_rowid")).orderBy(order)
        joined = (
            joined.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    return joined.select(*out_cols, *out_rcols)


def interval_join_asof(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_start: str,
    right_end: str,
    by: Sequence[str] = (),
    how: Literal["inner", "left"] = "left",
    right_prefix: str = "",
) -> DataFrame:
    """Skew-proof "latest containing interval" join for NON-NESTED
    right intervals: an as-of backward join on ``right_start`` plus a
    containment filter on ``right_end``.

    Equivalent to :func:`interval_join` with
    ``tie_break=right_start, tie_break_desc=True`` WHENEVER, per
    ``by``-group, no right interval is strictly nested inside another
    (ends non-decreasing in starts — fixed-width windows, the common
    case, always qualify; equal starts are fine, the longest wins).
    Under that condition the latest-started interval at-or-before a
    probe either contains it or nothing does, so picking it first and
    filtering containment after is exact.

    Why it exists (round-10 Zipf-skew finding, SCALING.md):
    :func:`interval_join` pairs every probe with every candidate interval
    of the same key before the tie-break dedups — on a Zipf-keyed ×10
    tier the hottest user alone produces tens of millions of
    intermediate pairs and an 8.7× cliff. The as-of plan is one union +
    one window: the hot key costs one sorted partition (O(n log n) rows,
    zero pair blowup), the same shape the certified as-of family already
    scales with.
    """
    rcols = [c for c in right.columns if c not in by]
    _check_no_clash(left, [f"{right_prefix}{c}" for c in rcols])
    p = right_prefix or "__iva_"
    matched = asof_join(
        left,
        right,
        left_on=left_ts,
        right_on=right_start,
        by=by,
        right_prefix=p,
        right_tiebreak=[right_end],
        direction="backward",
    )
    contains = F.col(f"{p}{right_end}") >= F.col(left_ts)
    if how == "inner":
        out = matched.where(contains)
    else:
        out = matched.select(
            *[c for c in left.columns],
            *[
                F.when(contains, F.col(f"{p}{c}")).alias(f"{p}{c}")
                for c in rcols
            ],
        )
    if not right_prefix:
        for c in rcols:
            out = out.withColumnRenamed(f"{p}{c}", c)
    return out


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width_s: int = 86400,
    by: Sequence[str] = (),
    right_prefix: str = "",
) -> DataFrame:
    """Interval×interval OVERLAP join (inner): pair every left interval
    with every right interval of the same ``by`` group whose
    [start, end] ranges intersect (closed ends: touching endpoints
    overlap). The interval-point operators (:func:`interval_join`
    family) cannot express this — it is the "sessions × maintenance
    windows" / "annotation spans × document windows" shape.

    Scale design — the dedup-free first-common-bucket trick: both sides
    explode to the time buckets they cover and equi-join on
    (by..., bucket) with the overlap residual, which alone would emit
    each overlapping pair once PER SHARED BUCKET; instead of a
    distinct-shuffle to repair that, the join keeps only the bucket
    containing ``max(left_start, right_start)``. For any overlapping
    pair, max(starts) <= min(ends), so that bucket is covered by BOTH
    intervals and is unique — every overlapping pair emits from exactly
    one bucket, non-overlapping pairs from none. One shuffle, no dedup,
    no window. Cost: each side is replicated span/width + 1 times —
    pick ``bucket_width_s`` near the typical span. Output size is the
    true overlap count (inherent); for Zipf-hot keys the time axis in
    the shuffle key spreads a hot key's work across its buckets.
    """
    by = list(by)
    rcols = [c for c in right.columns if c not in by]
    renamed = right
    if right_prefix:
        for c in rcols:
            renamed = renamed.withColumnRenamed(c, f"{right_prefix}{c}")
    out_rcols = [f"{right_prefix}{c}" for c in rcols]
    _check_no_clash(left, out_rcols)
    rstart = f"{right_prefix}{right_start}"
    rend = f"{right_prefix}{right_end}"
    width_us = int(bucket_width_s) * 1_000_000

    def bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.withColumn(
            "__ov_bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_micros(F.col(start)) / F.lit(width_us)),
                    F.floor(F.unix_micros(F.col(end)) / F.lit(width_us)),
                )
            ),
        )

    lb = bucketed(left, left_start, left_end)
    rb = bucketed(renamed, rstart, rend)
    cond = (
        (lb["__ov_bucket"] == rb["__ov_bucket"])
        # overlap: neither interval ends before the other starts
        & (lb[left_start] <= rb[rend])
        & (rb[rstart] <= lb[left_end])
        # first-common-bucket: emit only where max(starts) lands, which
        # both sides cover iff they overlap — exactly-once without dedup
        & (
            lb["__ov_bucket"]
            == F.floor(
                F.greatest(
                    F.unix_micros(lb[left_start]), F.unix_micros(rb[rstart])
                )
                / F.lit(width_us)
            )
        )
    )
    for k in by:
        cond = cond & (lb[k] == rb[k])
    joined = lb.join(rb, cond, "inner")
    joined = joined.drop(rb["__ov_bucket"]).drop(lb["__ov_bucket"])
    for k in by:
        joined = joined.drop(rb[k])
    return joined.select(*left.columns, *out_rcols)


# ---------------------------------------------------------------------------
# Cardinality-validated equi-join (J1-J4)
# ---------------------------------------------------------------------------

def validated_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    expect: Literal["1:1", "1:m", "m:1", "m:m"] = "m:m",
) -> DataFrame:
    """Equi-join with Polars-style ``validate=`` cardinality checking.

    Catalyst has no join-cardinality assertion (SURVEY.md §4.3), so the
    uniqueness of the join keys on the constrained side(s) is checked with
    cheap count-distinct aggregates before joining. Raises
    :class:`CardinalityError` on violation.
    """
    on = [on] if isinstance(on, str) else list(on)

    def _unique(df: DataFrame, side: str) -> None:
        cnt = df.groupBy(*on).count().where(F.col("count") > 1).limit(1).count()
        if cnt:
            raise CardinalityError(
                f"join keys {on} not unique on {side} side (expect={expect})"
            )

    if expect in ("1:1", "1:m"):
        _unique(left, "left")
    if expect in ("1:1", "m:1"):
        _unique(right, "right")
    return left.join(right, on, how)


# ---------------------------------------------------------------------------
# Key remap (J9 / F17)
# ---------------------------------------------------------------------------

def remap_keys(
    df: DataFrame,
    key_col: str,
    keymap: DataFrame,
    old_col: str = "old",
    new_col: str = "new",
    broadcast: bool = True,
) -> DataFrame:
    """Replace ``key_col`` values via a mapping table, keeping the
    original value when unmapped (``mapping.get(x, x)`` semantics).

    The reference holds the map as a driver dict and applies it per row
    (core/database_loader.py:182-188, tests/test_map_keys.py:7-57) — a
    non-starter at scale. Here it is a left join + coalesce: distributed,
    no driver state. ``broadcast=True`` (default) hints the map side —
    right for dimension-sized keymaps; pass False for fact-sized maps
    and let AQE pick the strategy from runtime stats.
    """
    mapping = keymap.select(
        F.col(old_col).alias("__old"), F.col(new_col).alias("__new")
    ).dropDuplicates(["__old"])
    rhs = F.broadcast(mapping) if broadcast else mapping
    out = df.join(rhs, df[key_col] == F.col("__old"), "left")
    return out.withColumn(
        key_col, F.coalesce(F.col("__new"), F.col(key_col))
    ).drop("__old", "__new")
