"""Deduplication + surrogate-key operators (SURVEY.md §2.6 W1-W5).

Reference semantics:

- W1 ordered dedup keep-first:
  sort("processed_at").unique(subset=[...], keep="first")
  (meertrap/candidate/transform.py:33-62)
- W2 keep-first by sort order (meertrap/observation/transform.py:30-50)
- W3 unordered dedup: unique(subset=...) (observation/transform.py:190-193)
- W5 surrogate key = 1-based row index
  (with_row_index sites listed in SURVEY.md §2.6)

Scale notes: keep-first dedup is a window row_number over the subset —
one shuffle on the subset keys, map-side partial skipping via AQE.
Surrogate keys over a *global* order are inherently sequential; at
reference scale a single-partition window is fine, and
``surrogate_key(..., scalable=True)`` numbers rows inside ordered
buckets instead: bucket bounds sampled once as driver literals, a
bucket-count prefix sum, and a ``row_number`` per bucket — no
single-partition pass over the fact, nothing pinned, same contiguous
1-based numbering.
"""

from __future__ import annotations

from typing import Sequence

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(order_by: Sequence[Column | str]) -> list[Column]:
    return [F.col(c).asc_nulls_last() if isinstance(c, str) else c for c in order_by]


def dedup_keep_first(
    df: DataFrame,
    subset: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep the first row per ``subset`` group under ``order_by``.

    ``order_by`` must be a total order within each group for deterministic
    results (SURVEY.md §7.3 risk 1) — pass a tiebreaker column; the
    operator does not invent one.
    """
    w = Window.partitionBy(*subset).orderBy(*_order_cols(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _sort_spec(c: Column) -> tuple[Column, bool, bool]:
    """``(key, descending, nulls_first)`` of one :func:`_order_cols`
    entry. A column without a sort order sorts as Spark's default,
    ascending with nulls first."""
    # the sort direction is readable only from the column's JVM node
    node = c._jc.node()  # noqa: SLF001
    if node.getClass().getSimpleName() != "SortOrder":
        return c, False, True
    key = type(c)(SparkContext._jvm.org.apache.spark.sql.Column(node.child()))  # noqa: SLF001
    return (
        key,
        node.sortDirection().getClass().getSimpleName().startswith("Descending"),
        node.nullOrdering().getClass().getSimpleName().startswith("NullsFirst"),
    )


def _sorted(key: Column, desc: bool, nulls_first: bool) -> Column:
    nulls = "first" if nulls_first else "last"
    return getattr(key, f"{'desc' if desc else 'asc'}_nulls_{nulls}")()


def _sample_bounds(
    df: DataFrame, specs: list[tuple[Column, bool, bool]], n_buckets: int
) -> list[tuple]:
    """At most ``n_buckets - 1`` ascending bound tuples of the order
    keys, read off a sorted random sample of about 100 rows per bucket.
    This is the only job and the only driver collect of the scalable
    numbering."""
    keys = [f"__k{i}" for i in range(len(specs))]
    sample = (
        df.select(*[k.alias(a) for (k, _, _), a in zip(specs, keys)])
        .orderBy(F.rand(0))
        .limit(100 * n_buckets)
        .orderBy(*[_sorted(F.col(a), d, nf) for (_, d, nf), a in zip(specs, keys)])
        .collect()
    )
    if not sample:
        return []
    bounds: list[tuple] = []
    for i in range(1, n_buckets):
        b = tuple(sample[i * len(sample) // n_buckets])
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def _at_or_after(specs: list[tuple[Column, bool, bool]], bound: tuple) -> Column:
    """The row sorts at or after the literal tuple ``bound``:
    lexicographic, each key in its own direction and null order."""
    out = F.lit(True)
    for (k, desc, nulls_first), b in reversed(list(zip(specs, bound))):
        if b is None:
            after = k.isNotNull() if nulls_first else F.lit(False)
        else:
            beyond = k < F.lit(b) if desc else k > F.lit(b)
            after = F.coalesce(beyond, F.lit(not nulls_first))
        out = after | (k.eqNullSafe(F.lit(b)) & out)
    return out


def _bucket(specs: list[tuple[Column, bool, bool]], bounds: list[tuple]) -> Column:
    """How many of the ascending ``bounds`` the row sorts at or after —
    a pure function of the row, non-decreasing in the sort order, found
    by binary search."""

    def search(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            _at_or_after(specs, bounds[mid]), search(mid + 1, hi)
        ).otherwise(search(lo, mid))

    return search(0, len(bounds))


def surrogate_key(
    df: DataFrame,
    name: str,
    order_by: Sequence[Column | str],
    offset: int = 1,
    scalable: bool = False,
) -> DataFrame:
    """Add a contiguous ``offset``-based integer key following a
    deterministic global order (reference W5 ``with_row_index``).

    - default: ``row_number`` over a global window — exact parity, fine
      at dimension-table scale (the reference's frames), and the oracle
      the scalable mode is tested against;
    - ``scalable=True``: no single-partition pass over the fact.
      Bucket bounds are read once from a sample of the order keys
      (one small job) and inlined as literals, so each row's bucket is
      a pure function of the row. Per-bucket counts go through a
      prefix-sum window (bucket-count rows — the only single-partition
      exchange) to offsets, broadcast back, and each row's key is its
      bucket offset plus its ``row_number`` inside the bucket. Both
      branches read the same buckets whatever the partitioning or
      however often the plan is recomputed, so nothing is pinned and
      the result stays lazy. ``order_by`` must be a total order for
      repeatable ids, as in the default mode.
    """
    ordered = _order_cols(order_by)
    if not scalable:
        w = Window.orderBy(*ordered)
        return df.withColumn(name, (F.row_number().over(w) + offset - 1).cast("long"))
    specs = [_sort_spec(c) for c in ordered]
    n_buckets = df.sparkSession.sparkContext.defaultParallelism
    with_b = df.withColumn("__skb", _bucket(specs, _sample_bounds(df, specs, n_buckets)))
    counts = with_b.groupBy("__skb").agg(F.count(F.lit(1)).alias("__cnt"))
    before = Window.orderBy("__skb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__skb", F.coalesce(F.sum("__cnt").over(before), F.lit(0)).alias("__skoff")
    )
    win = Window.partitionBy("__skb").orderBy(*ordered)
    return (
        with_b.join(F.broadcast(offsets), "__skb")
        .withColumn(
            name,
            (F.row_number().over(win) - 1 + F.col("__skoff") + offset).cast("long"),
        )
        .drop("__skb", "__skoff")
    )
