"""Property-based tests: the custom as-of join must agree with pandas
``merge_asof`` (an independent reference implementation) on arbitrary
inputs, and keep-first dedup / surrogate keys must be deterministic
under repartitioning."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.operators import (
    asof_join,
    dedup_keep_first,
    surrogate_key,
)

# Times as small ints (cast to timestamps implicitly unnecessary — the
# operator works on any orderable type); keys from a tiny alphabet to
# force group collisions.
row = st.tuples(st.integers(0, 5), st.integers(0, 100))
rows = st.lists(row, min_size=0, max_size=25)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=rows)
def test_asof_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(left, columns=["k", "t"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right, columns=["k", "t"]).reset_index(names="rid")
    # pandas merge_asof picks the LAST right row among equal times; make
    # the winner unique so both implementations agree deterministically:
    # keep only the max-rid row per (k, t).
    rpdf = rpdf.sort_values("rid").groupby(["k", "t"], as_index=False).last()

    ldf = spark.createDataFrame(lpdf[["lid", "k", "t"]]) if len(lpdf) else None
    if ldf is None:
        return
    if len(rpdf):
        rdf = spark.createDataFrame(
            rpdf[["rid", "k", "t"]].rename(columns={"t": "rt"})
        )
    else:
        rdf = spark.createDataFrame([], "rid long, k long, rt long")

    out = asof_join(
        ldf, rdf, left_on="t", right_on="rt", by=["k"], right_tiebreak=["rid"],
        direction="backward",
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}

    if not len(rpdf):
        assert got == {int(r.lid): None for r in lpdf.itertuples()}
        return
    expected = pd.merge_asof(
        lpdf.sort_values(["t", "lid"]),
        rpdf.rename(columns={"t": "rt"}).sort_values("rt"),
        left_on="t",
        right_on="rt",
        by="k",
        direction="backward",
    )
    exp = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in expected.itertuples()
    }
    assert got == exp


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), max_size=30))
def test_dedup_and_surrogate_deterministic_under_partitioning(spark, data):
    if not data:
        return
    pdf = pd.DataFrame(data, columns=["k", "v"]).reset_index(names="rid")
    df = spark.createDataFrame(pdf)
    for nparts in (1, 7):
        shuffled = df.repartition(nparts)
        first = dedup_keep_first(shuffled, ["k"], ["v", "rid"])
        got = sorted((r["k"], r["v"], r["rid"]) for r in first.collect())
        expected = sorted(
            (k, g.sort_values(["v", "rid"]).iloc[0]["v"], g.sort_values(["v", "rid"]).iloc[0]["rid"])
            for k, g in pdf.groupby("k")
        )
        assert got == [(k, v, r) for k, v, r in expected]

        sk = surrogate_key(shuffled, "sk", ["v", "rid"], scalable=True)
        ordered = [r["rid"] for r in sk.orderBy("sk").collect()]
        expected_order = list(pdf.sort_values(["v", "rid"])["rid"])
        assert ordered == expected_order


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 30)), max_size=15))
def test_interval_join_matches_pandas_filter(spark, left, right):
    from ska_src_maltopuft_etl_spark.operators import interval_join

    lpdf = pd.DataFrame(left, columns=["k", "t"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right, columns=["k", "start", "dur"]).reset_index(names="rid")
    if not len(lpdf):
        return
    rpdf["end"] = rpdf["start"] + rpdf["dur"]
    ldf = spark.createDataFrame(lpdf[["lid", "k", "t"]])
    if len(rpdf):
        rdf = spark.createDataFrame(rpdf[["rid", "k", "start", "end"]])
    else:
        rdf = spark.createDataFrame([], "rid long, k long, start long, end long")

    exp = {}
    for lrow in lpdf.itertuples():
        matches = rpdf[
            (rpdf.k == lrow.k) & (rpdf.start <= lrow.t) & (rpdf.end >= lrow.t)
        ] if len(rpdf) else rpdf
        exp[lrow.lid] = None if len(matches) == 0 else int(matches.sort_values("rid").iloc[0]["rid"])
    for broadcast_right in (False, True):
        out = interval_join(
            ldf, rdf, left_ts="t", right_start="start", right_end="end",
            by=["k"], how="left", tie_break="rid", broadcast_right=broadcast_right,
        )
        got = {r["lid"]: r["rid"] for r in out.collect()}
        assert got == exp, broadcast_right


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=rows)
def test_asof_forward_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(left, columns=["k", "t"]).reset_index(names="lid")
    rpdf = pd.DataFrame(right, columns=["k", "t"]).reset_index(names="rid")
    # unique winner per (k, t) so both implementations agree (ours picks
    # the greatest tiebreak among equal times)
    rpdf = rpdf.sort_values("rid").groupby(["k", "t"], as_index=False).last()

    if not len(lpdf):
        return
    ldf = spark.createDataFrame(lpdf[["lid", "k", "t"]])
    if len(rpdf):
        rdf = spark.createDataFrame(
            rpdf[["rid", "k", "t"]].rename(columns={"t": "rt"})
        )
    else:
        rdf = spark.createDataFrame([], "rid long, k long, rt long")

    out = asof_join(
        ldf, rdf, left_on="t", right_on="rt", by=["k"], right_tiebreak=["rid"],
        direction="forward",
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}

    if not len(rpdf):
        assert got == {int(r.lid): None for r in lpdf.itertuples()}
        return
    expected = pd.merge_asof(
        lpdf.sort_values(["t", "lid"]),
        rpdf.rename(columns={"t": "rt"}).sort_values("rt"),
        left_on="t",
        right_on="rt",
        by="k",
        direction="forward",
    )
    want = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in expected.itertuples()
    }
    assert got == want


@pytest.mark.parametrize("broadcast_right", [True, False])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 500)),
                    min_size=0, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=0, max_size=15,
    ),
)
def test_interval_join_all_matches_python_model(spark, broadcast_right, points, intervals):
    """All-matches interval join (no tie-break) vs a brute-force python
    model on random epoch-second points/intervals, nested and
    overlapping intervals included, with and without a broadcast
    interval side."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import interval_join

    if not points:
        return
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (i, k, base + dt.timedelta(seconds=t))
        for i, (k, t) in enumerate(points)
    ]
    rrows = [
        (j, k, base + dt.timedelta(seconds=s),
         base + dt.timedelta(seconds=s + d))
        for j, (k, s, d) in enumerate(intervals)
    ]
    ldf = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    if rrows:
        rdf = spark.createDataFrame(
            rrows, "rid long, k long, s timestamp, e timestamp"
        )
    else:
        rdf = spark.createDataFrame(
            [], "rid long, k long, s timestamp, e timestamp"
        )

    out = interval_join(
        ldf, rdf, left_ts="ts", right_start="s", right_end="e",
        by=["k"], how="inner", broadcast_right=broadcast_right,
    )
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    want = sorted(
        (i, j)
        for i, (k, t) in enumerate(points)
        for j, (k2, s, d) in enumerate(intervals)
        if k == k2 and s <= t <= s + d
    )
    assert got == want


def test_interval_join_nested_boundaries(spark):
    """Deterministic nested-interval fixture: the as-of reduction gives
    the WRONG answer here (latest-started interval has already ended),
    interval_join with a latest-start tie-break must give the right one;
    plus inclusive-boundary probes at t == start and t == end."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import (
        interval_join,
        interval_join_asof,
    )

    base = dt.datetime(2024, 1, 1)

    def d(n, h=0):
        return base + dt.timedelta(days=n, hours=h)

    right = spark.createDataFrame(
        [("u", d(1), d(100), "wide"), ("u", d(5), d(10), "nested")],
        "k string, s timestamp, e timestamp, tag string",
    )
    left = spark.createDataFrame(
        [("u", d(50)),   # after `nested` ended: only `wide` contains it
         ("u", d(7)),    # inside both: `nested` wins (latest start)
         ("u", d(1)),    # t == wide.start (inclusive)
         ("u", d(10)),   # t == nested.end (inclusive)
         ("u", d(101))], # after everything: unmatched
        "k string, ts timestamp",
    )
    out = interval_join(
        left, right, "ts", "s", "e", by=["k"], how="left",
        tie_break="s", tie_break_desc=True, right_prefix="r_",
    )
    got = {r["ts"]: r["r_tag"] for r in out.collect()}
    assert got == {d(50): "wide", d(7): "nested", d(1): "wide",
                   d(10): "nested", d(101): None}

    # the as-of reduction demonstrably CANNOT express this: at d(50) the
    # latest-started interval (`nested`) has ended, so it returns null
    asof = interval_join_asof(
        left, right, "ts", "s", "e", by=["k"], how="left", right_prefix="r_",
    )
    asof_got = {r["ts"]: r["r_tag"] for r in asof.collect()}
    assert asof_got[d(50)] is None  # the documented non-nested limitation


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lints=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=1, max_size=12,
    ),
    rints=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 200)),
        min_size=0, max_size=12,
    ),
    width=st.sampled_from([7, 60, 1000]),
)
def test_interval_overlap_join_matches_python_model(spark, lints, rints, width):
    """Interval×interval overlap join vs a brute-force python model:
    every overlapping pair exactly ONCE (the first-common-bucket trick
    must not duplicate pairs that share several buckets, nor drop pairs
    that touch at a single endpoint), at bucket widths smaller than,
    near, and larger than the spans."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.operators.joins import interval_overlap_join

    base = dt.datetime(2024, 1, 1)

    def mk(rows, tag):
        return [
            (i, k, base + dt.timedelta(seconds=s),
             base + dt.timedelta(seconds=s + d))
            for i, (k, s, d) in enumerate(rows)
        ]

    ldf = spark.createDataFrame(
        mk(lints, "l"), "lid long, k long, s timestamp, e timestamp"
    )
    rdf = spark.createDataFrame(
        mk(rints, "r") or [], "rid long, k long, s timestamp, e timestamp"
    )
    out = interval_overlap_join(
        ldf, rdf, left_start="s", left_end="e",
        right_start="s", right_end="e",
        bucket_width_s=width, by=["k"], right_prefix="r_",
    )
    got = sorted((r["lid"], r["r_rid"]) for r in out.collect())
    want = sorted(
        (i, j)
        for i, (k1, s1, d1) in enumerate(lints)
        for j, (k2, s2, d2) in enumerate(rints)
        if k1 == k2 and s1 <= s2 + d2 and s2 <= s1 + d1
    )
    assert got == want


def test_scalable_surrogate_key_repeatable_without_pin(spark):
    """Nothing pins the numbered frame, so every action recomputes it
    from a freshly round-robin-partitioned input; the ids must depend
    neither on which rows land in which partition nor on the sampled
    bucket bounds."""
    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 13).alias("g"), (F.col("id") * 7_919 % n).alias("k")
    )
    sk = surrogate_key(df.repartition(7), "sk", ["g", "k"], scalable=True)
    first = {(r["g"], r["k"]): r["sk"] for r in sk.collect()}
    second = {(r["g"], r["k"]): r["sk"] for r in sk.collect()}
    assert first == second
    assert sorted(first.values()) == list(range(1, n + 1))
    again = surrogate_key(df.repartition(7), "sk", ["g", "k"], scalable=True)
    assert {(r["g"], r["k"]): r["sk"] for r in again.collect()} == first
