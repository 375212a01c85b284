"""Property-based tests (hypothesis): engine operators vs independent
reference implementations on randomized inputs.

Example counts are small (Spark round-trips per example), but each
example is a full adversarial dataset — hypothesis shrinks failures to
minimal cases, which unit fixtures can't do.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from awsbatch_mapreduce_spark.operators.asof import asof_join
from awsbatch_mapreduce_spark.operators.histogram import histogram2d

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def asof_case(draw):
    keys = ["k1", "k2", "k3"]
    n_left = draw(st.integers(1, 12))
    n_right = draw(st.integers(0, 12))
    left = [
        (i, draw(st.sampled_from(keys)), draw(st.integers(0, 100)))
        for i in range(n_left)
    ]
    # unique (key, ts) on the right — the operator's documented contract
    right_keys = draw(
        st.sets(
            st.tuples(st.sampled_from(keys), st.integers(0, 100)),
            min_size=0,
            max_size=n_right,
        )
    )
    right = [(k, t, i) for i, (k, t) in enumerate(sorted(right_keys))]
    return left, right


@_slow
@given(asof_case())
def test_asof_join_matches_merge_asof(spark, case):
    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(i, k, float(t)) for i, k, t in left_rows], "id BIGINT, k STRING, t DOUBLE"
    )
    right = spark.createDataFrame(
        [(k, float(t), p) for k, t, p in right_rows] or [("zz", -1.0, -1)],
        "k STRING, t DOUBLE, payload BIGINT",
    )
    got = (
        asof_join(left, right, on="k", ts="t")
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    lp = pd.DataFrame(left_rows, columns=["id", "k", "t"]).astype(
        {"t": "float64"}
    ).sort_values(["t", "id"], ignore_index=True)
    rp = pd.DataFrame(
        [(k, float(t), p) for k, t, p in right_rows] or [("zz", -1.0, -1)],
        columns=["k", "t", "payload"],
    ).sort_values(["t", "k"], ignore_index=True)
    want = pd.merge_asof(
        lp, rp, on="t", by="k", direction="backward"
    ).sort_values("id", ignore_index=True)
    assert list(got["id"]) == list(want["id"])
    g = got["payload"].fillna(-999).astype("int64")
    w = want["payload"].fillna(-999).astype("int64")
    assert list(g) == list(w), (left_rows, right_rows)


@st.composite
def hist_case(draw):
    n = draw(st.integers(1, 60))
    xs = draw(
        st.lists(st.floats(-10, 10, allow_nan=False), min_size=n, max_size=n)
    )
    ys = draw(
        st.lists(st.floats(-10, 10, allow_nan=False), min_size=n, max_size=n)
    )
    return xs, ys


@_slow
@given(hist_case())
def test_histogram2d_matches_numpy(spark, case):
    xs, ys = case
    w = h = 5
    xmin, xmax, ymin, ymax = -10.0, 10.0, -10.0, 10.0
    df = spark.createDataFrame(list(zip(xs, ys)), "x DOUBLE, y DOUBLE")
    got = {
        (r.px, r.py): r.cnt
        for r in histogram2d(
            df, "x", "y", x_range=(xmin, xmax), y_range=(ymin, ymax),
            width=w, height=h,
        ).collect()
    }
    # reference: same floor-binning rule in numpy (points at max edge are
    # clamped into the last bin by the operator's min(bin, n-1))
    xstep, ystep = (xmax - xmin) / w, (ymax - ymin) / h
    want: dict[tuple[int, int], int] = {}
    for x, y in zip(xs, ys):
        px = min(int(np.floor((x - xmin) / xstep)), w - 1)
        py = min(int(np.floor((y - ymin) / ystep)), h - 1)
        want[(px, py)] = want.get((px, py), 0) + 1
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=40,
    )
)
@_slow
def test_zorder_interleave_is_a_bijection(spark, pairs):
    """De-interleaving the Morton key must recover (x, y) exactly —
    the property that makes z-clustering lossless w.r.t. both keys."""
    from pyspark.sql import functions as F

    from awsbatch_mapreduce_spark.operators.compact import interleave_bits

    df = spark.createDataFrame(pairs, "x long, y long")
    rows = df.withColumn(
        "z", interleave_bits([F.col("x"), F.col("y")])
    ).collect()
    for r in rows:
        x = y = 0
        for b in range(16):
            x |= ((r["z"] >> (2 * b)) & 1) << b
            y |= ((r["z"] >> (2 * b + 1)) & 1) << b
        assert (x, y) == (r["x"], r["y"])


@given(
    st.lists(
        st.tuples(
            st.integers(0, 32767),
            st.integers(0, 32767),
            st.integers(0, 32767),
            st.integers(0, 32767),
        ),
        min_size=1,
        max_size=25,
    )
)
@_slow
def test_zorder_interleave_bijection_four_columns(spark, quads):
    """At 4 columns the per-column budget drops to 15 bits (63 // 4);
    de-interleaving must still recover every column exactly — the
    r4 guard trades resolution, never correctness."""
    from pyspark.sql import functions as F

    from awsbatch_mapreduce_spark.operators.compact import interleave_bits

    df = spark.createDataFrame(quads, "a long, b long, c long, d long")
    rows = df.withColumn(
        "z",
        interleave_bits(
            [F.col("a"), F.col("b"), F.col("c"), F.col("d")], bits=15
        ),
    ).collect()
    for r in rows:
        vals = [0, 0, 0, 0]
        for b in range(15):
            for ci in range(4):
                vals[ci] |= ((r["z"] >> (b * 4 + ci)) & 1) << b
        assert tuple(vals) == (r["a"], r["b"], r["c"], r["d"])
        assert r["z"] >= 0  # never the sign bit


@given(st.integers(-10_000, 10_000), st.integers(1, 20))
@_slow
def test_ewma_constant_stream_identity(spark, cents, n_events):
    """EWMA of a constant-valued stream must equal the constant times
    the sum of applied weights: with k = min(n, 8) events present, the
    weighted sum is vc * (2^8 - 2^(8-k)) — an exact integer identity
    that pins both the weight ladder and the missing-history coalesce."""
    import datetime
    import os
    import tempfile

    from awsbatch_mapreduce_spark.plans import QUERIES
    from awsbatch_mapreduce_spark.plans.events import _EWMA_LAGS

    t0 = datetime.datetime(2024, 1, 1)
    with tempfile.TemporaryDirectory() as d:
        rows = [
            (i, t0 + datetime.timedelta(minutes=i),
             7, "click", cents / 100.0, "{}")
            for i in range(n_events)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string",
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["events_ewma_halflife"].builder(spark, d).collect()
    assert len(out) == 1
    k = min(n_events, _EWMA_LAGS)
    want = cents * ((1 << _EWMA_LAGS) - (1 << (_EWMA_LAGS - k)))
    assert out[0].ewma_fp == want and out[0].n_events == n_events


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.sampled_from(["train", "val", "test"])),
        min_size=0,
        max_size=40,
    )
)
def test_split_leak_arithmetic_matches_bruteforce(members):
    """split_leakage_audit counts leaked pairs WITHOUT a pair join via
    the identity  leaked(group) = C(n,2) - sum_s C(n_s,2).  Verify the
    identity against a brute-force enumeration of cross-split
    same-group pairs on random (group, split) assignments."""
    from collections import Counter
    from itertools import combinations

    brute = sum(
        1
        for (ga, sa), (gb, sb) in combinations(members, 2)
        if ga == gb and sa != sb
    )
    total = Counter(g for g, _ in members)
    per_split = Counter(members)
    formula = sum(n * (n - 1) // 2 for n in total.values()) - sum(
        n * (n - 1) // 2 for n in per_split.values()
    )
    assert formula == brute
