"""interval_join vs a brute-force pandas double loop (independent
oracle) + plan shape: binned mode must plan as an equi-join, never a
nested loop; broadcast mode is the explicit BNLJ-vs-broadcast path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.operators import interval_join

SEED = 20260817


def _mk(n_pts=400, n_iv=60, seed=SEED, with_key=False, n_keys=4):
    rng = np.random.default_rng(seed)
    pts = pd.DataFrame(
        {
            "pid": np.arange(n_pts, dtype="int64"),
            "v": (rng.uniform(-50, 150, n_pts)).round(3),
        }
    )
    lo = rng.uniform(-60, 140, n_iv).round(3)
    iv = pd.DataFrame(
        {
            "iid": np.arange(n_iv, dtype="int64"),
            "lo": lo,
            "hi": (lo + rng.uniform(0, 25, n_iv)).round(3),
        }
    )
    if with_key:
        pts["k"] = rng.integers(0, n_keys, n_pts)
        iv["k"] = rng.integers(0, n_keys, n_iv)
    return pts, iv


def _brute(pts, iv, closed="left", keys=()):
    out = []
    for p in pts.itertuples(index=False):
        for i in iv.itertuples(index=False):
            if any(getattr(p, k) != getattr(i, k) for k in keys):
                continue
            hit = i.lo <= p.v < i.hi if closed == "left" else i.lo <= p.v <= i.hi
            if hit:
                out.append((p.pid, i.iid))
    return sorted(out)


def _run(spark, pts, iv, keys=None, **kw):
    res = interval_join(
        spark.createDataFrame(pts),
        spark.createDataFrame(iv),
        point_col="v",
        on=keys,
        **kw,
    ).toPandas()
    return sorted(zip(res["pid"], res["iid"]))


@pytest.mark.parametrize("closed", ["left", "both"])
@pytest.mark.parametrize("bin_size", [0.7, 5.0, 40.0])
def test_binned_matches_bruteforce(spark, closed, bin_size):
    pts, iv = _mk()
    assert _run(spark, pts, iv, closed=closed, bin_size=bin_size) == _brute(
        pts, iv, closed
    )


def test_with_extra_equi_keys(spark):
    pts, iv = _mk(with_key=True, seed=SEED + 1)
    assert _run(spark, pts, iv, keys=["k"], bin_size=5.0) == _brute(
        pts, iv, "left", keys=("k",)
    )


def test_broadcast_strategy_matches(spark):
    pts, iv = _mk(seed=SEED + 2)
    assert _run(spark, pts, iv, strategy="broadcast") == _brute(pts, iv, "left")


def test_broadcast_with_extra_equi_keys(spark):
    """Qualified selects keep the duplicated key columns unambiguous."""
    pts, iv = _mk(with_key=True, seed=SEED + 3)
    assert _run(spark, pts, iv, keys=["k"], strategy="broadcast") == _brute(
        pts, iv, "left", keys=("k",)
    )


def test_each_match_exactly_once(spark):
    """A point inside an interval spanning many bins must surface once."""
    pts = pd.DataFrame({"pid": [0], "v": [10.0]})
    iv = pd.DataFrame({"iid": [0], "lo": [-100.0], "hi": [100.0]})
    assert _run(spark, pts, iv, bin_size=1.0) == [(0, 0)]


def test_boundary_semantics(spark):
    pts = pd.DataFrame({"pid": [0, 1], "v": [5.0, 10.0]})
    iv = pd.DataFrame({"iid": [0], "lo": [5.0], "hi": [10.0]})
    assert _run(spark, pts, iv, bin_size=2.5) == [(0, 0)]  # lo in, hi out
    assert _run(spark, pts, iv, bin_size=2.5, closed="both") == [(0, 0), (1, 0)]


def test_nulls_and_degenerate_never_match(spark):
    pts = pd.DataFrame({"pid": [0, 1], "v": [None, 5.0]})
    iv = pd.DataFrame(
        {"iid": [0, 1, 2], "lo": [None, 4.0, 9.0], "hi": [10.0, None, 3.0]}
    )  # null lo / null hi / inverted (lo > hi)
    assert _run(spark, pts, iv, bin_size=1.0) == []


def test_negative_domain_bins(spark):
    """floor-division binning must stay correct below zero."""
    pts = pd.DataFrame({"pid": [0, 1], "v": [-7.5, -0.1]})
    iv = pd.DataFrame({"iid": [0], "lo": [-8.0], "hi": [0.0]})
    assert _run(spark, pts, iv, bin_size=3.0) == [(0, 0), (1, 0)]


def test_binned_plan_is_equi_join(spark):
    pts, iv = _mk()
    df = interval_join(
        spark.createDataFrame(pts), spark.createDataFrame(iv), point_col="v", bin_size=5.0
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    # the equi-join keys on the bin column (broadcast or shuffled — tiny
    # test frames may auto-broadcast; both are keyed equi-joins)
    assert "__ij_bin" in plan


def test_binned_plan_smj_when_nothing_broadcasts(spark):
    """The at-scale shape (both sides too big to broadcast): a shuffled
    keyed join on the bin column — the plan AQE can skew-split."""
    pts, iv = _mk()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = interval_join(
            spark.createDataFrame(pts),
            spark.createDataFrame(iv),
            point_col="v",
            bin_size=5.0,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_broadcast_plan_is_bnlj(spark):
    pts, iv = _mk()
    df = interval_join(
        spark.createDataFrame(pts),
        spark.createDataFrame(iv),
        point_col="v",
        strategy="broadcast",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in plan


def test_output_name_collision_raises(spark):
    # mirrors asof_join's guard: interval column 'lo' suffixes to 'lo_i'
    # which already exists on the point side -> ambiguous output
    pts = spark.createDataFrame([(1.0, 0)], "p double, lo_i int")
    iv = spark.createDataFrame([(0.0, 2.0, 9)], "lo double, hi double, lo_i int")
    pts2 = pts.withColumnRenamed("lo_i", "lo")  # now 'lo' collides -> 'lo_i' dup
    with pytest.raises(ValueError, match="collide"):
        interval_join(pts2.withColumn("lo_i", F.lit(1)), iv, point_col="p")
    # and a suffixed name landing on an existing point column
    iv2 = spark.createDataFrame([(0.0, 2.0)], "lo double, hi double")
    with pytest.raises(ValueError, match="collide"):
        interval_join(
            pts.withColumn("lo", F.lit(1)), iv2, point_col="p"
        )


# ------------------------------------------------- data-driven bin (r5)


def test_auto_bin_size_matches_bruteforce(spark):
    rng = np.random.default_rng(5)
    pts = pd.DataFrame({"p": rng.uniform(0, 1e6, 400)})
    iv = pd.DataFrame({"lo": rng.uniform(0, 1e6, 60)})
    iv["hi"] = iv["lo"] + rng.uniform(1e4, 5e5, 60)  # wide intervals
    iv["iid"] = np.arange(60)
    expected = sorted(
        (float(p), int(i))
        for p in pts["p"]
        for lo, hi, i in iv.itertuples(index=False)
        if lo <= p < hi
    )
    got = interval_join(
        spark.createDataFrame(pts),
        spark.createDataFrame(iv),
        point_col="p",
    )
    assert sorted((r["p"], r["iid"]) for r in got.collect()) == expected


def test_auto_bin_bounds_amplification_on_wide_intervals(spark):
    # width ~1e6 intervals with the old fixed default (1.0) would have
    # exploded each interval into ~1e6 bin rows; the sampled-median
    # default keeps the explode factor ~2
    from hdfs_anomaly_detection_spark.operators.interval import _width_stats

    iv = spark.createDataFrame(
        [(float(i) * 1e6, float(i) * 1e6 + 1e6, i) for i in range(50)],
        "lo double, hi double, iid int",
    )
    med, _mean = _width_stats(iv, "lo", "hi")
    assert med == pytest.approx(1e6, rel=0.05)
    pts = spark.createDataFrame([(5e5,)], "p double")
    out = interval_join(pts, iv, point_col="p")
    # amplification = width/bin + 1 = 2 bins per interval
    assert out.count() == 1  # correctness
    exploded = iv.withColumn(
        "b",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / F.lit(med)).cast("long"),
                F.floor(F.col("hi") / F.lit(med)).cast("long"),
            )
        ),
    )
    assert exploded.count() <= 50 * 3


def test_auto_bin_warns_on_heavy_tailed_widths(spark):
    # many narrow bands plus a catch-all: g = median hides the tail,
    # the MEAN-based estimate must surface it (total explode rows =
    # n * (mean/g + 1))
    rows = [(float(i), float(i) + 1.0, i) for i in range(200)]
    rows.append((0.0, 1.0e5, 999))  # the catch-all band
    iv = spark.createDataFrame(rows, "lo double, hi double, iid int")
    pts = spark.createDataFrame([(10.5,)], "p double")
    with pytest.warns(UserWarning, match="heavy-tailed"):
        out = interval_join(pts, iv, point_col="p")
        assert out.count() == 2  # band 10 + the catch-all; still correct


def test_explicit_bin_builds_lazily_without_probe_job(spark):
    # an explicit bin_size must NOT trigger the width probe (a Spark
    # action) at plan-build time — composability inside foreachBatch /
    # plan-building loops depends on it
    iv = spark.createDataFrame([(0.0, 10.0, 1)], "lo double, hi double, iid int")
    pts = spark.createDataFrame([(5.0,)], "p double")
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    interval_join(pts, iv, point_col="p", bin_size=5.0)  # build only
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)


def test_degenerate_intervals_fall_back_to_unit_bins(spark):
    iv = spark.createDataFrame([(3.0, 3.0, 1)], "lo double, hi double, iid int")
    pts = spark.createDataFrame([(3.0,), (4.0,)], "p double")
    # [3,3) empty under closed='left'; [3,3] matches p=3 under 'both'
    assert interval_join(pts, iv, point_col="p").count() == 0
    assert interval_join(pts, iv, point_col="p", closed="both").count() == 1
