"""Portable HyperLogLog sketch (operators/sketch.py).

The t67 gate proves cross-engine bit-identity of the estimator; these
pin the numeric contracts the gate can't see: accuracy vs exact at real
precisions, the lossless-merge algebra, the linear-counting branch,
bounded register cardinality, NULL semantics, and partitioning
independence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.operators import sketch as sk

SF_SMOKE = "/root/testdata/sf0.001"


def _li(spark):
    return spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")


@pytest.mark.parametrize("hash", ["xx", "md5"])
def test_accuracy_vs_exact(spark, hash):
    """p=12 (~1.6% sigma): estimate within 5% of the exact count, on
    BOTH hash paths (fast xxhash64 and portable md5)."""
    li = _li(spark)
    exact = {
        (r.l_returnflag, r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    est = {
        r.l_returnflag: r.approx_distinct
        for r in sk.approx_count_distinct_portable(
            li, ["l_partkey"], ["l_returnflag"], p=12, hash=hash
        ).collect()
    }
    for flag, n in exact:
        assert abs(est[flag] - n) / n < 0.05, (flag, n, est[flag])


def test_merge_is_lossless(spark):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) — register-exact,
    the property that makes sketches composable across shards."""
    li = _li(spark)
    g = ["l_returnflag"]
    halves = [
        sk.hll_registers(
            li.filter(F.col("l_orderkey") % 2 == i), ["l_partkey"], g, p=8
        )
        for i in (0, 1)
    ]
    merged = sk.hll_merge(*halves, group_by=g)
    full = sk.hll_registers(li, ["l_partkey"], g, p=8)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_register_rows_are_bounded(spark):
    """At most 2^p register rows per group regardless of cardinality —
    the shuffle-size contract."""
    li = _li(spark)
    counts = (
        sk.hll_registers(li, ["l_partkey"], ["l_returnflag"], p=4)
        .groupBy("l_returnflag")
        .count()
        .collect()
    )
    assert counts and all(r["count"] <= 16 for r in counts)


def test_linear_counting_branch(spark):
    """Tiny cardinality vs many registers: correction=True must route
    through linear counting and land near-exact; correction=False's
    raw harmonic estimate is badly biased there (that bias is WHY the
    published branch exists)."""
    df = spark.range(0, 30).select(F.col("id"))
    corrected = sk.approx_count_distinct_portable(df, ["id"], p=12).first()[0]
    raw = sk.approx_count_distinct_portable(
        df, ["id"], p=12, correction=False
    ).first()[0]
    assert abs(corrected - 30) / 30 < 0.1, corrected
    assert raw > corrected  # harmonic overshoots at tiny cardinality


def test_null_rows_are_ignored(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (2, "a"), (None, "b")],
        "v long, g string",
    )
    out = {
        r.g: r.approx_distinct
        for r in sk.approx_count_distinct_portable(
            df, ["v"], ["g"], p=8
        ).collect()
    }
    assert "b" not in out  # all-NULL group: no registers at all
    assert abs(out["a"] - 2) < 0.5


def test_partitioning_independence(spark):
    li = _li(spark)
    a = sorted(
        tuple(r)
        for r in sk.approx_count_distinct_portable(
            li, ["l_partkey"], ["l_returnflag"], p=8
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in sk.approx_count_distinct_portable(
            li.repartition(13), ["l_partkey"], ["l_returnflag"], p=8
        ).collect()
    )
    assert a == b


def test_p_validation_is_loud(spark):
    li = _li(spark)
    for bad in (3, 6, 20):
        with pytest.raises(ValueError, match="multiple of 4"):
            sk.hll_registers(li, ["l_partkey"], p=bad)
    with pytest.raises(ValueError, match="unknown hash"):
        sk.hll_registers(li, ["l_partkey"], hash="sha9")


def test_plan_is_jvm_side_with_partial_agg(spark):
    """The sketch must stay whole-stage-codegen'd: no Python UDFs, and
    the register build must show map-side partial aggregation (the
    term that caps the shuffle at m rows per group per partition)."""
    import io
    from contextlib import redirect_stdout

    li = _li(spark)
    df = sk.approx_count_distinct_portable(
        li, ["l_partkey"], ["l_returnflag"], p=12
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan


# ------------------------------------------------- count-min sketch


def test_cms_conservation_and_no_undercount(spark):
    """Each depth row's counters sum to exactly N (conservation — an
    exact invariant, not probabilistic), and no key's estimate ever
    undercounts (the published one-sided guarantee)."""
    li = _li(spark)
    keys = li.select(F.col("l_returnflag").alias("k"))
    cms = sk.cms_build(keys, ["k"])
    n = keys.count()
    sums = {r.d: r.s for r in cms.groupBy("d").agg(F.sum("cnt").alias("s")).collect()}
    assert sums == {0: n, 1: n, 2: n, 3: n}
    exact = {r.k: r.n for r in keys.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    est = {
        r.k: r.cms_count
        for r in sk.cms_estimate(cms, keys.distinct(), ["k"]).collect()
    }
    for k, n_exact in exact.items():
        assert est[k] >= n_exact, (k, est[k], n_exact)


def test_cms_merge_is_lossless(spark):
    li = _li(spark)
    keys = li.select(F.col("l_partkey").alias("k"), "l_orderkey")
    full = sk.cms_build(keys, ["k"])
    halves = [
        sk.cms_build(keys.filter(F.col("l_orderkey") % 2 == i), ["k"])
        for i in (0, 1)
    ]
    merged = sk.cms_merge(*halves)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_cms_unseen_key_can_be_zero(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    cms = sk.cms_build(df, ["k"], depth=4, width=4096)
    probe = spark.createDataFrame([("never-seen-key-xyz",)], "k string")
    est = sk.cms_estimate(cms, probe, ["k"], width=4096).first().cms_count
    assert est == 0  # wide sketch, 3 keys: no collision


# ------------------------------------------------- histogram quantiles


def test_hist_counts_everything_including_clamped(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in (-5, 0, 3, 9.99, 10, 25)], "x double"
    )
    h = sk.hist_build(df, "x", 0.0, 10.0, 10)
    rows = {r.bin: r.cnt for r in h.collect()}
    assert sum(rows.values()) == 6  # out-of-range values clamp, not drop
    assert rows[0] == 2  # -5 clamps into bin 0 alongside 0
    assert rows[9] == 3  # 9.99 plus the two >= hi clamps


def test_hist_quantile_within_bin_of_exact(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lo, hi, bins = 0.0, 500000.0, 100
    w = (hi - lo) / bins
    h = sk.hist_build(orders, "o_totalprice", lo, hi, bins)
    est = {
        r.q: r.est
        for r in sk.hist_quantile(h, [0.1, 0.5, 0.9, 0.99], lo, hi, bins).collect()
    }
    exact = orders.agg(
        F.expr("percentile(o_totalprice, array(0.1, 0.5, 0.9, 0.99))")
    ).first()[0]
    for q, x in zip((0.1, 0.5, 0.9, 0.99), exact):
        assert abs(est[q] - x) <= w + 1e-9, (q, est[q], x)


def test_hist_merge_and_validation(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    full = sk.hist_build(orders, "o_totalprice", 0.0, 500000.0, 50)
    halves = [
        sk.hist_build(
            orders.filter(F.col("o_orderkey") % 2 == i),
            "o_totalprice", 0.0, 500000.0, 50,
        )
        for i in (0, 1)
    ]
    merged = sk.hist_merge(*halves)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    with pytest.raises(ValueError, match="bins >= 1"):
        sk.hist_build(orders, "o_totalprice", 10.0, 10.0, 5)


def test_hist_far_outlier_clamps_instead_of_overflowing(spark):
    """ANSI mode (Spark 4 default): a far outlier's raw bin index
    exceeds int range — it must clamp to the edge bin, not kill the
    job with a cast overflow."""
    df = spark.createDataFrame([(0.5,), (3.0e17,), (-3.0e17,)], "x double")
    rows = {r.bin: r.cnt for r in sk.hist_build(df, "x", 0.0, 1.0, 10).collect()}
    assert rows == {0: 1, 5: 1, 9: 1}  # -3e17->bin 0; 0.5->bin 5; +3e17->bin 9


def test_geometry_mismatch_fails_loudly(spark):
    """Build/estimate geometry mismatches still fail loudly, but the
    guard is now IN-PLAN (raise_error folded into the estimate's own
    expressions) instead of an eager agg(max) action — ADVICE r6: the
    eager check re-ran uncached sketch lineages a second time.  The
    error therefore surfaces when the estimate executes."""
    from pyspark.errors.exceptions.base import PySparkException

    df = spark.createDataFrame([("a",), ("b",)], "k string")
    wide = sk.cms_build(df, ["k"], depth=4, width=4096)
    est = sk.cms_estimate(wide, df.distinct(), ["k"], width=256)  # lazy: no error yet
    with pytest.raises(PySparkException, match="same geometry"):
        est.collect()
    regs = sk.hll_registers(df, ["k"], p=12)
    est2 = sk.hll_estimate(regs, p=4)
    with pytest.raises(PySparkException, match="same geometry"):
        est2.collect()


def test_geometry_guard_adds_no_extra_job(spark, jobs):
    """The guard must not launch a separate Spark job before the
    estimate itself runs: building the estimate DataFrame is free."""
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    cms = sk.cms_build(df, ["k"])
    regs = sk.hll_registers(df, ["k"], p=4)
    with jobs("geom_guard_probe") as ids:
        sk.cms_estimate(cms, df.distinct(), ["k"])
        sk.hll_estimate(regs, p=4)
    assert not ids, "estimate construction launched a Spark job"


def test_cms_estimate_plan_is_broadcast_lookup(spark):
    """The lookup joins keys against the <= depth*width counter
    relation as a broadcast hash join — never a shuffle of the keys
    against data, never a cartesian."""
    import io
    from contextlib import redirect_stdout

    li = _li(spark)
    keys = li.select(F.col("l_partkey").alias("k")).distinct()
    cms = sk.cms_build(li.select(F.col("l_partkey").alias("k")), ["k"])
    df = sk.cms_estimate(cms, keys, ["k"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_multi_column_keys_do_not_concat_collide(spark):
    """("ab","c") and ("a","bc") are DIFFERENT composite keys — the
    join uses a unit separator (md5 path) / per-column hashing (xx
    path), so the sketch must count 2, not 1."""
    df = spark.createDataFrame(
        [("ab", "c"), ("a", "bc")], "x string, y string"
    )
    for hash in ("xx", "md5"):
        est = sk.approx_count_distinct_portable(
            df, ["x", "y"], p=12, hash=hash
        ).first()[0]
        assert abs(est - 2) < 0.1, (hash, est)


def test_cms_heavy_hitters_guarantee_direction(spark):
    """The sampled+CMS composition's guarantee is ONE-SIDED: every
    candidate whose true frequency reaches the bar is returned (CMS
    never undercounts), so false negatives can only come from the row
    sampler; false positives are bounded by the sketch overcount.
    Pinned: (a) the returned set contains every truly-heavy key here,
    (b) every returned estimate >= the true count, (c) returned keys
    are candidates (subset of the sample's distinct keys)."""
    import hashlib

    rows = []
    rid = 0
    for key, cnt in [("hot", 400), ("warm", 40), ("cold", 4)]:
        for _ in range(cnt):
            rows.append((key, rid))
            rid += 1
    df = spark.createDataFrame(rows, "k string, rid long")
    n = len(rows)
    threshold = 0.5  # bar = 222: only "hot" qualifies
    out = {
        r.k: r.cms_count
        for r in sk.cms_heavy_hitters(
            df, ["k"], F.col("rid"), threshold, sample_mod=4, width=512
        ).collect()
    }
    assert set(out) == {"hot"}
    assert out["hot"] >= 400  # never an undercount
    # candidates replayed in Python: md5-modulus over the row id
    cand = {
        k
        for k, r in rows
        if int(hashlib.md5(str(r).encode()).hexdigest()[:8], 16) % 4 == 0
    }
    assert set(out) <= cand
    # a lower bar admits warm too — still never cold (40 >> overcount)
    out2 = {
        r.k
        for r in sk.cms_heavy_hitters(
            df, ["k"], F.col("rid"), 0.05, sample_mod=4, width=512
        ).collect()
    }
    assert out2 == {"hot", "warm"}


def test_cms_heavy_hitters_validates_parameters(spark):
    df = spark.createDataFrame([("a", 1)], "k string, rid long")
    with pytest.raises(ValueError, match="threshold"):
        sk.cms_heavy_hitters(df, ["k"], F.col("rid"), 0.0)
    with pytest.raises(ValueError, match="sample_mod"):
        sk.cms_heavy_hitters(df, ["k"], F.col("rid"), 0.5, sample_mod=0)


def test_cms_heavy_hitters_null_keys_never_become_candidates(spark):
    """cms_build excludes NULL-key rows from the sketch; the candidate
    pass must mirror that (self-review r7: a NULL candidate would
    inherit the empty-string key's counters through concat_ws's NULL
    collapse and surface as a spurious heavy hitter)."""
    rows = [("", i) for i in range(50)] + [(None, i + 50) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, rid long")
    out = sk.cms_heavy_hitters(
        df, ["k"], F.col("rid"), 0.2, sample_mod=2, width=512
    ).collect()
    assert {r.k for r in out} == {""}  # '' is heavy; NULL never appears
    assert all(r.k is not None for r in out)


def test_grouped_hist_quantile_within_bin_per_group(spark):
    """The grouped rule's guarantee holds WITHIN each group: per
    o_orderstatus, the estimate is within one bin width of that
    group's exact percentile."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lo, hi, bins = 0.0, 500000.0, 100
    w = (hi - lo) / bins
    h = sk.hist_build(
        orders, "o_totalprice", lo, hi, bins,
        group_cols=["o_orderstatus"],
    )
    est = {
        (r.o_orderstatus, r.q): r.est
        for r in sk.hist_quantile(
            h, [0.5, 0.9], lo, hi, bins, group_cols=["o_orderstatus"]
        ).collect()
    }
    exact = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("p")
    ).collect()
    assert len({g for g, _ in est}) >= 2  # the fixture has real groups
    for row in exact:
        for q, x in zip((0.5, 0.9), row.p):
            e = est[(row.o_orderstatus, q)]
            assert abs(e - x) <= w + 1e-9, (row.o_orderstatus, q, e, x)


def test_grouped_hist_rolls_up_to_global(spark):
    """Shared bin edges make per-group sketches mergeable: bin-summing
    the grouped histogram reproduces the global one exactly, and
    hist_merge with group_cols merges per group losslessly."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    gh = sk.hist_build(
        orders, "o_totalprice", 0.0, 500000.0, 50,
        group_cols=["o_orderstatus"],
    )
    rolled = sk.hist_merge(gh)  # no group_cols: grouped -> global
    glob = sk.hist_build(orders, "o_totalprice", 0.0, 500000.0, 50)
    assert rolled.exceptAll(glob).count() == 0
    assert glob.exceptAll(rolled).count() == 0
    halves = [
        sk.hist_build(
            orders.filter(F.col("o_orderkey") % 2 == i),
            "o_totalprice", 0.0, 500000.0, 50,
            group_cols=["o_orderstatus"],
        )
        for i in (0, 1)
    ]
    merged = sk.hist_merge(*halves, group_cols=["o_orderstatus"])
    assert merged.exceptAll(gh).count() == 0
    assert gh.exceptAll(merged).count() == 0


def test_grouped_heavy_hitters_per_group_bars_and_guarantee(spark):
    """group_cols=: each group is judged against its OWN bar
    ceil(threshold·N_group).  'hot' reaches 50% only inside group g1;
    in the much larger g2 the same absolute count is below the bar —
    a global threshold could not express this.  Per-group one-sided
    guarantee: every truly-heavy (group, key) is returned; estimates
    never undercount; NULL groups never appear."""
    rows = []
    rid = 0
    for grp, key, cnt in [
        ("g1", "hot", 80), ("g1", "cold", 15),
        ("g2", "hot", 80), ("g2", "big", 700), ("g2", "mid", 220),
        (None, "hot", 50),  # NULL group: excluded entirely
    ]:
        for _ in range(cnt):
            rows.append((grp, key, rid))
            rid += 1
    df = spark.createDataFrame(rows, "g string, k string, rid long")
    out = {
        (r.g, r.k): r.cms_count
        for r in sk.cms_heavy_hitters(
            df, ["k"], F.col("rid"), 0.5, sample_mod=2, width=512,
            group_cols=["g"],
        ).collect()
    }
    # g1: bar=48 -> hot(80) only; g2: bar=500 -> big(700) only
    assert set(out) == {("g1", "hot"), ("g2", "big")}
    assert out[("g1", "hot")] >= 80 and out[("g2", "big")] >= 700
    # lower bar: g2 admits mid(220) at 0.2 (bar=200); hot(80) still
    # out there, while g1's cold(15) stays under its bar of 19
    out2 = {
        (r.g, r.k)
        for r in sk.cms_heavy_hitters(
            df, ["k"], F.col("rid"), 0.2, sample_mod=2, width=512,
            group_cols=["g"],
        ).collect()
    }
    assert out2 == {("g1", "hot"), ("g2", "big"), ("g2", "mid")}
    # n_total is a global-path-only shortcut
    with pytest.raises(ValueError, match="n_total"):
        sk.cms_heavy_hitters(
            df, ["k"], F.col("rid"), 0.5, n_total=100, group_cols=["g"]
        )


def test_grouped_cms_state_bound_and_rollup_to_global(spark):
    """Grouped counters stay within groups × depth × width rows, and —
    because addresses hash the key only — summing the per-group
    counters over the groups reproduces the global sketch COUNTER FOR
    COUNTER (the t74 grouped-histogram mergeability discipline)."""
    li = _li(spark).select(
        F.col("l_returnflag").alias("g"),
        (F.col("l_partkey") % 100).cast("long").alias("k"),
    )
    depth, width = 4, 64
    grouped = sk.cms_build(li, ["k"], depth, width, group_cols=["g"])
    n_groups = li.select("g").distinct().count()
    assert grouped.count() <= n_groups * depth * width
    rolled = (
        grouped.groupBy("d", "w")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    glob = sk.cms_build(li, ["k"], depth, width)
    assert rolled.exceptAll(glob).count() == 0
    assert glob.exceptAll(rolled).count() == 0
    # grouped merge of two shards == grouped sketch of the union
    sh = [
        sk.cms_build(
            li.filter(F.col("k") % 2 == i), ["k"], depth, width,
            group_cols=["g"],
        )
        for i in (0, 1)
    ]
    merged = sk.cms_merge(*sh, group_cols=["g"])
    assert merged.exceptAll(grouped).count() == 0
    assert grouped.exceptAll(merged).count() == 0
