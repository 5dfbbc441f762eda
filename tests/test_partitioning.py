"""Partition planner tests: byte balance + hot-key salting on the Zipf
corpus (north_rule: "salted, size-balanced partitions ... explicit
repartitionByRange + skew salting on repo/lang hot keys"), and the lane
planners for tables without the corpus keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embulk_output_s3_parquet_spark.corpus import repos_df
from embulk_output_s3_parquet_spark.plans.partitioning import (
    LANE_LAYOUT,
    _row_weight,
    assign_partitions,
    assign_partitions_bucketed,
    assign_partitions_generic,
)

TARGET = 128 * 1024


@pytest.fixture(scope="module")
def planned(spark):
    df = repos_df(spark, 4000).cache()
    out, plan = assign_partitions(df, target_bytes=TARGET)
    return df, out.cache(), plan


def test_every_row_assigned(planned):
    df, out, plan = planned
    assert out.filter(F.col("part_id").isNull()).count() == 0
    assert out.count() == df.count()
    ids = [r["part_id"] for r in out.select("part_id").distinct().collect()]
    assert min(ids) >= 0 and max(ids) < plan.n_parts


def test_byte_balance(planned):
    """No partition way over target (salting splits hot groups); the Zipf
    head would otherwise put ~20% of all bytes in one partition."""
    _, out, plan = planned
    sizes = (
        out.groupBy("part_id")
        .agg(F.sum(F.coalesce(F.length("content"), F.lit(0))).alias("b"))
        .collect()
    )
    biggest = max(r["b"] for r in sizes)
    # a single row can exceed target (can't split a row); otherwise bounded
    assert biggest <= 4 * TARGET, f"hot partition {biggest} >> target {TARGET}"


def test_hot_repo_is_salted(planned):
    df, out, plan = planned
    # the Zipf-hottest repo holds far more than target bytes -> must span
    # multiple part_ids (salt on path/commit)
    hot = (
        df.groupBy("repo")
        .agg(F.sum(F.length("content")).alias("b"))
        .orderBy(F.desc("b"))
        .first()
    )
    assert hot["b"] > 2 * TARGET  # fixture really is skewed
    n_parts_hot = (
        out.filter(F.col("repo") == hot["repo"]).select("part_id").distinct().count()
    )
    assert n_parts_hot >= 2, "hot repo not salted across partitions"


def test_deterministic_assignment(spark, planned):
    """Same input -> identical part_ids (resume correctness depends on it)."""
    df, out, plan = planned
    out2, plan2 = assign_partitions(df, target_bytes=TARGET)
    assert plan2.n_parts == plan.n_parts
    key = ["repo", "path", "commit"]
    diff = (
        out.select(*key, "part_id")
        .join(out2.select(*key, F.col("part_id").alias("p2")), key)
        .filter(F.col("part_id") != F.col("p2"))
        .count()
    )
    assert diff == 0


def test_null_group_keys_are_assigned(spark):
    df = spark.createDataFrame(
        [(None, "p1", "c1", None, "x" * 100), ("r", "p2", "c2", "go", "y" * 100)],
        "repo string, path string, commit string, lang string, content string",
    )
    out, plan = assign_partitions(df, target_bytes=TARGET)
    assert out.filter(F.col("part_id").isNull()).count() == 0


def test_empty_input_plan(spark, tmp_path):
    """Empty DataFrame: plan builds, job commits nothing, no crash."""
    from embulk_output_s3_parquet_spark.jobs import encode_job
    from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy

    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    t = encode_job(
        spark, empty, str(tmp_path / "e"),
        CodecPolicy(chunk_rows=128, target_partition_bytes=1 << 20),
        if_exists="delete",
    )
    assert t.completed_parts() == set()


def test_hot_group_bins_are_exclusive(planned):
    # a hot group's salted bin range must never be shared with any other
    # group -- overlaps merge parts past the size target
    df, out, plan = planned
    g = plan.groups.collect()
    by_lang: dict[str, list] = {}
    for r in g:
        by_lang.setdefault(r["lang"], []).append(r)
    for rows in by_lang.values():
        hot_ranges = [
            (r["start_part"], r["start_part"] + r["splits"])
            for r in rows
            if r["gbytes"] > TARGET
        ]
        others = [
            (r["start_part"], r["start_part"] + r["splits"])
            for r in rows
            if r["gbytes"] <= TARGET
        ]
        for lo, hi in hot_ranges:
            for olo, ohi in hot_ranges + others:
                if (olo, ohi) == (lo, hi):
                    continue
                assert ohi <= lo or olo >= hi, (
                    f"bin overlap: hot [{lo},{hi}) vs [{olo},{ohi})"
                )


def test_driver_plan_matches_window_plan(spark, monkeypatch):
    """r6 fast path: the driver-side bin-packing layout must assign every
    row the SAME part_id as the distributed window layout (resume
    determinism across the threshold, and across engine versions)."""
    import embulk_output_s3_parquet_spark.plans.partitioning as P

    df = repos_df(spark, 1500).cache()
    out_fast, plan_fast = assign_partitions(df, target_bytes=TARGET)
    monkeypatch.setattr(P, "DRIVER_PLAN_MAX_GROUPS", 0)  # force window path
    out_win, plan_win = assign_partitions(df, target_bytes=TARGET)
    assert plan_fast.n_parts == plan_win.n_parts
    key = ["repo", "path", "commit"]
    diff = (
        out_fast.select(*key, "part_id")
        .join(out_win.select(*key, F.col("part_id").alias("p2")), key)
        .filter(F.col("part_id") != F.col("p2"))
        .count()
    )
    assert diff == 0
    gf = sorted(map(tuple, plan_fast.groups.collect()))
    gw = sorted(map(tuple, plan_win.groups.collect()))
    assert gf == gw


def test_constant_group_key_no_unpartitioned_window(spark):
    """The BENCH_r05 warning shape: a frame whose lang/path are literal
    constants (foldable) must still plan and assign correctly through the
    driver path (no WindowExec involved at all)."""
    docs = spark.createDataFrame(
        [(f"r{i % 7}", f"t{i}.py", f"c{i}", "python", "z" * (50 + i % 99)) for i in range(400)],
        "repo string, path string, commit string, lang string, content string",
    ).select(
        "repo", F.lit("t.py").alias("path"), "commit",
        F.lit("python").alias("lang"), "content",
    )
    out, plan = assign_partitions(docs, target_bytes=4096)
    assert out.filter(F.col("part_id").isNull()).count() == 0
    assert out.count() == 400
    ids = {r["part_id"] for r in out.select("part_id").distinct().collect()}
    assert min(ids) >= 0 and max(ids) < plan.n_parts


# -- lane planners (tables without the corpus keys) --------------------------

LANE_TARGET = 64 * 1024
N_BUCKETS = 5


@pytest.fixture(scope="module")
def wide(spark):
    """~20k rows of ~165 weighed bytes: every one of the 16 lanes spans
    several 64 KiB bins, so the salt split inside a lane is exercised."""
    return (
        spark.range(20_000)
        .select(
            "id",
            (F.col("id") % 97).cast("int").alias("k"),
            F.sha2(F.col("id").cast("string"), 512).alias("s"),
            F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") / 7).alias("x"),
        )
        .cache()
    )


def _lane_plan(df, planner):
    if planner == "generic":
        return assign_partitions_generic(df, target_bytes=LANE_TARGET)
    return assign_partitions_bucketed(df, "k", N_BUCKETS, target_bytes=LANE_TARGET)


@pytest.mark.parametrize("planner", ["generic", "bucketed"])
def test_lane_planners_assign_every_row(wide, planner):
    out, plan = _lane_plan(wide, planner)
    out2, plan2 = _lane_plan(wide, planner)
    assert plan.groups is None and plan.layout == LANE_LAYOUT
    assert plan2.n_parts == plan.n_parts
    r = out.agg(
        F.count("*").alias("n"), F.count("part_id").alias("placed"),
        F.min("part_id").alias("lo"), F.max("part_id").alias("hi"),
    ).first()
    assert r["n"] == r["placed"] == 20_000
    assert 0 <= r["lo"] and r["hi"] < plan.n_parts
    moved = (
        out.join(out2.withColumnRenamed("part_id", "p2"), "id")
        .filter(F.col("part_id") != F.col("p2"))
        .count()
    )
    assert moved == 0


def test_bucketed_parts_pure_and_ranges_disjoint(wide):
    out, plan = _lane_plan(wide, "bucketed")
    bkt = F.pmod(F.xxhash64("k"), F.lit(N_BUCKETS))
    parts = out.groupBy("part_id").agg(
        F.countDistinct(bkt).alias("nb"), F.min(bkt).alias("b")
    ).collect()
    assert all(r["nb"] == 1 for r in parts)
    for r in parts:
        lo, hi = plan.bucket_ranges[r["b"]]
        assert lo <= r["part_id"] < hi
    spans = sorted(plan.bucket_ranges.values())
    assert len(spans) == N_BUCKETS and spans[0][0] == 0
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))  # abut: disjoint
    assert spans[-1][1] == plan.n_parts
    assert all(hi - lo > 1 for lo, hi in spans)  # each bucket salt-splits


def test_lane_bins_are_byte_balanced(wide):
    """Inside a lane the row-hash salt splits bytes evenly; across lanes a
    part holds lane_bytes / ceil(lane_bytes / target), so no part is over
    the target and none in a multi-bin lane is under half of it. Lanes of
    k and k+1 bins sit side by side, so the table-wide max/median is
    bounded by (k+1)/k, not by the salt."""
    lane = F.pmod(F.xxhash64("id"), F.lit(16))
    out, plan = _lane_plan(wide, "generic")
    parts = (
        out.groupBy("part_id")
        .agg(F.min(lane).alias("lane"), F.sum(_row_weight(wide)).alias("b"))
        .collect()
    )
    assert len(parts) == plan.n_parts >= 3 * 16  # lanes span several bins
    by_lane: dict[int, list[int]] = {}
    for r in parts:
        by_lane.setdefault(r["lane"], []).append(r["b"])
    assert len(by_lane) == 16
    for sizes in by_lane.values():
        assert len(sizes) >= 3 and max(sizes) / min(sizes) <= 1.25
    sizes = [r["b"] for r in parts]
    assert 0.45 * LANE_TARGET <= min(sizes) and max(sizes) <= 1.05 * LANE_TARGET
    k = min(len(v) for v in by_lane.values())
    assert max(sizes) / sorted(sizes)[len(sizes) // 2] <= 1.1 * (k + 1) / k


def test_lane_plan_is_one_job_and_no_join(spark, wide):
    sc = spark.sparkContext
    group = "lane-plan-jobs"
    # under AQE a shuffle's map stage runs as a job of its own; with it off
    # the lane aggregate is exactly one job, and nothing else may run
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "lane plan")
    try:
        out, _ = _lane_plan(wide, "generic")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in executed
    assert "Join" not in executed


# per-part row counts of lineitem sf0.001 at a 256 KiB target under the
# surrogate-group planner the lanes replaced: every lane fits in one bin
# there, so the two layouts must place the same rows in the same parts
LINEITEM_256K_PART_ROWS = [
    374, 367, 340, 369, 356, 412, 371, 411, 406, 333, 341, 393, 367, 392, 371, 397,
]


def test_lineitem_layout_frozen(spark):
    from __spark_entry__ import SF_DEFAULT

    li = spark.read.parquet(f"{SF_DEFAULT}/lineitem.parquet")
    out, plan = assign_partitions_generic(li, target_bytes=256 * 1024)
    counts = dict(map(tuple, out.groupBy("part_id").count().collect()))
    assert plan.n_parts == len(LINEITEM_256K_PART_ROWS)
    assert [counts.get(p, 0) for p in range(plan.n_parts)] == LINEITEM_256K_PART_ROWS


def test_resume_refused_across_plan_layouts(spark, tmp_path):
    """A wave planned under another layout names different rows by the
    same part ids: resuming it must fail loudly, never skip rows."""
    from embulk_output_s3_parquet_spark.jobs import encode_job
    from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy, ConfigException

    df = spark.range(2000).select("id", (F.col("id") * 3).alias("v"))
    pol = CodecPolicy(chunk_rows=256, target_partition_bytes=1 << 20)
    path = str(tmp_path / "t")
    t = encode_job(spark, df, path, pol, if_exists="delete", max_parts=3)
    assert t.properties()["plan-layout"] == LANE_LAYOUT
    t = encode_job(spark, df, path, pol)  # resume under the same layout
    assert sum(r["rows"] for r in t.lineage().values()) == 2000
    assert encode_job(spark, df, path, pol, part_base=1000).completed_parts()

    for forged in (None, "surrogate-groups-v0"):
        t.set_property("plan-layout", forged)
        before = t.completed_parts()
        with pytest.raises(ConfigException, match="resume refused"):
            encode_job(spark, df, path, pol)
        assert t.completed_parts() == before
