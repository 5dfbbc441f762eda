"""Task packing of the per-part Python passes (operators.decode.pack_units /
map_units): the task count follows Spark's file-split rule, every unit
lands in exactly one task, and a scan runs one task per packed task."""

from __future__ import annotations

import random

import pytest

from embulk_output_s3_parquet_spark.operators.decode import pack_units

MB = 1 << 20
OPEN = 256 * 1024  # the session's spark.sql.files.openCostInBytes
MAX_SPLIT = 128 * MB  # spark.sql.files.maxPartitionBytes default


def _check_partition(tasks: list[list[int]], n_units: int) -> None:
    got = sorted(i for t in tasks for i in t)
    assert got == list(range(n_units)), "every unit in exactly one task"
    assert all(t for t in tasks), "no empty task"
    assert all(t == sorted(t) for t in tasks)


@pytest.mark.parametrize("cores", [1, 4, 8, 32])
def test_tiny_tables_get_at_most_cores_tasks(cores):
    # 16 parts of a few KB: the open cost dominates, one task per core
    weights = [3_000 + 17 * i for i in range(16)]
    tasks = pack_units(weights, cores, MAX_SPLIT, OPEN)
    _check_partition(tasks, 16)
    assert len(tasks) == min(16, cores)


def test_fewer_units_than_cores_gives_one_task_each():
    tasks = pack_units([5_000, 9_000, 7_000], 8, MAX_SPLIT, OPEN)
    _check_partition(tasks, 3)
    assert len(tasks) == 3


def test_small_tables_stay_within_cores():
    # 40 parts of 1-20 MB: above the open cost, below maxPartitionBytes
    # per core -> bytes-per-core splits, so at most `cores` tasks
    rng = random.Random(7)
    weights = [rng.randint(1 * MB, 20 * MB) for _ in range(40)]
    for cores in (4, 8):
        tasks = pack_units(weights, cores, MAX_SPLIT, OPEN)
        _check_partition(tasks, 40)
        assert len(tasks) == cores


@pytest.mark.parametrize("cores", [4, 8])
def test_large_tables_keep_min_units_2x_cores(cores):
    # past 2 x cores x maxPartitionBytes: the pre-packing task count
    big = [100 * MB] * (3 * cores * 2)
    assert len(pack_units(big, cores, MAX_SPLIT, OPEN)) == min(len(big), 2 * cores)
    few = [400 * MB] * (cores + 1)
    assert len(pack_units(few, cores, MAX_SPLIT, OPEN)) == min(len(few), 2 * cores)


def test_open_cost_alone_still_packs():
    assert pack_units([0, 0, 0], 4, MAX_SPLIT, 0) == [[0, 1, 2]]
    assert pack_units([], 4, MAX_SPLIT, OPEN) == []


@pytest.mark.parametrize("seed", range(5))
def test_assignment_is_deterministic_and_load_bounded(seed):
    rng = random.Random(seed)
    n = rng.randint(1, 300)
    weights = [int(rng.paretovariate(1.2) * 50_000) for _ in range(n)]
    cores = rng.choice([2, 4, 8, 16])
    tasks = pack_units(weights, cores, MAX_SPLIT, OPEN)
    _check_partition(tasks, n)
    assert tasks == pack_units(list(weights), cores, MAX_SPLIT, OPEN)
    w = [x + OPEN for x in weights]
    loads = [sum(w[i] for i in t) for t in tasks]
    assert max(loads) <= sum(w) / len(tasks) + max(w)


def test_largest_units_spread_first():
    # two heavy units never share a task while lighter ones can fill in
    tasks = pack_units([50 * MB, 50 * MB, MB, MB, MB, MB], 2, MAX_SPLIT, OPEN)
    assert not any({0, 1} <= set(t) for t in tasks)


# -- the frame and its tasks on Spark ------------------------------------------


def _tasks_of(spark, group: str) -> int:
    tr = spark.sparkContext.statusTracker()
    return sum(
        tr.getStageInfo(s).numTasks
        for j in tr.getJobIdsForGroup(group)
        for s in tr.getJobInfo(j).stageIds
    )


def _noop_write(spark, df, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return _tasks_of(spark, group)


@pytest.fixture(scope="module")
def sixteen_parts(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from embulk_output_s3_parquet_spark.jobs import encode_job
    from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    path = str(tmp_path_factory.mktemp("frame") / "t")
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") * 7 % 101).alias("v"),
        F.concat(F.lit("k"), (F.col("id") % 13).cast("string")).alias("s"),
    )
    encode_job(spark, df, path, CodecPolicy(chunk_rows=256), if_exists="error")
    assert len(EncodedTable(path).completed_parts()) == 16
    return path


def test_sixteen_part_scan_runs_at_most_cores_tasks(spark, sixteen_parts):
    from embulk_output_s3_parquet_spark.jobs import decode_job

    scan = decode_job(spark, sixteen_parts)
    assert _noop_write(spark, scan, "frame-16-parts") <= spark.sparkContext.defaultParallelism
    assert scan.count() == 4000


def test_one_part_scan_fans_out_to_cores_slices(spark, sixteen_parts):
    from embulk_output_s3_parquet_spark.operators.decode import decode_table_scan
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    t = EncodedTable(sixteen_parts)
    pid = min(t.completed_parts())
    scan = decode_table_scan(spark, t, parts={pid})
    assert _noop_write(spark, scan, "frame-1-part") == spark.sparkContext.defaultParallelism
    assert scan.count() == t.lineage()[pid]["rows"]
