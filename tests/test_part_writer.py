"""operators.encode.write_part: the task that holds a part writes it and
returns its lineage row.

Pins the part file's footer (statistics on the two pruning columns only, no
embedded Arrow schema, no larger than parquet-mr's file of the same chunks),
the writer's crash and retry safety (temp files never survive or commit, a
re-run stage leaves one file per part, a kill between staging and commit
resumes exactly), and the commit tail's shape (job counts, no Catalyst
writer, no Exchange for a file-input encode).
"""

from __future__ import annotations

import glob
import json
import os
import socket

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_output_s3_parquet_spark import jobs
from embulk_output_s3_parquet_spark.operators import encode as E
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
from embulk_output_s3_parquet_spark.sources.chunkscan import iter_part_tables, scan_file
from embulk_output_s3_parquet_spark.sources.tables import STAGING_LOCK, EncodedTable


def _data(n: int = 2048) -> pa.Table:
    """Sorted unique ``k`` (disjoint chunk zones) and random-token ``s``:
    no two chunks share a payload, as in real tables."""
    rng = np.random.default_rng(5)
    return pa.table({
        "k": pa.array(np.cumsum(rng.integers(1, 1000, n)), pa.int64()),
        "s": pa.array([f"v{v:x}" for v in rng.integers(0, 1 << 40, n)]),
    })


def _encoded(n: int = 2048, chunk_rows: int = 256) -> pa.Table:
    data = _data(n)
    colmap = {"k": "auto", "s": "auto"}
    return E._encode_slices(7, data, colmap, chunk_rows)


def _files(part_dir: str) -> list[str]:
    return sorted(os.listdir(part_dir))


# -- the footer ---------------------------------------------------------------


def test_footer_has_pruning_stats_only_and_no_arrow_schema(tmp_path):
    enc = _encoded()
    row = E.write_part(str(tmp_path), 7, enc, "k")
    assert _files(str(tmp_path / "part_id=7")) == [E.PART_FILE]
    pf = pq.ParquetFile(str(tmp_path / "part_id=7" / E.PART_FILE))
    md = pf.metadata
    assert b"ARROW:schema" not in (md.metadata or {})
    assert "part_id" not in pf.schema_arrow.names
    names = pf.schema_arrow.names
    for rg in range(md.num_row_groups):
        for i, name in enumerate(names):
            st = md.row_group(rg).column(i).statistics
            has = st is not None and st.has_min_max
            assert has == (name in ("col", "chunk_seq")), (rg, name)
    # rows sorted by (col, chunk_seq); the lineage row covers every chunk
    t = pf.read()
    keys = list(zip(t.column("col").to_pylist(), t.column("chunk_seq").to_pylist()))
    assert keys == sorted(keys)
    assert row["rows"] == 2048 and row["chunks"] == 8
    assert row["sha256_manifest"] == E.manifest_sha(
        enc.column("chunk_seq").to_pylist(), enc.column("col").to_pylist(),
        enc.column("payload_sha").to_pylist(),
    )


def test_presorted_chunks_write_the_same_file(tmp_path):
    """Chunks that arrive in (col, chunk_seq) order (stage_parts sorts them
    on the JVM side) are written as they are; the file and the lineage row
    equal those of the same chunks in encoder order."""
    enc = _encoded()
    assert enc.column("col").to_pylist() != sorted(enc.column("col").to_pylist())
    presorted = enc.sort_by([("col", "ascending"), ("chunk_seq", "ascending")])
    a = E.write_part(str(tmp_path / "a"), 7, enc, "k")
    b = E.write_part(str(tmp_path / "b"), 7, presorted, "k")
    assert a == b
    read = [
        open(str(tmp_path / d / "part_id=7" / E.PART_FILE), "rb").read()
        for d in ("a", "b")
    ]
    assert read[0] == read[1]


def test_row_group_pruning_holds_on_a_written_part(tmp_path, monkeypatch):
    """chunkscan's projection and zone pruning skip whole row groups of a
    write_part file (row groups shrunk so each holds two chunks)."""
    enc = _encoded(n=2048, chunk_rows=128)  # 16 chunks x 2 columns
    monkeypatch.setattr(E, "_CHUNK_ROW_GROUP_BYTES", 2 * enc.nbytes // enc.num_rows + 1)
    E.write_part(str(tmp_path), 7, enc, "k")
    path = str(tmp_path / "part_id=7" / E.PART_FILE)
    assert pq.ParquetFile(path).metadata.num_row_groups == 16

    stats: dict = {}
    surviving, _, decoded = scan_file(path, ["k"], [], stats_out=stats)
    assert len(decoded["k"]) == 16
    assert stats["rg_total"] == 16 and stats["rg_read"] == 8, stats

    stats = {}
    fields = [("k", pa.int64()), ("s", pa.string())]
    last = _data().column("k").to_pylist()[2048 - 128:]  # the last chunk's keys
    got = pa.concat_tables(list(iter_part_tables([path], fields, [("k", ">=", last[0])], stats)))
    assert got.column("k").to_pylist() == last
    assert stats["chunks_skipped"] == 15 and stats["rg_read"] == 2, stats


def test_part_file_is_no_larger_than_parquet_mr(spark, tmp_path):
    """The same chunks written by Spark's parquet-mr writer (the previous
    stage writer's settings: 4 MiB blocks, no compression) take at least as
    many bytes as write_part's file."""
    enc = _encoded(n=20000, chunk_rows=512)
    E.write_part(str(tmp_path / "ours"), 7, enc, "k")
    ours = os.path.getsize(str(tmp_path / "ours" / "part_id=7" / E.PART_FILE))
    body = enc.drop_columns(["part_id"]).sort_by([("col", "ascending"), ("chunk_seq", "ascending")])
    schema = T.StructType([f for f in E.ENCODED_SCHEMA.fields if f.name != "part_id"])
    mr_dir = str(tmp_path / "mr")
    (
        spark.createDataFrame(body.to_pandas(), schema).coalesce(1)
        .write.option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(mr_dir, compression="none")
    )
    (mr_file,) = glob.glob(os.path.join(mr_dir, "*.parquet"))
    assert ours <= os.path.getsize(mr_file)


# -- crash and retry safety -----------------------------------------------------


def test_failed_attempt_removes_its_temp_file(tmp_path, monkeypatch):
    def broken_write(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 half a file")
        raise OSError("disk went away")

    monkeypatch.setattr(pq, "write_table", broken_write)
    with pytest.raises(OSError, match="disk went away"):
        E.write_part(str(tmp_path), 3, _encoded(), "k")
    assert _files(str(tmp_path / "part_id=3")) == []


def test_commit_never_moves_a_stray_temp_file(spark, tmp_path):
    """A killed attempt's .tmp-* leftover beside a staged part file stays
    out of data/."""
    t = EncodedTable.create(
        str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]),
        CodecPolicy(),
    )
    staging = t.new_staging()
    row = E.write_part(staging, 0, _encoded(), "k")
    with open(os.path.join(staging, "part_id=0", ".tmp-deadbeef0000"), "wb") as f:
        f.write(b"partial")
    t.commit_staging(staging, {0: {**row, "wall_s": 0.0}})
    assert _files(os.path.join(t.data_dir, "part_id=0")) == [E.PART_FILE]
    assert not os.path.exists(staging)
    assert jobs.verify_table(spark, t.path) == []
    assert jobs.decode_job(spark, t.path).count() == 2048


def _frame(spark, n: int = 4000):
    return spark.range(n).select(
        F.col("id"), (F.col("id") * 7 % 101).alias("v"),
        F.concat(F.lit("k"), (F.col("id") % 13).cast("string")).alias("s"),
    )


def test_rerun_stage_into_same_staging_leaves_one_file_per_part(spark, tmp_path):
    """A retried writer task re-runs into the same staging dir: every part
    dir still holds exactly one .parquet file, with identical lineage."""
    pol = CodecPolicy(chunk_rows=256)
    dfp, plan = jobs._plan(_frame(spark), pol)
    t = EncodedTable.create(str(tmp_path / "t"), _frame(spark).schema, pol)
    staging = t.new_staging()
    first = jobs._stage_parts(dfp, pol, (), False, False, staging, "id", 0.0)
    second = jobs._stage_parts(dfp, pol, (), False, False, staging, "id", 0.0)
    assert len(first) == plan.n_parts > 1
    strip = lambda lin: {p: {k: v for k, v in r.items() if k != "wall_s"} for p, r in lin.items()}
    assert strip(first) == strip(second)
    for p in first:
        assert _files(os.path.join(staging, f"part_id={p}")) == [E.PART_FILE]
    t.commit_staging(staging, second)
    assert jobs.verify_table(spark, t.path) == []
    assert jobs.decode_job(spark, t.path).count() == 4000


def test_kill_between_staging_and_commit_resumes_exactly(spark, tmp_path, monkeypatch):
    """Parts staged by a wave that dies before its commit are invisible:
    verify_table stays [], and the resumed wave's table equals a one-shot
    encode part for part."""
    pol = CodecPolicy(chunk_rows=256)
    df = _frame(spark)
    path = str(tmp_path / "t")
    t = jobs.encode_job(spark, df, path, pol, if_exists="error", max_parts=2)
    done1 = t.completed_parts()
    mtimes = {p: os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}")) for p in done1}

    def die(self, staging, lineage, shift=0):
        raise RuntimeError("killed before commit")

    with monkeypatch.context() as m:
        m.setattr(EncodedTable, "commit_staging", die)
        with pytest.raises(RuntimeError, match="killed before commit"):
            jobs.encode_job(spark, df, path, pol, if_exists="skip")
    (staging,) = glob.glob(os.path.join(path, ".staging-*"))
    assert glob.glob(os.path.join(staging, "part_id=*", E.PART_FILE))
    assert EncodedTable(path).completed_parts() == done1
    assert jobs.verify_table(spark, path) == []
    # the dead writer's lock: its process is gone
    with open(os.path.join(staging, STAGING_LOCK), "w") as f:
        json.dump({"pid": 2**22 + 7, "ppid": 2**22 + 8, "host": socket.gethostname(), "ts": 0.0}, f)

    t2 = jobs.encode_job(spark, df, path, pol, if_exists="skip")
    assert not os.path.exists(staging)
    for p in done1:
        assert os.path.getmtime(os.path.join(t2.data_dir, f"part_id={p}")) == mtimes[p]
    assert jobs.verify_table(spark, path) == []
    once = jobs.encode_job(spark, df, str(tmp_path / "once"), pol, if_exists="error")
    rows = lambda tb: {p: r["rows"] for p, r in tb.lineage().items()}
    assert rows(t2) == rows(once)
    got = jobs.decode_job(spark, path)
    assert got.count() == 4000
    assert got.exceptAll(df).count() == 0 and df.exceptAll(got).count() == 0


# -- the commit tail's shape ----------------------------------------------------


def _run_traced(spark, group: str, fn):
    """Run ``fn`` under a job group; return (Spark jobs, stages, physical
    plans of the SQL executions it ran)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def last(k: int) -> list:
        n = store.executionsCount()  # retained executions, ordered by id
        it = store.executionsList(max(0, n - k), k).iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = max((e.executionId() for e in last(1)), default=-1)
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tr = sc.statusTracker()
    job_ids = tr.getJobIdsForGroup(group)
    stages = [s for j in job_ids for s in tr.getJobInfo(j).stageIds]
    plans = [e.physicalPlanDescription() for e in last(100) if e.executionId() > before]
    return len(job_ids), stages, plans


def test_small_append_runs_few_jobs_and_no_catalyst_writer(spark, tmp_path):
    pol = CodecPolicy(chunk_rows=256)
    path = str(tmp_path / "t")
    jobs.encode_job(spark, _frame(spark), path, pol, if_exists="error")
    assert EncodedTable(path).properties().get("plan-layout") == "lanes-v1"
    batch = spark.createDataFrame(_frame(spark, 64).toPandas(), _frame(spark).schema)
    base = EncodedTable(path).next_part_base()
    n_jobs, _stages, plans = _run_traced(
        spark, "append-64",
        lambda: jobs.encode_job(spark, batch, path, pol, if_exists="skip", part_base=base),
    )
    assert n_jobs <= 5, n_jobs
    assert plans
    for p in plans:
        assert "InsertIntoHadoopFsRelationCommand" not in p and "WriteFiles" not in p, p
    assert jobs.decode_job(spark, path).count() == 4064


def test_file_encode_is_one_python_stage_without_exchange(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(16):  # one file per split: a 16-part table
        pq.write_table(_data(500).slice(0, 500), os.path.join(src, f"f{i:02d}.parquet"))
    path = str(tmp_path / "t")
    n_jobs, stages, plans = _run_traced(
        spark, "file-16",
        lambda: jobs.encode_parquet_job(spark, src, path, CodecPolicy(chunk_rows=128), if_exists="error"),
    )
    assert len(EncodedTable(path).completed_parts()) == 16
    assert n_jobs == 1 and len(stages) == 1, (n_jobs, stages)
    assert plans and all("Exchange" not in p for p in plans), plans
    assert jobs.verify_table(spark, path) == []
    assert jobs.decode_job(spark, path).count() == 16 * 500
