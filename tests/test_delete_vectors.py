"""Merge-on-read DELETE (delete_job(mode="mor")): Iceberg v2
positional-delete / Delta deletion-vector parity.

A trickle delete records per-chunk packed row bitmaps in ``.dv.json``
shard sidecars and flips the generation with ZERO payload writes --
O(matched rows) bitmap bytes instead of O(matched parts) 64 MB rewrites.
Every reader masks deleted positions; metadata-first COUNT subtracts the
recorded per-chunk deleted counts; MIN/MAX/SUM decode affected chunks (a
deleted row may be the extremum); NDV re-sketches vectored parts from
their live rows; quantile deflates its zone histograms by the recorded
per-chunk deletion counts, keeping the [lb, ub] guarantee.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from embulk_output_s3_parquet_spark.jobs import (
    compact_job,
    count_job,
    decode_job,
    decode_job_chunks,
    delete_job,
    distinct_job,
    encode_job,
    export_job,
    minmax_job,
    quantile_job,
    sum_job,
    update_job,
    verify_table,
)
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy, ConfigException
from embulk_output_s3_parquet_spark.sources.pyreader import count_table, read_table
from embulk_output_s3_parquet_spark.sources.tables import EncodedTable


def _pol(**kw):
    kw.setdefault("target_partition_bytes", 64 * 1024)
    kw.setdefault("chunk_rows", 64)
    return CodecPolicy(**kw)


@pytest.fixture()
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture()
def table(spark, docs, tmp_path):
    path = str(tmp_path / "mor")
    encode_job(spark, docs, path, _pol(), if_exists="error")
    return path


def test_mor_delete_every_reader_masks(spark, docs, table):
    n = docs.count()
    killed = docs.where(F.col("doc_id") < 100).count()
    before = {  # untouched payload bytes: capture file mtimes pre-delete
        f: os.path.getmtime(f)
        for d in EncodedTable(table).committed_part_dirs()
        for f in [os.path.join(d, x) for x in os.listdir(d)]
    }
    rep = delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    assert rep["mode"] == "mor" and rep["rows_deleted"] == killed
    assert rep["parts_rewritten"] == 0

    # zero payload writes: every part file byte-untouched
    after = {
        f: os.path.getmtime(f)
        for d in EncodedTable(table).committed_part_dirs()
        for f in [os.path.join(d, x) for x in os.listdir(d)]
    }
    assert after == before

    live = n - killed
    assert decode_job(spark, table).count() == live
    assert decode_job_chunks(spark, table).count() == live
    assert read_table(table).num_rows == live
    assert count_job(spark, table) == live          # pure metadata
    assert count_table(table) == live               # Spark-free metadata
    ids = sorted(read_table(table, columns=["doc_id"]).column("doc_id").to_pylist())
    assert ids == list(range(100, n))

    # enctable DataSource masks too
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableDataSource,
    )

    spark.dataSource.register(EncodedTableDataSource)
    assert spark.read.format("enctable").load(table).count() == live

    # vectors live in sidecars, never the lineage shards every reader parses
    t = EncodedTable(table)
    pdir = t.parts_dir
    assert any(f.endswith(".dv.json") for f in os.listdir(pdir))
    for f in os.listdir(pdir):
        if f.endswith(".json") and not f.endswith((".dv.json", ".hll.json", ".bf.json")):
            with open(os.path.join(pdir, f)) as fh:
                assert '"dv"' not in fh.read()


def test_mor_metadata_first_aggregates_stay_exact(spark, docs, table):
    n = docs.count()
    delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    # the deleted range held the MIN: stats must decode, not trust zones
    assert minmax_job(spark, table, ["doc_id"])["doc_id"] == (100, n - 1)
    assert sum_job(spark, table, ["doc_id"])["doc_id"]["sum"] == sum(range(100, n))
    # predicated count straddling the deleted range
    assert count_job(spark, table, where=("doc_id", "<", 150)) == 50
    assert count_table(table, where=("doc_id", "<", 150)) == 50
    # under a predicate entirely inside the living range, metadata tiers hold
    assert count_job(spark, table, where=("doc_id", ">=", 400)) == n - 400


def test_mor_union_counts_only_fresh_bits(spark, docs, table):
    delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    rep2 = delete_job(spark, table, ("doc_id", "<", 120), mode="mor")
    assert rep2["rows_deleted"] == 20  # overlap not double-counted
    assert count_job(spark, table) == docs.count() - 120
    # fully-overlapped re-delete: zero fresh bits, no spurious flip content
    rep3 = delete_job(spark, table, ("doc_id", "<", 50), mode="mor")
    assert rep3["rows_deleted"] == 0


def test_mor_delete_loads_lineage_of_the_marked_shard_only(
    spark, docs, tmp_path, monkeypatch
):
    """The marking job re-reads full lineage rows only for the shards
    holding parts it marked: a delete confined to one of two shards
    amends the same rows an unscoped load gives, and parses no other
    shard's lineage file."""
    from embulk_output_s3_parquet_spark.sources import tables as tmod
    from embulk_output_s3_parquet_spark.sources.tables import SHARD_SIZE

    n = docs.count()
    path = str(tmp_path / "two_shards")
    encode_job(spark, docs.filter(F.col("doc_id") < n // 2), path, _pol(),
               if_exists="error")
    encode_job(spark, docs.filter(F.col("doc_id") >= n // 2), path, _pol(),
               if_exists="skip", part_base=SHARD_SIZE)
    before = EncodedTable(path).lineage_full()
    assert {p // SHARD_SIZE for p in before} == {0, 1}

    scopes, loaded = [], []
    real_full, real_load = EncodedTable.lineage_full, tmod._load_shard_cached

    def spy_full(self, shards=None):
        scopes.append(shards)
        monkeypatch.setattr(
            tmod, "_load_shard_cached",
            lambda p: loaded.append(os.path.basename(p)) or real_load(p),
        )
        try:
            return real_full(self, shards=shards)
        finally:
            monkeypatch.setattr(tmod, "_load_shard_cached", real_load)

    monkeypatch.setattr(EncodedTable, "lineage_full", spy_full)
    cut = n - 40  # the last rows: all in the second wave
    rep = delete_job(spark, path, ("doc_id", ">=", cut), mode="mor")
    monkeypatch.undo()

    assert rep["rows_deleted"] == 40
    # the marking job's load, then the flip's own scoped one
    assert scopes and all(s == {1} for s in scopes)
    assert "shard-1.json" in loaded
    assert all(f.startswith("shard-1.") for f in loaded), loaded
    after = EncodedTable(path).lineage_full()
    changed = {p for p in after if after[p] != before[p]}
    assert changed == {p for p, r in after.items() if "dv" in r}
    assert changed and all(p // SHARD_SIZE == 1 for p in changed)
    for p in changed:
        assert {k: v for k, v in after[p].items() if k != "dv"} == before[p]
    assert count_job(spark, path) == n - 40


def test_mor_then_cow_then_compact_materializes(spark, docs, table):
    n = docs.count()
    delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    rep = delete_job(spark, table, ("doc_id", ">=", 450), mode="cow")
    assert rep["rows_deleted"] == 50  # cow accounting is dv-aware
    assert count_job(spark, table) == n - 150
    assert verify_table(spark, table) == []
    compact_job(spark, table)
    t = EncodedTable(table)
    assert t.part_dv() == {}  # vectors materialized and dropped
    assert count_job(spark, table) == n - 150
    assert decode_job(spark, table).count() == n - 150
    assert verify_table(spark, table) == []


def test_mor_update_sees_masked_rows(spark, docs, table):
    delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    # an UPDATE over a range overlapping deleted rows must not resurrect them
    update_job(spark, table, ("doc_id", "<", 200), {"lang": "'xx'"})
    got = decode_job(spark, table)
    assert got.where(F.col("lang") == "xx").count() == 100  # 100..199 only
    assert got.count() == docs.count() - 100


def test_mor_snapshot_reads_respect_their_generation(spark, docs, table):
    t = EncodedTable(table)
    t.set_snapshot_retention(2)
    g0 = t.generations()[-1]
    n = docs.count()
    delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    # the pre-delete snapshot still shows every row; current gen masks
    assert decode_job(spark, table, at_gen=g0).count() == n
    assert count_job(spark, table, at_gen=g0) == n
    assert decode_job(spark, table).count() == n - 100
    g1 = EncodedTable(table).generations()[-1]
    assert count_job(spark, table, at_gen=g1) == n - 100


def test_mor_sketch_consumers_see_live_rows(spark, docs, tmp_path):
    """quantile_job / distinct_job answer on vectored tables instead of
    refusing: NDV re-sketches each vectored part from its live rows
    (O(changed parts) payload, merged with untouched parts' stored
    sketches); quantile deflates histogram weights by the per-chunk
    deletion counts and widens rank thresholds, so [lb, ub] provably
    contains the LIVE percentile. Snapshot reads answer under the
    generation's own vectors; compaction agrees with pre-compaction."""
    path = str(tmp_path / "sk")
    encode_job(
        spark, docs, path,
        _pol(ndv_columns=("doc_id", "lang")), if_exists="error",
    )
    EncodedTable(path).set_snapshot_retention(3)
    n = docs.count()
    delete_job(spark, path, ("doc_id", "<", 10), mode="mor")
    assert EncodedTable(path).part_dv() != {}  # vectors live, no rewrite
    live = docs.where(F.col("doc_id") >= 10)
    live_n = n - 10

    q = quantile_job(spark, path, "doc_id", [0.1, 0.5, 0.9])
    assert q["n"] == live_n and q["deleted"] == 10  # doc_id has no nulls
    for qq in (0.1, 0.5, 0.9):
        true = live.selectExpr(f"percentile(doc_id, {qq}) AS p").first()["p"]
        b = q["quantiles"][qq]
        assert b["lb"] <= float(true) <= b["ub"], (qq, b, true)
        assert b["lb"] <= b["est"] <= b["ub"]
    # pre-delete snapshot: no vectors at gen 0, full-table answer
    q0 = quantile_job(spark, path, "doc_id", [0.5], at_gen=0)
    assert q0["n"] == n and q0["deleted"] == 0

    exact = {
        c: live.where(F.col(c).isNotNull()).select(c).distinct().count()
        for c in ("doc_id", "lang")
    }
    for sp in (None, spark):  # Spark-free and executor-fanned rebuilds
        r = distinct_job(path, ["doc_id", "lang"], spark=sp)
        for c, e in exact.items():
            tol = max(4 * r[c]["rel_std_error"] * e, 2)
            assert abs(r[c]["ndv"] - e) <= tol, (c, r[c], e)
    r0 = distinct_job(path, ["doc_id"], at_gen=0)
    assert abs(r0["doc_id"]["ndv"] - n) <= 4 * r0["doc_id"]["rel_std_error"] * n

    # compaction materializes the vectors; answers must agree
    pre = distinct_job(path, ["doc_id"])["doc_id"]["ndv"]
    compact_job(spark, path)
    qc = quantile_job(spark, path, "doc_id", [0.5])
    assert qc["n"] == live_n and qc["deleted"] == 0
    rc = distinct_job(path, ["doc_id"])["doc_id"]
    tol = max(4 * rc["rel_std_error"] * exact["doc_id"], 2)
    assert abs(rc["ndv"] - exact["doc_id"]) <= tol
    assert abs(rc["ndv"] - pre) <= tol  # rebuild ≈ materialized re-sketch


def test_mor_ndv_fully_vectored_part_and_exact_deltas(spark, docs, tmp_path):
    """Edge: a part whose every row is vectored contributes NOTHING to the
    rebuilt NDV merge (its rebuilt sketch is None), and the estimate drops
    accordingly; quantile's n tracks exactly on a null-free column."""
    path = str(tmp_path / "full")
    encode_job(
        spark, docs, path, _pol(ndv_columns=("doc_id",)), if_exists="error",
    )
    t = EncodedTable(path)
    # vector EVERY row of one whole part via its doc_id zone range
    lin = t.lineage()
    pid = sorted(lin)[0]
    zones = lin[pid]["zones"]["doc_id"]
    lo, hi = zones["mm"]
    delete_job(
        spark, path,
        [("doc_id", ">=", lo), ("doc_id", "<=", hi)], mode="mor",
    )
    dv = EncodedTable(path).part_dv()
    assert pid in dv  # the whole-part vector exists, part not rewritten
    killed = docs.where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    ).count()
    live_n = docs.count() - killed
    r = distinct_job(path, ["doc_id"])
    tol = max(4 * r["doc_id"]["rel_std_error"] * live_n, 2)
    assert abs(r["doc_id"]["ndv"] - live_n) <= tol  # doc_id unique per row
    q = quantile_job(spark, path, "doc_id", [0.5])
    assert q["n"] == live_n and q["deleted"] == killed


@pytest.mark.slow
def test_mor_quantile_bounds_hold_under_composed_mutations(spark, tmp_path):
    """Adversarial sweep of the widened-threshold math: after EACH of a
    series of composed merge-on-read deletes (disjoint ranges, an
    overlapping re-delete, a modulo comb that nibbles every chunk, and a
    MoR update) the provable [lb, ub] must contain the live percentile at
    every q, n must equal the live count exactly (null-free column), and
    deleted must equal the vectored total."""
    import random

    from embulk_output_s3_parquet_spark.jobs import quantile_job as qj

    rng = random.Random(7)
    n0 = 4096
    vals = [(i, float((i * 2654435761) % 100_000)) for i in range(n0)]
    df = spark.createDataFrame(vals, "k long, v double").repartition(4)
    path = str(tmp_path / "rq")
    encode_job(spark, df, path, _pol(chunk_rows=256), if_exists="error")

    live = {i: v for i, v in vals}
    preds = []
    for _ in range(3):  # random k-ranges (may overlap previous deletes)
        lo = rng.randrange(0, n0 - 200)
        preds.append([("k", ">=", lo), ("k", "<", lo + rng.randrange(50, 400))])
    preds.append(("k", "<", 64))  # tiny head nibble
    for where in preds:
        delete_job(spark, path, where, mode="mor")
        cjs = where if isinstance(where, list) else [where]

        def _hit(i):
            ops = {">=": lambda a, b: a >= b, "<": lambda a, b: a < b}
            return all(ops[op](i, lit) for _c, op, lit in cjs)

        for i in [i for i in live if _hit(i)]:
            del live[i]
        rep = qj(spark, path, "v", [0.0, 0.25, 0.5, 0.75, 1.0])
        assert rep["n"] == len(live)
        assert rep["deleted"] == n0 - len(live)
        ordered = sorted(live.values())
        for q in (0.0, 0.25, 0.5, 0.75, 1.0):
            true = ordered[round(q * (len(ordered) - 1))]
            b = rep["quantiles"][q]
            assert b["lb"] <= true <= b["ub"], (q, b, true)
            assert b["lb"] <= b["est"] <= b["ub"]
    # a MoR update moves rows: vectors the pre-images, appends post-images
    update_job(spark, path, ("k", ">=", 4000), {"v": "v + 500000.0"}, mode="mor")
    for i in [i for i in live if i >= 4000]:
        live[i] = live[i] + 500000.0
    rep = qj(spark, path, "v", [0.5, 1.0])
    assert rep["n"] == len(live)
    ordered = sorted(live.values())
    for q in (0.5, 1.0):
        true = ordered[round(q * (len(ordered) - 1))]
        b = rep["quantiles"][q]
        assert b["lb"] <= true <= b["ub"], (q, b, true)


def test_mor_ndv_distributed_and_fanout_match_driver(
    spark, docs, tmp_path, monkeypatch
):
    """The three rebuild topologies must agree bit-for-bit: Spark-free
    driver loop, executor-fanned rebuild (>4 vectored parts) with driver
    merge, and the shard-distributed merge with exclude+extra (vectored
    parts dropped from the stored-sketch merge, rebuilt ones merged on
    top). Register-wise HLL merge is associative, so any split of the
    same sketch set must give the same estimate."""
    path = str(tmp_path / "dist")
    encode_job(
        spark, docs, path, _pol(ndv_columns=("doc_id",)), if_exists="error",
    )
    half = int(docs.selectExpr("percentile(doc_id, 0.5) AS p").first()["p"])
    delete_job(spark, path, ("doc_id", "<", half), mode="mor")
    assert len(EncodedTable(path).part_dv()) > 4  # fan-out branch fires
    want = distinct_job(path, ["doc_id"])  # Spark-free rebuild + merge
    got_fan = distinct_job(path, ["doc_id"], spark=spark)
    assert got_fan == want
    monkeypatch.setattr(EncodedTable, "DIST_PRUNE_MIN_SHARDS", 1)
    got_dist = distinct_job(path, ["doc_id"], spark=spark)
    assert got_dist == want
    live = docs.where(F.col("doc_id") >= half).count()
    tol = max(4 * want["doc_id"]["rel_std_error"] * live, 2)
    assert abs(want["doc_id"]["ndv"] - live) <= tol


def test_mor_ndv_distributed_detects_vector_drift(spark, docs, tmp_path):
    """A shard whose dv sidecar names a part NOT in the caller's exclude
    set (a merge-on-read mutation landed after NDV planning) must raise
    the internal re-plan signal instead of silently merging that part's
    ghost-counting stored sketch; distinct_job's retry loop then re-plans
    with the fresh vector set (the equality test above pins the result)."""
    from embulk_output_s3_parquet_spark.jobs import (
        _distinct_distributed,
        _VectorSetMoved,
    )

    path = str(tmp_path / "drift")
    encode_job(
        spark, docs, path, _pol(ndv_columns=("doc_id",)), if_exists="error",
    )
    delete_job(spark, path, ("doc_id", "<", 10), mode="mor")
    with pytest.raises(_VectorSetMoved):
        _distinct_distributed(
            spark, EncodedTable(path), ["doc_id"], frozenset(),
            exclude=frozenset(), extra={},
        )


def test_mor_stream_refuses_fresh_start(spark, docs, table):
    delete_job(spark, table, ("doc_id", "<", 10), mode="mor")
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableDataSource,
    )

    spark.dataSource.register(EncodedTableDataSource)
    q = (
        spark.readStream.format("enctable").load(table)
        .writeStream.format("memory").queryName("dvq")
        .trigger(availableNow=True).start()
    )
    try:
        with pytest.raises(Exception, match="delete vectors"):
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
    finally:
        q.stop()


def test_mor_stream_ignore_deletes_fresh_start_and_flip_tolerance(
    spark, docs, table, tmp_path
):
    """.option('ignoreDeletes', 'true') (Delta semantics): a fresh start
    on a vectored table streams each part's LIVE rows (vectors as of
    stream start), a vector-only generation flip mid-stream is tolerated
    (part ids all survive), and new appended parts keep flowing. A
    copy-on-write rewrite retires ids and must still fail the stream."""
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableDataSource,
    )

    EncodedTable(table).set_snapshot_retention(4)
    n = docs.count()
    delete_job(spark, table, ("doc_id", "<", 10), mode="mor")
    spark.dataSource.register(EncodedTableDataSource)
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")

    def _drain():
        q = (
            spark.readStream.format("enctable")
            .option("ignoreDeletes", "true").load(table)
            .writeStream.format("parquet")
            .option("path", out_dir).option("checkpointLocation", chk)
            .trigger(availableNow=True).start()
        )
        q.processAllAvailable()
        exc = q.exception()
        q.stop()
        if exc is not None:
            raise exc
        return spark.read.parquet(out_dir)

    got = _drain()
    assert got.count() == n - 10  # live rows only
    assert got.where(F.col("doc_id") < 10).count() == 0

    # vector-only flip after the checkpointed batch: the SAME checkpoint
    # resumes across the generation change (id survival verified via the
    # retained snapshot); already-shipped rows are neither re-shipped nor
    # retracted, so the sink is byte-for-byte what it was
    delete_job(spark, table, ("doc_id", "==", 42), mode="mor")
    got2 = _drain()
    assert got2.count() == n - 10

    # copy-on-write rewrite retires part ids: even with ignoreDeletes the
    # resumed stream must fail loudly rather than re-ship rewritten rows
    delete_job(spark, table, ("doc_id", "==", 77))  # cow materializes
    with pytest.raises(Exception, match="rewritten|fresh checkpoint"):
        _drain()


def test_mor_stream_ignore_deletes_witnessed_flip_needs_no_snapshot(
    spark, docs, table,
):
    """A RUNNING ignoreDeletes stream must survive a merge-on-read flip
    on a table with the DEFAULT snapshot retention (0: the old parts-<g>
    dir is removed at the flip). In-run adoption relies on live id
    survival (self._adopted), never on a retained snapshot; the batch
    vector lookup degrades to no-mask when the offset generation's
    sidecars are gone instead of killing the stream."""
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableDataSource,
    )

    assert EncodedTable(table).properties().get("snapshot-retention") is None
    n = docs.count()
    spark.dataSource.register(EncodedTableDataSource)
    q = (
        spark.readStream.format("enctable")
        .option("ignoreDeletes", "true").load(table)
        .writeStream.format("memory").queryName("dvflip").start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("dvflip").count() == n
        # flip happens WHILE the stream runs; old gen dir is rmtree'd
        g_before = EncodedTable(table).generations()[-1]
        delete_job(spark, table, ("doc_id", "<", 10), mode="mor")
        assert EncodedTable(table).generations() == [g_before + 1]
        # new data after the flip: the stream must adopt and keep tailing
        extra = docs.where(F.col("doc_id") < 5).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        encode_job(spark, extra, table, _pol(), if_exists="skip",
                   part_base=1 << 20)
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
        # shipped rows are never retracted; the appended wave arrived
        assert spark.table("dvflip").count() == n + 5
    finally:
        q.stop()


def test_mor_export_and_sample_mask(spark, docs, table, tmp_path):
    from embulk_output_s3_parquet_spark.jobs import sample_job

    n = docs.count()
    delete_job(spark, table, ("doc_id", "<", 100), mode="mor")
    out = str(tmp_path / "exp.parquet")
    rep = export_job(spark, table, out)
    assert rep["rows"] == n - 100
    assert spark.read.parquet(out).where(F.col("doc_id") < 100).count() == 0
    got = sample_job(spark, table, 1.0, granularity="chunk")
    assert got.where(F.col("doc_id") < 100).count() == 0
    assert got.count() == n - 100


def test_mor_isnull_delete_on_added_column(spark, docs, table):
    """A mor DELETE WHERE added_col IS NULL must mark rows of parts that
    PREDATE the column (they are all-null for it by construction) -- the
    fillable evaluation path, not a silent no-match."""
    from pyspark.sql import types as T

    n = docs.count()
    t = EncodedTable(table)
    t.add_column("quality", T.DoubleType())
    rep = delete_job(spark, table, ("quality", "isnull", None), mode="mor")
    assert rep["rows_deleted"] == n
    assert count_job(spark, table) == 0
    assert decode_job(spark, table).count() == 0
    assert read_table(table).num_rows == 0


@pytest.mark.slow
def test_mor_update_vectors_plus_append_one_flip(spark, docs, table):
    """update_job(mode="mor"): matched rows delete-vectored in place,
    updated images appended as new parts, one atomic generation flip --
    the affected 64 MB parts are never rewritten."""
    n = docs.count()
    t = EncodedTable(table)
    parts_before = set(t.completed_parts())
    before = {
        f: os.path.getmtime(f)
        for d in t.committed_part_dirs()
        for f in [os.path.join(d, x) for x in os.listdir(d)]
    }
    rep = update_job(
        spark, table, ("doc_id", "<", 100), {"lang": "'xx'"}, mode="mor"
    )
    assert rep["mode"] == "mor" and rep["rows_updated"] == 100
    assert rep["parts_rewritten"] == 0 and rep["parts_appended"] >= 1

    # original part files byte-untouched; new parts appended
    t2 = EncodedTable(table)
    assert parts_before < set(t2.completed_parts())
    after = {
        f: os.path.getmtime(f)
        for d in t2.committed_part_dirs()
        if os.path.basename(d) in {os.path.basename(x) for x in t.committed_part_dirs()}
        and int(os.path.basename(d).split("=")[1]) in parts_before
        for f in [os.path.join(d, x) for x in os.listdir(d)]
    }
    assert all(after[f] == m for f, m in before.items())

    # exactly one image of every row, values updated
    got = decode_job(spark, table)
    assert got.count() == n
    assert got.where(F.col("lang") == "xx").count() == 100
    assert got.where((F.col("doc_id") < 100) & (F.col("lang") != "xx")).count() == 0
    assert sorted(
        r["doc_id"] for r in got.select("doc_id").collect()
    ) == list(range(n))
    # Spark-free reader agrees; metadata count stays exact
    assert read_table(table).num_rows == n
    assert count_job(spark, table) == n
    assert verify_table(spark, table) == []

    # a second mor update composes (touches rows the first one moved)
    rep2 = update_job(
        spark, table, ("lang", "==", "xx"), {"lang": "'yy'"}, mode="mor"
    )
    assert rep2["rows_updated"] == 100
    got2 = decode_job(spark, table)
    assert got2.count() == n
    assert got2.where(F.col("lang") == "yy").count() == 100
    assert got2.where(F.col("lang") == "xx").count() == 0
    # compaction materializes everything back to a vector-free table
    compact_job(spark, table)
    assert EncodedTable(table).part_dv() == {}
    assert decode_job(spark, table).count() == n
    assert verify_table(spark, table) == []


def test_mor_diff_changelog_sees_vector_changes(spark, docs, table):
    """diff_job/diff_summary must see merge-on-read mutations: a MoR
    delete amends a part's vector WITHOUT minting a new part id, so the
    id-set diff alone reports nothing. Parts whose vector differs between
    the generations decode on both sides under their own generation's
    vector; newly masked rows surface as deletes. Also pins the converse:
    a later copy-on-write rewrite of vectored parts must NOT re-report
    rows their vectors had already deleted (the old side applies the
    from_gen vector to removed parts too)."""
    from embulk_output_s3_parquet_spark.jobs import diff_job, diff_summary

    t = EncodedTable(table)
    t.set_snapshot_retention(4)
    g0 = t.generations()[-1]

    killed = docs.where(F.col("doc_id") < 20).count()
    delete_job(spark, table, ("doc_id", "<", 20), mode="mor")
    g1 = EncodedTable(table).generations()[-1]

    # row-level: exactly the vectored rows, as deletes
    d01 = diff_job(spark, table, g0, g1).collect()
    assert len(d01) == killed
    assert all(r["_change"] == "delete" and r["doc_id"] < 20 for r in d01)

    # metadata-only summary: no parts added/removed, vectors did change,
    # and the exact row delta is negative the deleted count
    s01 = diff_summary(table, g0, g1)
    assert s01["parts_added"] == [] and s01["parts_removed"] == []
    assert len(s01["parts_dv_changed"]) >= 1
    assert s01["rows_delta"] == -killed

    # MoR UPDATE: vector + append in one flip -> pre-image deletes and
    # post-image inserts of the same keys
    upd = docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 25)).count()
    update_job(
        spark,
        table,
        [("doc_id", ">=", 20), ("doc_id", "<", 25)],
        {"lang": "'zz'"},
        mode="mor",
    )
    g2 = EncodedTable(table).generations()[-1]
    d12 = diff_job(spark, table, g1, g2).collect()
    ins = [r for r in d12 if r["_change"] == "insert"]
    dels = [r for r in d12 if r["_change"] == "delete"]
    assert len(ins) == upd and all(r["lang"] == "zz" for r in ins)
    assert len(dels) == upd and all(r["lang"] != "zz" for r in dels)
    assert {r["doc_id"] for r in ins} == {r["doc_id"] for r in dels}

    # compound diff across both MoR mutations
    d02 = diff_job(spark, table, g0, g2).collect()
    assert sum(1 for r in d02 if r["_change"] == "delete") == killed + upd
    assert sum(1 for r in d02 if r["_change"] == "insert") == upd

    # COW rewrite of vectored parts: already-deleted rows stay deleted in
    # the from_gen image, so the changelog shows ONLY the new victim
    delete_job(spark, table, ("doc_id", "==", 30))  # cow materializes
    g3 = EncodedTable(table).generations()[-1]
    d23 = diff_job(spark, table, g2, g3).collect()
    assert len(d23) == 1
    assert d23[0]["_change"] == "delete" and d23[0]["doc_id"] == 30
    s23 = diff_summary(table, g2, g3)
    assert s23["rows_delta"] == -1


def test_mor_quantile_survives_fully_deleted_extreme_chunks(spark, tmp_path):
    """A chunk whose every row is vectored away is excluded from the live
    global bounds, so its zone range can sit entirely OUTSIDE [gmin, gmax]
    -- it must also be excluded from the histograms (its live count is
    zero) instead of producing an out-of-range bin index (fuzz seed 1106:
    IndexError in quantile_job after deleting the whole top value range)."""
    from embulk_output_s3_parquet_spark.jobs import quantile_job as qj

    n0 = 1024
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(n0)], "k long, v double"
    )
    path = str(tmp_path / "fq")
    encode_job(
        spark, df, path, _pol(chunk_rows=128), if_exists="error",
        cluster_by=["v"],
    )
    # kill the ENTIRE top range (the max-side chunks die completely) and
    # the entire bottom chunk (min-side), leaving live rows in the middle
    delete_job(spark, path, ("v", ">=", 700.0), mode="mor")
    delete_job(spark, path, ("v", "<", 128.0), mode="mor")
    rep = qj(spark, path, "v", [0.0, 0.5, 1.0])
    live = list(range(128, 700))
    assert rep["n"] == len(live)
    for q in (0.0, 0.5, 1.0):
        true = float(live[round(q * (len(live) - 1))])
        b = rep["quantiles"][q]
        assert b["lb"] <= true <= b["ub"], (q, b, true)
