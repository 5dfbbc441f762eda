"""End-to-end engine tests (SURVEY.md section 5 plan):

* corpus encode->decode: per-row sha256(content) equality + all five columns
  bit-identical (north_rule invariant; generalizes the reference's
  cell-equality round-trip asserts, TestS3ParquetOutputPlugin.scala:61-83)
* compressed size <= Spark Parquet+Snappy baseline (BASELINE.md)
* kill/resume: completed partitions are not re-encoded (manifest checkpoint;
  the reference explicitly lacks resume, README.md:11)
* catalog if_exists semantics + fail-fast config errors (reference
  TestS3ParquetOutputPluginConfigException.scala:9-46)
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from embulk_output_s3_parquet_spark.corpus import repos_df, six_types_df
from embulk_output_s3_parquet_spark.jobs import decode_job, encode_job, table_metrics
from embulk_output_s3_parquet_spark.operators.decode import roundtrip
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy, ConfigException
from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

ROWS = 2000


@pytest.fixture(scope="module")
def corpus(spark):
    df = repos_df(spark, ROWS).cache()
    df.count()
    return df


def _policy(**kw):
    kw.setdefault("target_partition_bytes", 256 * 1024)
    kw.setdefault("chunk_rows", 1024)
    return CodecPolicy(**kw)


def test_corpus_roundtrip_sha256(spark, corpus, tmp_path):
    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    decoded = decode_job(spark, path)

    key = ["repo", "path", "commit"]
    sha = lambda c: F.when(F.col(c).isNull(), "NULL").otherwise(F.sha2(F.col(c), 256))
    left = corpus.select(*key, sha("content").alias("sha_in"), F.col("lang").alias("lang_in"))
    right = decoded.select(*key, sha("content").alias("sha_out"), F.col("lang").alias("lang_out"))
    joined = left.join(right, key, "full_outer")
    assert joined.count() == ROWS
    bad = joined.filter(
        (F.col("sha_in") != F.col("sha_out"))
        | F.col("sha_in").isNull()
        | F.col("sha_out").isNull()
        | (F.coalesce(F.col("lang_in"), F.lit("N")) != F.coalesce(F.col("lang_out"), F.lit("N")))
    )
    assert bad.count() == 0, bad.take(5)


def test_size_beats_snappy_parquet(spark, corpus, tmp_path):
    base = str(tmp_path / "base")
    corpus.write.option("compression", "snappy").parquet(base)
    base_bytes = sum(os.path.getsize(p) for p in glob.glob(base + "/*.parquet"))

    path = str(tmp_path / "enc")
    table = encode_job(spark, corpus, path, _policy(), if_exists="error")
    m = table_metrics(table)
    assert m["rows"] == ROWS
    assert m["enc_bytes"] <= base_bytes, (m["enc_bytes"], base_bytes)


def test_kill_and_resume(spark, corpus, tmp_path):
    path = str(tmp_path / "enc")
    t = encode_job(spark, corpus, path, _policy(), if_exists="error", max_parts=2)
    done1 = t.completed_parts()
    assert 0 < len(done1)
    lin1 = t.lineage()
    # file mtimes of committed parts must survive the resume untouched
    mtimes1 = {
        p: os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}"))
        for p in done1
    }

    t2 = encode_job(spark, corpus, path, _policy(), if_exists="skip")
    done2 = t2.completed_parts()
    assert done1 < done2
    for p in done1:
        assert t2.lineage()[p]["sha256_manifest"] == lin1[p]["sha256_manifest"]
        assert os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}")) == mtimes1[p]

    decoded = decode_job(spark, path)
    assert decoded.count() == ROWS
    # resuming a complete table is a no-op
    t3 = encode_job(spark, corpus, path, _policy(), if_exists="skip")
    assert t3.completed_parts() == done2


def test_if_exists_semantics(spark, corpus, tmp_path):
    path = str(tmp_path / "enc")
    encode_job(spark, corpus.limit(100), path, _policy(), if_exists="error")
    with pytest.raises(ConfigException, match="already exists"):
        encode_job(spark, corpus.limit(100), path, _policy(), if_exists="error")
    # delete recreates from scratch
    t = encode_job(spark, corpus.limit(50), path, _policy(), if_exists="delete")
    assert table_metrics(t)["rows"] == 50


def test_config_errors_fail_fast(spark, corpus):
    with pytest.raises(ConfigException, match="unknown column"):
        encode_job(spark, corpus, "/tmp/x", _policy(column_options={"nope": "rle"}))
    with pytest.raises(ConfigException, match="unknown codec"):
        encode_job(spark, corpus, "/tmp/x", _policy(column_options={"lang": "lzo"}))
    # arrays/structs/maps all became encodable in round 3; a NullType leaf
    # (untyped literal) is the remaining fail-fast case
    with pytest.raises(ConfigException, match="not encodable"):
        roundtrip(corpus.select(F.lit(None).alias("v")))
    # ...including buried inside a nested type
    with pytest.raises(ConfigException, match="not encodable"):
        roundtrip(corpus.select(F.create_map(F.col("lang"), F.lit(None)).alias("m")))


def test_forced_column_policy_respected(spark, corpus, tmp_path):
    path = str(tmp_path / "enc")
    pol = _policy(column_options={"lang": "dict", "content": "fsst"})
    encode_job(spark, corpus, path, pol, if_exists="error")
    enc = EncodedTable(path).read_encoded(spark)
    lang_codecs = {r["codec"] for r in enc.filter(F.col("col") == "lang").select("codec").distinct().collect()}
    content_codecs = {r["codec"] for r in enc.filter(F.col("col") == "content").select("codec").distinct().collect()}
    assert lang_codecs == {"dict"}
    assert content_codecs <= {"fsst", "raw"}  # raw = chunk with no free code bytes
    assert decode_job(spark, path).count() == ROWS


def test_six_types_golden_roundtrip(spark):
    df = six_types_df(spark)
    out = roundtrip(df).orderBy("c1").collect()
    src = df.orderBy("c1").collect()
    assert out == src


def test_catalog_schema(spark, corpus, tmp_path):
    """S10 parity: Hive/Glue-style schema derivation with overrides
    (reference CatalogRegistrator.scala:180-191)."""
    path = str(tmp_path / "enc")
    t = encode_job(spark, corpus.limit(50), path, _policy(), if_exists="error")
    cols = {c["name"]: c["type"] for c in t.catalog_schema()}
    assert cols == {
        "repo": "STRING", "path": "STRING", "commit": "STRING",
        "lang": "STRING", "content": "STRING",
    }
    over = t.catalog_schema(overrides={"content": "BINARY"})
    assert dict((c["name"], c["type"]) for c in over)["content"] == "BINARY"
    d = t.describe()
    assert d["rows"] == 50 and d["parts"] >= 1 and d["enc_bytes"] > 0


def test_independent_reader_roundtrip(spark, corpus, tmp_path):
    """Second-reader verification (reference's parquet-avro trick,
    EmbulkPluginTestHelper.scala:222-245): decode the encoded table with
    pyarrow + codec kernels only -- no Spark -- and match per-row sha256."""
    import hashlib

    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    t = read_table(path)
    assert t.num_rows == ROWS

    def sha_map(rows):
        return {
            (r["repo"], r["path"], r["commit"]): hashlib.sha256(
                (r["content"] or "\x00NULL").encode()
            ).hexdigest()
            for r in rows
        }

    got = sha_map(t.to_pylist())
    want = sha_map((r.asDict() for r in corpus.collect()))
    assert got == want


def test_generic_table_encode_job(spark, tmp_path):
    """encode_job on a table WITHOUT corpus columns (surrogate partition
    plan): full round-trip on lineitem incl. timestamps and resume."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "enc_li")
    t = encode_job(spark, li, path, _policy(), if_exists="error", max_parts=2)
    assert len(t.completed_parts()) <= 2
    t2 = encode_job(spark, li, path, _policy(), if_exists="skip")
    decoded = decode_job(spark, path)
    a = li.orderBy("l_orderkey", "l_linenumber").toPandas()
    b = decoded.orderBy("l_orderkey", "l_linenumber").toPandas()
    assert a.equals(b)


def test_column_pruned_decode(spark, corpus, tmp_path):
    """Projection pushdown on the encoded table: decoding 2 of 5 columns
    only decodes those chunk rows. The scan path prunes inside the pyarrow
    read (filters on 'col'); the groupBy path pushes the filter to the
    parquet scan -- assert the plan shows it there."""
    from embulk_output_s3_parquet_spark.jobs import decode_job_chunks

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    pruned = decode_job(spark, path, columns=["repo", "lang"])
    assert pruned.columns == ["repo", "lang"]
    assert pruned.count() == ROWS
    grouped = decode_job_chunks(spark, path, columns=["repo", "lang"])
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert "col" in plan  # filter present in the physical plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        decode_job(spark, path, columns=["nope"])
    with _pytest.raises(ValueError, match="unknown columns"):
        decode_job_chunks(spark, path, columns=["nope"])


def test_rows_mode_matches_chunks_mode(spark, corpus, tmp_path):
    """Both shuffle modes (raw-row co-location vs chunk shuffle) produce
    decodable, bit-identical tables with the same total rows."""
    p1, p2 = str(tmp_path / "chunks"), str(tmp_path / "rows")
    encode_job(spark, corpus, p1, _policy(), if_exists="error", shuffle_mode="chunks")
    encode_job(spark, corpus, p2, _policy(), if_exists="error", shuffle_mode="rows")
    key = ["repo", "path", "commit"]
    a = decode_job(spark, p1).select(*key, F.sha2(F.coalesce("content", F.lit("N")), 256).alias("s"))
    b = decode_job(spark, p2).select(*key, F.sha2(F.coalesce("content", F.lit("N")), 256).alias("s"))
    assert a.count() == b.count() == ROWS
    assert a.join(b, key).filter(a.s != b.s).count() == 0


def test_lineage_df(spark, corpus, tmp_path):
    from embulk_output_s3_parquet_spark.jobs import lineage_df

    path = str(tmp_path / "enc")
    t = encode_job(spark, corpus, path, _policy(), if_exists="error")
    lin = lineage_df(spark, t)
    agg = lin.agg(F.sum("rows").alias("r"), F.sum("enc_bytes").alias("e")).first()
    assert agg["r"] == ROWS and agg["e"] > 0
    assert lin.filter(F.length("sha256_manifest") != 64).count() == 0


def test_pyreader_column_pruning(spark, corpus, tmp_path):
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    t = read_table(path, columns=["repo", "lang"])
    assert t.column_names == ["repo", "lang"]
    assert t.num_rows == ROWS


def test_verify_table_detects_corruption(spark, corpus, tmp_path):
    from embulk_output_s3_parquet_spark.jobs import verify_table

    path = str(tmp_path / "enc")
    t = encode_job(spark, corpus, path, _policy(), if_exists="error")
    assert verify_table(spark, path) == []

    # corrupt one committed part: replace its files with another part's
    parts = sorted(t.completed_parts())
    import shutil as sh

    a = os.path.join(t.data_dir, f"part_id={parts[0]}")
    b = os.path.join(t.data_dir, f"part_id={parts[1]}")
    sh.rmtree(a)
    sh.copytree(b, a)
    problems = verify_table(spark, path)
    assert any(p["part_id"] == parts[0] and "mismatch" in p["error"] for p in problems)


def test_register_table_sql(spark, corpus, tmp_path):
    from embulk_output_s3_parquet_spark.jobs import register_table

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    register_table(spark, path, "enc_corpus")
    row = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT repo) AS repos FROM enc_corpus"
    ).first()
    assert row["n"] == ROWS and row["repos"] > 1
    top = spark.sql(
        "SELECT lang, count(*) AS c FROM enc_corpus WHERE lang IS NOT NULL "
        "GROUP BY lang ORDER BY c DESC LIMIT 1"
    ).first()
    assert top["c"] > 0


def test_scan_decode_is_shuffle_free_and_matches_grouped(spark, corpus, tmp_path):
    """decode_table_scan (default decode_job path) must produce the same
    rows as the groupBy-reassembly decode with no Exchange at all in its
    plan: not of encoded payloads, nor of the part-dir work rows."""
    from embulk_output_s3_parquet_spark.jobs import decode_job_chunks

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    scan = decode_job(spark, path)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan
    grouped = decode_job_chunks(spark, path)
    key = ["repo", "path", "commit"]
    a = scan.select(*key, F.sha2(F.coalesce("content", F.lit("")), 256).alias("s"))
    b = grouped.select(*key, F.sha2(F.coalesce("content", F.lit("")), 256).alias("s"))
    assert a.count() == ROWS
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_verify_table_detects_untracked_part(spark, corpus, tmp_path):
    """an uncommitted part_id dir left in data/ must be flagged (the audit
    scans data/ directly, not the committed-pruned view)."""
    import shutil

    from embulk_output_s3_parquet_spark.jobs import verify_table

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    t = EncodedTable(path)
    assert verify_table(spark, path) == []
    src = os.path.join(t.data_dir, "part_id=0")
    stray = os.path.join(t.data_dir, "part_id=99999")
    shutil.copytree(src, stray)
    problems = verify_table(spark, path)
    assert any(
        p["part_id"] == 99999 and p["error"] == "untracked part on disk"
        for p in problems
    )


def test_persistent_catalog_roundtrip(spark, corpus, tmp_path):
    """register_table persists to a catalog file with exists-check semantics
    (reference CatalogRegistrator.scala:104-111); restore_catalog makes the
    tables spark.sql-queryable again without re-registering."""
    from embulk_output_s3_parquet_spark.jobs import register_table, restore_catalog

    path = str(tmp_path / "enc")
    cat = str(tmp_path / "catalog.json")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    register_table(spark, path, "cat_t1", catalog_file=cat)
    assert spark.sql("SELECT count(*) AS n FROM cat_t1").first()["n"] == ROWS

    with pytest.raises(ConfigException, match="already exists"):
        register_table(spark, path, "cat_t1", catalog_file=cat, if_exists="error")
    register_table(spark, path, "cat_t1", catalog_file=cat, if_exists="skip")
    register_table(spark, path, "cat_t1", catalog_file=cat, if_exists="replace")

    # simulate a new session: drop the temp view, then restore from the file
    spark.catalog.dropTempView("cat_t1")
    names = restore_catalog(spark, cat)
    assert names == ["cat_t1"]
    assert spark.sql("SELECT count(*) AS n FROM cat_t1").first()["n"] == ROWS


def test_zone_map_chunk_skipping(spark, corpus, tmp_path):
    """zone maps must (a) be recorded in chunk meta, (b) let decode_table_scan
    skip chunks that cannot match, and (c) never drop rows that may match."""
    import json

    from embulk_output_s3_parquet_spark.codecs import zone_excludes
    from embulk_output_s3_parquet_spark.operators.decode import decode_table_scan

    # truth table
    assert zone_excludes([10, 20], "==", 25) and not zone_excludes([10, 20], "==", 15)
    assert zone_excludes([10, 20], ">", 20) and not zone_excludes([10, 20], ">", 19)
    assert zone_excludes([10, 20], ">=", 21) and not zone_excludes([10, 20], ">=", 20)
    assert zone_excludes([10, 20], "<", 10) and not zone_excludes([10, 20], "<", 11)
    assert zone_excludes([10, 20], "<=", 9) and not zone_excludes([10, 20], "<=", 10)
    assert not zone_excludes(None, "==", 5)
    assert not zone_excludes(["a", "b"], ">", 5)  # incomparable: never skip

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)], "x long, s string"
    )
    path = str(tmp_path / "enc")
    t = encode_job(spark, df, path, _policy(chunk_rows=100), if_exists="error")

    enc = EncodedTable(path).read_encoded(spark)
    metas = [json.loads(r["meta"]) for r in enc.filter(F.col("col") == "x").collect()]
    assert all("mm" in m for m in metas)  # zones recorded for the int column

    full = decode_table_scan(spark, t, columns=["x", "s"])
    assert full.count() == 1000
    none = decode_table_scan(spark, t, columns=["x", "s"], where=("x", ">", 999))
    assert none.count() == 0  # every chunk's zone excludes
    some = decode_table_scan(spark, t, columns=["x", "s"], where=("x", ">=", 0))
    assert some.count() == 1000  # no chunk excluded; nothing lost
    exact = decode_table_scan(spark, t, columns=["x", "s"], where=("x", "==", 123))
    rows = exact.filter(F.col("x") == 123).collect()
    assert [r["s"] for r in rows] == ["v123"]
    with pytest.raises(ValueError, match="not in projection"):
        decode_table_scan(spark, t, columns=["s"], where=("x", "==", 1))
    with pytest.raises(ValueError, match="unsupported zone op"):
        decode_table_scan(spark, t, columns=["x"], where=("x", "!=", 1))


def test_table_stats_from_zone_maps(spark, tmp_path):
    """ANALYZE from chunk metadata: rows/nulls exact for every column,
    min/max exact for int columns (aggregated zone maps), NULL for types
    without numeric zones."""
    from embulk_output_s3_parquet_spark.jobs import table_stats

    rows = [(i, -i * 7, None if i % 5 == 0 else f"s{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "a long, b long, s string")
    path = str(tmp_path / "enc")
    encode_job(spark, df, path, _policy(chunk_rows=16), if_exists="error")
    stats = {r["col"]: r for r in table_stats(spark, path).collect()}
    assert stats["a"]["rows"] == 100 and stats["a"]["nulls"] == 0
    assert (stats["a"]["zmin_long"], stats["a"]["zmax_long"]) == (0, 99)
    assert (stats["b"]["zmin_long"], stats["b"]["zmax_long"]) == (-693, 0)
    assert stats["s"]["nulls"] == 20
    assert stats["s"]["zmin_long"] is None  # string zones are not numeric


def test_zone_map_multi_conjunct(spark, tmp_path):
    from embulk_output_s3_parquet_spark.operators.decode import decode_table_scan

    df = spark.createDataFrame([(i, i * 2) for i in range(1000)], "x long, y long")
    path = str(tmp_path / "enc")
    t = encode_job(spark, df, path, _policy(chunk_rows=100), if_exists="error")
    both = decode_table_scan(
        spark, t, columns=["x", "y"], where=[("x", ">=", 100), ("y", "<", 400)]
    )
    rows = both.filter((F.col("x") >= 100) & (F.col("y") < 400)).collect()
    assert {r["x"] for r in rows} == set(range(100, 200))
    none = decode_table_scan(
        spark, t, columns=["x", "y"], where=[("x", ">=", 0), ("y", ">", 5000)]
    )
    assert none.count() == 0


def test_chunk_files_sorted_for_pruning(spark, corpus, tmp_path):
    """Job-written chunk files must be (col, chunk_seq)-sorted so the
    chunkscan row-group pruning has tight stats (round-3 IO layout), and the
    Spark-free reader must report payload row groups actually skipped when
    projecting."""
    import glob

    import pyarrow.parquet as pq

    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    path = str(tmp_path / "layout")
    encode_job(spark, corpus, path, CodecPolicy(), if_exists="error")
    for f in glob.glob(path + "/data/part_id=*/*.parquet"):
        t = pq.read_table(f, columns=["col", "chunk_seq"])
        pairs = list(zip(t.column("col").to_pylist(), t.column("chunk_seq").to_pylist()))
        assert pairs == sorted(pairs), f
    stats: dict = {}
    out = read_table(path, columns=["lang"], scan_stats=stats)
    assert out.num_rows == corpus.count()
    assert stats["rg_total"] >= stats.get("rg_read", 0)


def test_cluster_by_makes_zones_skip(spark, tmp_path):
    """cluster_by (Iceberg write-order analogue) must turn useless zone maps
    (shuffled values: every chunk spans ~the whole domain) into tight
    disjoint ranges that actually skip chunk payloads under a range
    predicate -- same data, same query, measured via pyreader scan stats."""
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    # shape matters: clustering separates values ACROSS chunks within one
    # (part, task) segment, so segments must span many chunks -- the generic
    # planner makes >=16 surrogate parts, so 20k rows / 2 tasks / 16 parts
    # gives ~625-row segments; chunk_rows=64 -> ~10 chunks per segment (the
    # production shape: 64MB parts hold 40+ chunks)
    df = (
        spark.range(0, 20000, 1, 2)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64("id"), F.lit(100000)).alias("v"),
        )
    )
    pol = CodecPolicy(chunk_rows=64, chunk_bytes=0, target_partition_bytes=1 << 20)
    hi = 95000  # ~5% of rows match

    plain, clustered = {}, {}
    p1 = str(tmp_path / "plain")
    encode_job(spark, df, p1, pol, if_exists="error")
    t1 = read_table(p1, where=("v", ">=", hi), scan_stats=plain)

    p2 = str(tmp_path / "clustered")
    encode_job(spark, df, p2, pol, if_exists="error", cluster_by=["v"])
    t2 = read_table(p2, where=("v", ">=", hi), scan_stats=clustered)

    # identical may-match semantics: both supersets of the true result,
    # clustered returns far fewer false-positive rows
    exact = df.filter(F.col("v") >= hi).count()
    assert t1.num_rows >= exact and t2.num_rows >= exact
    assert clustered["chunks_skipped"] > plain.get("chunks_skipped", 0)
    assert clustered["chunks_skipped"] >= clustered["chunks_total"] * 0.8, clustered
    # and the clustered decode returns the same matching set
    import pyarrow.compute as pc

    got = sorted(pc.filter(t2.column("id"), pc.greater_equal(t2.column("v"), hi)).to_pylist())
    want = sorted(r["id"] for r in df.filter(F.col("v") >= hi).collect())
    assert got == want

    with pytest.raises(ConfigException, match="cluster_by"):
        encode_job(spark, df, str(tmp_path / "bad"), pol, cluster_by=["nope"])


def test_timestamp_zone_scan_e2e(spark, tmp_path):
    """Typed zones end-to-end: encode events clustered by ts, range-scan on
    a datetime literal through decode_job AND pyreader; both skip chunks and
    return exactly the matching rows after the exact filter."""
    import datetime

    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "ev_ts")
    encode_job(
        spark, ev, path, CodecPolicy(chunk_rows=16, chunk_bytes=0), if_exists="error",
        cluster_by=["ts"],
    )
    cut = datetime.datetime(2024, 1, 25, tzinfo=datetime.timezone.utc)
    want = ev.filter(F.col("ts") >= F.lit("2024-01-25 00:00:00")).count()
    assert want > 0

    scan = decode_job(spark, path, columns=["event_id", "ts"], where=("ts", ">=", cut))
    got = scan.filter(F.col("ts") >= F.lit("2024-01-25 00:00:00")).count()
    assert got == want

    stats: dict = {}
    t = read_table(path, columns=["event_id", "ts"], where=("ts", ">=", cut), scan_stats=stats)
    assert stats["chunks_skipped"] > 0, stats
    assert t.num_rows < ev.count()  # zone skipping actually reduced the scan


def test_write_order_recorded_in_manifest(spark, tmp_path):
    """cluster_by is recorded as the Iceberg-sort-order-style 'write-order'
    table property so audits can see how zone maps were clustered."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "wo")
    t = encode_job(
        spark, ev, path, CodecPolicy(chunk_rows=256), if_exists="error",
        cluster_by=["ts", "event_type"],
    )
    assert t.properties()["write-order"] == ["ts", "event_type"]
    assert "codec-policy" in t.properties()
    p2 = str(tmp_path / "wo2")
    t2 = encode_job(spark, ev, p2, CodecPolicy(chunk_rows=256), if_exists="error")
    assert "write-order" not in t2.properties()


def test_scan_counters_observability(spark, tmp_path):
    """Spark-side scan counters (accumulators) report how many chunks and
    payload row groups the distributed scan skipped -- the operator-facing
    proof that zone maps bite in a real job, not only in the pyreader."""
    from embulk_output_s3_parquet_spark.operators.decode import scan_counters

    df = spark.range(0, 20000, 1, 2).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(100000)).alias("v")
    )
    pol = CodecPolicy(chunk_rows=64, chunk_bytes=0, target_partition_bytes=1 << 20)
    path = str(tmp_path / "ctr")
    encode_job(spark, df, path, pol, if_exists="error", cluster_by=["v"])

    ctr = scan_counters(spark)
    out = decode_job(spark, path, where=("v", ">=", 95000), counters=ctr)
    n = out.count()
    assert n >= df.filter(F.col("v") >= 95000).count()
    assert ctr["chunks_total"].value > 0
    assert ctr["chunks_skipped"].value >= ctr["chunks_total"].value * 0.8
    assert ctr["rg_read"].value <= ctr["rg_total"].value


def test_compact_recluster_retrofits_zone_maps(spark, tmp_path):
    """compact_job(cluster_by=) retrofits tight zone maps onto a table that
    was appended unordered: same rows, better skipping, write-order
    recorded."""
    from embulk_output_s3_parquet_spark.jobs import compact_job
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    df = spark.range(0, 20000, 1, 2).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(100000)).alias("v")
    )
    pol = CodecPolicy(chunk_rows=64, chunk_bytes=0, target_partition_bytes=1 << 20)
    path = str(tmp_path / "recluster")
    encode_job(spark, df, path, pol, if_exists="error")  # unordered append
    before: dict = {}
    read_table(path, where=("v", ">=", 95000), scan_stats=before)

    t = compact_job(spark, path, pol, cluster_by=["v"])
    assert t.properties()["write-order"] == ["v"]
    after: dict = {}
    got = read_table(path, where=("v", ">=", 95000), scan_stats=after)
    assert after["chunks_skipped"] > before.get("chunks_skipped", 0)
    # row set identical post-compaction
    import pyarrow.compute as pc

    ids = sorted(
        pc.filter(got.column("id"), pc.greater_equal(got.column("v"), 95000)).to_pylist()
    )
    assert ids == sorted(r["id"] for r in df.filter(F.col("v") >= 95000).collect())


def test_count_job_exact_and_metadata_pruned(spark, tmp_path):
    """count_job == exact COUNT under every op family, on a table clustered
    so range counts resolve almost entirely from metadata."""
    from embulk_output_s3_parquet_spark.jobs import count_job
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "cnt")
    # the generic planner makes >=16 surrogate parts; small chunks give each
    # part several chunks with DISJOINT n_chars ranges after the cluster_by
    # sort, so a range predicate leaves ~1 boundary chunk per part
    encode_job(
        spark, docs, path, _policy(chunk_rows=8), if_exists="error",
        cluster_by=["n_chars"],
    )
    cases = [
        (None, docs.count()),
        (("n_chars", ">=", 450), docs.filter("n_chars >= 450").count()),
        ([("n_chars", ">=", 200), ("n_chars", "<", 400)],
         docs.filter("n_chars >= 200 and n_chars < 400").count()),
        (("lang", "in", ["en", "zh"]), docs.filter("lang in ('en','zh')").count()),
        (("lang", "startswith", "e"), docs.filter("lang like 'e%'").count()),
        (("lang", "notnull", None), docs.filter("lang is not null").count()),
    ]
    for where, want in cases:
        assert count_job(spark, path, where=where) == want, where
        st = {}
        assert count_table(path, where=where, scan_stats=st) == want, where
    # clustered on n_chars: a selective range decodes only boundary chunks
    # (~1 per part); the bulk resolves from zone + null metadata alone
    st = {}
    count_table(path, where=("n_chars", ">=", 450), scan_stats=st)
    assert st["chunks_decoded"] <= st["chunks_total"] / 3


def test_bloom_point_lookup_full_job(spark, corpus, tmp_path):
    """bloom_columns through the full job: a commit-sha point lookup prunes
    most chunks (the unsorted high-card column makes zones useless), results
    exact; unknown/float columns fail fast."""
    from embulk_output_s3_parquet_spark.jobs import count_job
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table, read_table

    path = str(tmp_path / "enc")
    encode_job(
        spark, corpus, path, _policy(chunk_rows=64, bloom_columns=("commit",)),
        if_exists="error",
    )
    commit = corpus.select("commit").first()[0]
    want = corpus.filter(F.col("commit") == commit).count()
    assert want > 0
    assert count_job(spark, path, where=("commit", "==", commit)) == want
    st = {}
    t = read_table(path, columns=["path", "commit"],
                   where=("commit", "==", commit), scan_stats=st)
    import pyarrow.compute as pc

    exact = t.filter(pc.equal(t.column("commit"), commit))
    assert exact.num_rows == want
    # the bloom must have excluded a solid majority of chunks
    assert st["chunks_skipped"] > st["chunks_total"] * 0.5, st
    # absent key: metadata-only empty/near-empty answer -- either part-zone
    # pruning skips every part outright (no file opened) or the chunk-level
    # blooms/zones settle nearly everything
    st = {}
    assert count_table(path, where=("commit", "==", "no-such-sha"), scan_stats=st) == 0
    assert st.get("chunks_decoded", 0) <= st.get("chunks_total", 0) * 0.1, st

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ConfigException, match="unknown column"):
        encode_job(spark, ev, str(tmp_path / "x"),
                   _policy(bloom_columns=("nope",)), if_exists="error")
    with pytest.raises(ConfigException, match="no bloom support"):
        encode_job(spark, ev, str(tmp_path / "y"),
                   _policy(bloom_columns=("value",)), if_exists="error")


def test_compact_inherits_write_order_and_policy(spark, tmp_path):
    """compact_job with no cluster_by must inherit the table's recorded
    write-order (never silently un-cluster), and [] must both un-cluster
    and clear the stale property. The stored policy (incl. bloom_columns)
    carries over too."""
    from embulk_output_s3_parquet_spark.jobs import compact_job
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "c")
    encode_job(
        spark, docs, path,
        _policy(chunk_rows=64, bloom_columns=("lang",)),
        if_exists="error", cluster_by=["n_chars"],
    )
    compact_job(spark, path)  # default: inherit
    t = EncodedTable(path)
    assert t.properties().get("write-order") == ["n_chars"]
    assert tuple(t.policy().bloom_columns) == ("lang",)
    assert decode_job(spark, path).count() == docs.count()
    # blooms actually re-recorded by the inherited policy
    import glob as _glob

    import pyarrow.parquet as pq

    from embulk_output_s3_parquet_spark.codecs import meta_from_json

    f = sorted(_glob.glob(t.data_dir + "/part_id=*/*.parquet"))[0]
    mt = pq.read_table(f, columns=["col", "meta"])
    has_bf = any(
        c == "lang" and "bf" in meta_from_json(m)
        for c, m in zip(mt.column("col").to_pylist(), mt.column("meta").to_pylist())
    )
    assert has_bf

    compact_job(spark, path, cluster_by=[])  # explicit un-cluster
    assert not EncodedTable(path).properties().get("write-order")
    assert decode_job(spark, path).count() == docs.count()


def test_part_zone_pruning(spark, tmp_path):
    """Lineage rows carry per-part column zone summaries; selective
    predicates then skip WHOLE PARTS driver-side (no task, no file open),
    and count_job answers fully-included/no-predicate counts from lineage
    alone. Results always equal the exact filter."""
    from embulk_output_s3_parquet_spark.jobs import count_job
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table, read_table
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    # part-disjoint ranges: sort globally then encode in row order so each
    # surrogate part covers a narrow id range... instead, use doc_id zones
    # per part as-is (random split) and a lang equality that excludes parts
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "pz")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    zones = t.part_zones()
    assert zones and all("doc_id" in z for z in zones.values())

    # a predicate beyond every part's doc_id zone: zero dirs scheduled
    assert t.pruned_part_dirs([("doc_id", ">=", 10**9)]) == []
    assert decode_job(spark, path, where=("doc_id", ">=", 10**9)).count() == 0
    st = {}
    assert count_table(path, where=("doc_id", ">=", 10**9), scan_stats=st) == 0
    assert st.get("parts_skipped", 0) == st["parts_total"]

    # no-predicate count: pure lineage sum (and exact)
    assert count_job(spark, path) == docs.count()
    st = {}
    assert count_table(path, scan_stats=st) == docs.count()
    assert "chunks_total" not in st  # no file was opened

    # selective range still exact through every surface
    want = docs.filter(F.col("doc_id") >= 400).count()
    assert count_job(spark, path, where=("doc_id", ">=", 400)) == want
    got = decode_job(spark, path, columns=["doc_id"], where=("doc_id", ">=", 400))
    assert got.filter(F.col("doc_id") >= 400).count() == want
    st = {}
    tt = read_table(path, columns=["doc_id"], where=("doc_id", ">=", 400), scan_stats=st)
    import pyarrow.compute as pc

    assert tt.filter(pc.greater_equal(tt.column("doc_id"), 400)).num_rows == want


def test_encode_stats_invariant_against_sparkfree_recompute(spark):
    """Verification story for the ONE rows-only oracle query
    (encode_stats_documents): per-chunk codec byte sizes aren't
    SQL-expressible, so the invariant is machine-checked here instead --
    the same documents file pushed through the SAME chunk kernels
    Spark-free (pyarrow + _encode_slices, replicating encode_map's
    per-task loop) must reproduce the query's (col, codec, chunks, rows,
    raw_bytes, enc_bytes) aggregate EXACTLY."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from embulk_output_s3_parquet_spark.operators.encode import (
        _effective_chunk_rows,
        _encode_slices,
        _resolve_policy,
    )
    from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["col"], r["codec"]): (r["chunks"], r["rows"], r["raw_bytes"], r["enc_bytes"])
        for r in entry.queries()["encode_stats_documents"](spark, sf_dir).collect()
    }

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    policy = CodecPolicy(chunk_rows=4096)
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs_df.rdd.getNumPartitions() == 1  # determinism precondition
    colmap = _resolve_policy(docs_df.schema, policy)
    eff = _effective_chunk_rows(t, policy.chunk_rows, policy.chunk_bytes)
    enc = _encode_slices(0, t, colmap, eff, sticky={})
    agg: dict = {}
    for col, codec, n, raw, encb in zip(
        enc.column("col").to_pylist(),
        enc.column("codec").to_pylist(),
        enc.column("n").to_pylist(),
        enc.column("raw_bytes").to_pylist(),
        enc.column("enc_bytes").to_pylist(),
    ):
        c, r, rb, eb = agg.get((col, codec), (0, 0, 0, 0))
        agg[(col, codec)] = (c + 1, r + n, rb + raw, eb + encb)
    assert set(agg) == set(got), (agg, got)
    for key, (c, r, rb, eb) in agg.items():
        gc, gr, grb, geb = got[key]
        # chunk counts, row counts, and ENCODED bytes (the payload the sha
        # audit covers) must match exactly; raw_bytes may differ by the
        # presence of an all-valid validity bitmap (arrow representation
        # detail: Spark's null-free batches omit it, pq.read_table's don't)
        assert (c, r, eb) == (gc, gr, geb), (key, agg[key], got[key])
        assert abs(rb - grb) <= (r + 7) // 8 + 64, (key, rb, grb)


def test_vacuum_job_removes_only_orphans(spark, tmp_path):
    """vacuum: orphan (uncommitted) part dirs, stale staging, and
    superseded shard generations are removed; committed data and the
    current generation are untouched; dry_run only reports."""
    import shutil

    from embulk_output_s3_parquet_spark.jobs import vacuum_job, verify_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "v")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    before = decode_job(spark, path).count()

    # manufacture debris: an orphan part dir, a stale staging dir, and a
    # sibling writer staging leftover
    real = sorted(glob.glob(os.path.join(path, "data", "part_id=*")))[0]
    shutil.copytree(real, os.path.join(path, "data", "part_id=4242"))
    os.makedirs(os.path.join(path, ".staging-deadbeef"))
    os.makedirs(path + ".staging-cafecafe")

    assert any(
        p["error"] == "untracked part on disk" for p in verify_table(spark, path)
    )
    # fresh-mtime staging with no lock is presumed a LIVE writer (r4: vacuum
    # must never sweep an in-flight writer's staging) -- skipped, not counted
    dry = vacuum_job(path, dry_run=True)
    assert dry["orphan_parts"] == [4242]
    assert dry["staging_dirs"] == 0 and dry["live_staging_skipped"] >= 2
    assert os.path.isdir(os.path.join(path, "data", "part_id=4242"))  # dry!

    rep = vacuum_job(path, stale_after_s=0.0)  # operator says: nothing live
    assert rep["orphan_parts"] == [4242] and rep["staging_dirs"] >= 2
    assert not os.path.isdir(os.path.join(path, "data", "part_id=4242"))
    assert not os.path.isdir(path + ".staging-cafecafe")
    assert verify_table(spark, path) == []
    assert decode_job(spark, path).count() == before


def test_concurrent_writer_staging_safety(spark, tmp_path):
    """Single-writer contract (round-3 VERDICT #4): a second writer against
    a table with a LIVE staging dir errors loudly BEFORE any data moves;
    after the first commits, the table verifies green. A DEAD writer's
    staging (lock pid no longer running) is swept silently."""
    import json as _json

    from embulk_output_s3_parquet_spark.jobs import verify_table
    from embulk_output_s3_parquet_spark.plans.policy import ConfigException
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableArrowWriter,
    )
    from embulk_output_s3_parquet_spark.sources.tables import STAGING_LOCK

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "cw")

    # writer A starts and stages one task's output (still uncommitted)
    a = EncodedTableArrowWriter(path, docs.schema, {"chunk_rows": "64"}, False)
    msg = a.write(iter(docs.limit(50).toArrow().to_batches()))

    # writer B must refuse: A's lock pid (this process) is alive
    with pytest.raises(ConfigException, match="appears to be running"):
        EncodedTableArrowWriter(path, docs.schema, {}, True)

    # A's staged file survived B's failed init; A commits and verifies green
    a.commit([msg])
    assert verify_table(spark, path) == []
    assert decode_job(spark, path).count() == 50

    # now simulate A having died: rewrite the lock with a dead pid -> a new
    # writer sweeps the leftover silently and proceeds
    b = EncodedTableArrowWriter(path, docs.schema, {}, True)
    dead = dict(pid=2**22 + 12345, host=__import__("socket").gethostname())
    with open(os.path.join(b._staging, STAGING_LOCK), "w") as f:
        _json.dump(dead, f)
    c = EncodedTableArrowWriter(path, docs.schema, {"chunk_rows": "64"}, True)
    assert not os.path.isdir(b._staging)  # dead leftover swept
    mc = c.write(iter(docs.limit(7).toArrow().to_batches()))
    c.commit([mc])
    assert decode_job(spark, path).count() == 7


def test_encode_direct_matches_dataframe_path(spark, tmp_path):
    """encode_direct (executor-side pyarrow scan of the parquet input; no
    JVM->Python raw-byte hop) must produce a decodable chunk stream with the
    same total rows/raw bytes and bit-identical decoded content as the
    DataFrame path over the same files."""
    from pyspark.sql import functions as F

    from embulk_output_s3_parquet_spark.operators.decode import decode_inline
    from embulk_output_s3_parquet_spark.operators.encode import (
        encode_direct,
        encode_map,
    )

    src = "/root/testdata/sf0.001/lineitem.parquet"
    li = spark.read.parquet(src)
    pol = _policy(chunk_rows=512)
    direct = encode_direct(spark, src, pol, parallelism=4)
    viaipc = encode_map(li, pol)
    a = direct.agg(F.sum("raw_bytes"), F.sum("n")).first()
    b = viaipc.agg(F.sum("raw_bytes"), F.sum("n")).first()
    assert a[1] == b[1]  # same total rows
    # raw_bytes is arr.nbytes: pyarrow-read buffers carry slightly different
    # validity/offset overhead than Spark-shipped Arrow; ~2% is layout noise
    assert abs(a[0] - b[0]) / b[0] < 0.02
    dec = decode_inline(direct, li.schema)
    expr = ("count(*) c", "sum(crc32(concat_ws('|', l_orderkey, l_partkey, "
            "l_returnflag, l_quantity, date_format(l_shipdate, 'yyyy-MM-dd')))) h")
    want = li.selectExpr(*expr).first()
    got = dec.selectExpr(*expr).first()
    assert got == want
    # single split / parallelism larger than split count still works
    tiny = encode_direct(spark, "/root/testdata/sf0.001/region.parquet",
                         _policy(chunk_rows=64), parallelism=64)
    reg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    assert decode_inline(tiny, reg.schema).count() == reg.count()


def test_point_lookup_prunes_parts_via_lineage_blooms(spark, tmp_path):
    """End-to-end VERDICT #5 criterion: a point lookup on a many-part table
    with an opted-in bloom column schedules tasks for FEWER than all parts
    (pruned_part_dirs consults the per-part bloom union in the shard
    sidecar),
    and the lookup result stays exact."""
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "pb")
    pol = _policy(chunk_rows=64, target_partition_bytes=65536,
                  bloom_columns=("source",))
    encode_job(spark, docs, path, pol, if_exists="error")
    t = EncodedTable(path)
    n_parts = len(t.completed_parts())
    assert n_parts >= 4, n_parts
    # blooms live in the per-shard SIDECAR (never in lineage rows: at 10^6
    # parts inline bytes would bloat every lineage read), merged bloom for
    # the opted-in column only
    zones = t.part_zones()
    assert all("bf" not in z.get("source", {}) for z in zones.values())
    sidecar_bfs = t.shard_blooms(0)
    assert set(sidecar_bfs) == set(t.completed_parts())
    assert all(set(cols) == {"source"} for cols in sidecar_bfs.values())

    probe = docs.select("source").first()[0]
    pruned = t.pruned_part_dirs([("source", "==", probe)])
    assert 0 < len(pruned) < n_parts, (len(pruned), n_parts)
    # exactness: the pruned scan returns the same rows as the full table
    want = docs.filter(F.col("source") == probe).count()
    got = (
        decode_job(spark, path, where=("source", "==", probe))
        .filter(F.col("source") == probe)  # where= prunes IO (may-match)
        .count()
    )
    assert got == want
    # a value that exists nowhere prunes everything
    assert t.pruned_part_dirs([("source", "==", "no-such-source-xyz")]) == []


def test_encode_parquet_job_commit_and_resume(spark, tmp_path):
    """encode_parquet_job: the pyarrow-direct split scan feeding the SAME
    staged commit / lineage / resume protocol. part_id = split index is
    deterministic, so a wave-limited run resumes by skipping completed
    splits; the finished table verifies green and round-trips exactly."""
    from embulk_output_s3_parquet_spark.jobs import encode_parquet_job, verify_table

    src = str(tmp_path / "src.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(6).write.parquet(src)
    pol = _policy(chunk_rows=64, target_partition_bytes=1 << 20)
    path = str(tmp_path / "enc")

    t1 = encode_parquet_job(spark, src, path, pol, if_exists="error", max_parts=2)
    done1 = t1.completed_parts()
    assert len(done1) == 2
    lin1 = t1.lineage()

    t2 = encode_parquet_job(spark, src, path, pol, if_exists="skip")
    assert done1 < t2.completed_parts()
    for p in done1:  # committed parts untouched by the resume
        assert t2.lineage()[p]["sha256_manifest"] == lin1[p]["sha256_manifest"]
    assert verify_table(spark, path) == []

    got = decode_job(spark, path)
    assert got.count() == docs.count()
    a = got.selectExpr("sum(crc32(concat_ws('|', doc_id, text, lang))) h").first()
    b = docs.selectExpr("sum(crc32(concat_ws('|', doc_id, text, lang))) h").first()
    assert a == b
    # complete table: a further resume is a no-op
    t3 = encode_parquet_job(spark, src, path, pol, if_exists="skip")
    assert t3.completed_parts() == t2.completed_parts()


def test_encode_parquet_job_refuses_changed_input(spark, tmp_path):
    """Review r4: a resumed direct job whose input file set changed would
    map completed split indices to DIFFERENT data -- must refuse loudly."""
    from embulk_output_s3_parquet_spark.jobs import encode_parquet_job

    src = str(tmp_path / "src.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(4).write.parquet(src)
    pol = _policy(chunk_rows=64, target_partition_bytes=1 << 20)
    path = str(tmp_path / "enc")
    encode_parquet_job(spark, src, path, pol, if_exists="error", max_parts=2)

    # mutate the input: add a file that changes the sorted split plan
    docs.limit(10).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ConfigException, match="resume refused"):
        encode_parquet_job(spark, src, path, pol, if_exists="skip")


def test_plan_parquet_splits_rejects_partitioned_layout(spark, tmp_path):
    from embulk_output_s3_parquet_spark.operators.encode import (
        plan_parquet_splits,
    )

    src = str(tmp_path / "part.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.partitionBy("lang").parquet(src)
    with pytest.raises(ValueError, match="partitioned layouts"):
        plan_parquet_splits(src, _policy())


def test_encode_parquet_job_cluster_by_zones_prune(spark, tmp_path):
    """cluster_by parity on the direct path: per-split sort makes the
    cluster column's chunk zones tight disjoint ranges, so a selective
    range scan skips most chunks' payload row groups."""
    from embulk_output_s3_parquet_spark.jobs import encode_parquet_job
    from embulk_output_s3_parquet_spark.operators.decode import scan_counters
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    src = str(tmp_path / "src.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.coalesce(1).write.parquet(src)
    path = str(tmp_path / "enc")
    t = encode_parquet_job(
        spark, src, path, _policy(chunk_rows=64), if_exists="error",
        cluster_by=["n_chars"],
    )
    assert t.properties().get("write-order") == ["n_chars"]
    ctr = scan_counters(spark)
    got = (
        decode_job(spark, path, where=("n_chars", ">=", 450), counters=ctr)
        .filter(F.col("n_chars") >= 450)
        .count()
    )
    assert got == docs.filter(F.col("n_chars") >= 450).count()
    assert ctr["chunks_skipped"].value > 0, "clustered zones did not prune"


def test_delete_job_rewrites_only_affected_parts(spark, tmp_path):
    """Row-level DELETE (r4): only parts whose zones/blooms admit a match
    are rewritten; provably clean parts keep their files (mtime-stable) and
    lineage rows; results are exact and the table verifies green."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, verify_table
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "del")
    # doc_id blooms: part-level bloom unions make a point delete selective
    # (generic surrogate parts are hash-assigned, so range zones span the
    # domain -- equality pruning is the bloom's job)
    encode_job(
        spark, docs, path,
        _policy(chunk_rows=64, target_partition_bytes=65536,
                bloom_columns=("doc_id",)),
        if_exists="error",
    )
    t = EncodedTable(path)
    before_parts = t.completed_parts()
    lin_before = t.lineage()
    mtimes = {
        p: os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}"))
        for p in before_parts
    }

    victim = int(docs.select("doc_id").first()[0])
    rep = delete_job(spark, path, ("doc_id", "==", victim))
    assert rep["rows_deleted"] == 1
    assert 0 < rep["parts_affected"] < rep["parts_total"], rep

    t2 = EncodedTable(path)
    assert verify_table(spark, path) == []
    got = decode_job(spark, path)
    assert got.count() == docs.count() - 1
    assert got.filter(F.col("doc_id") == victim).count() == 0
    # untouched parts: same ids, same lineage shas, same file mtimes
    untouched = before_parts & t2.completed_parts()
    assert untouched and untouched < before_parts
    lin_after = t2.lineage()
    for p in untouched:
        assert lin_after[p]["sha256_manifest"] == lin_before[p]["sha256_manifest"]
        assert os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}")) == mtimes[p]
    # kept rows bit-identical to the source minus the victim
    a = got.selectExpr("sum(crc32(concat_ws('|', doc_id, text, lang))) h").first()
    b = (
        docs.filter(F.col("doc_id") != victim)
        .selectExpr("sum(crc32(concat_ws('|', doc_id, text, lang))) h").first()
    )
    assert a == b

    # range delete: every part may match (hash parts), exactness still holds
    cut = int(docs.selectExpr("percentile(n_chars, 0.9)").first()[0])
    want_deleted = docs.filter(
        (F.col("n_chars") >= cut) & (F.col("doc_id") != victim)
    ).count()
    rep2 = delete_job(spark, path, ("n_chars", ">=", cut))
    assert rep2["rows_deleted"] == want_deleted
    assert decode_job(spark, path).filter(F.col("n_chars") >= cut).count() == 0
    assert verify_table(spark, path) == []

    # predicate matching nothing: zero rewrites
    rep3 = delete_job(spark, path, ("n_chars", ">=", 10**9))
    assert rep3["parts_affected"] == 0 and rep3["rows_deleted"] == 0


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style ADD COLUMN (r4): metadata-only manifest change; parts
    predating the column read as nulls through EVERY reader (decode_job,
    pyreader, enctable DataSource, count_job), and newly appended parts
    carry real values -- mixed tables read coherently."""
    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import count_job, verify_table
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableDataSource,
    )
    from embulk_output_s3_parquet_spark.sources.pyreader import (
        count_table,
        read_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_old = docs.count()
    path = str(tmp_path / "evo")
    pol = _policy(chunk_rows=64)
    encode_job(spark, docs, path, pol, if_exists="error")

    t = EncodedTable(path)
    t.add_column("quality", T.DoubleType())
    with pytest.raises(ConfigException, match="already exists"):
        t.add_column("quality", T.DoubleType())
    assert "quality" in {f.name for f in t.schema().fields}

    # old parts: nulls everywhere, full row counts preserved
    got = decode_job(spark, path)
    assert got.count() == n_old
    assert got.filter(F.col("quality").isNull()).count() == n_old
    # projection of ONLY the added column still yields every row
    only = decode_job(spark, path, columns=["quality"])
    assert only.count() == n_old
    # count_job decides added-column predicates from metadata alone
    assert count_job(spark, path, where=("quality", "isnull", None)) == n_old
    assert count_job(spark, path, where=("quality", ">=", 0.5)) == 0
    # Spark-free reader agrees
    pt = read_table(path)
    assert pt.num_rows == n_old and pt.column("quality").null_count == n_old
    assert count_table(path, where=("quality", "notnull", None)) == 0

    # append new parts WITH the column (resume path, offset ids)
    with_q = docs.limit(40).withColumn(
        "quality", (F.col("doc_id") % 10).cast("double") / 10
    )
    encode_job(spark, with_q, path, pol, if_exists="skip", part_base=1000)
    assert verify_table(spark, path) == []
    allrows = decode_job(spark, path)
    assert allrows.count() == n_old + 40
    assert allrows.filter(F.col("quality").isNotNull()).count() == 40
    want_hi = with_q.filter(F.col("quality") >= 0.5).count()
    assert count_job(spark, path, where=("quality", ">=", 0.5)) == want_hi

    # the Catalyst surface reads the evolved table too
    try:
        spark.dataSource.register(EncodedTableDataSource)
    except Exception:
        pass
    ds = spark.read.format("enctable").load(path)
    assert ds.count() == n_old + 40
    assert ds.filter(F.col("quality").isNull()).count() == n_old


def test_schema_evolution_drop_column(spark, tmp_path):
    """DROP COLUMN (r4): metadata-only; the column disappears from every
    reader, old parts' bytes stay until compaction, appends continue with
    the narrowed schema, and a re-add of the same name is refused (stale
    chunk data would resurface)."""
    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import compact_job, verify_table
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "drop")
    pol = _policy(chunk_rows=64)
    encode_job(spark, docs, path, pol, if_exists="error")
    t = EncodedTable(path)

    t.drop_column("source")
    assert "source" not in {f.name for f in t.schema().fields}
    got = decode_job(spark, path)
    assert "source" not in got.columns and got.count() == docs.count()
    assert "source" not in read_table(path).schema.names
    with pytest.raises(ConfigException, match="previously dropped"):
        t.add_column("source", T.StringType())
    with pytest.raises(ConfigException, match="does not exist"):
        t.drop_column("nope")

    # appends continue with the narrowed schema
    encode_job(
        spark, docs.limit(20).drop("source"), path, pol,
        if_exists="skip", part_base=1000,
    )
    assert decode_job(spark, path).count() == docs.count() + 20
    assert verify_table(spark, path) == []

    # compaction rewrites parts without the dropped column's bytes;
    # after that the tombstone could be lifted -- current contract keeps it
    compact_job(spark, path)
    assert decode_job(spark, path).count() == docs.count() + 20
    assert verify_table(spark, path) == []


def test_schema_evolution_widen_column(spark, tmp_path):
    """Iceberg-style type WIDENING (int32->int64, float->double,
    decimal(p,s)->decimal(p'>p,s)): metadata-only manifest change; old
    parts keep narrow stored chunks that every reader up-casts on read,
    new parts may carry values impossible in the old type, and predicate
    literals from the widened value space evaluate exactly against narrow
    chunks (zones, blooms, AND boundary decodes)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import count_job, verify_table
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableDataSource,
    )
    from embulk_output_s3_parquet_spark.sources.pyreader import (
        count_table,
        read_table,
    )

    base = spark.range(500).select(
        F.col("id").cast("long").alias("k"),
        F.when(F.col("id") % 50 == 0, F.lit(None))
        .otherwise((F.col("id") * 37 % 1000).cast("int"))
        .alias("small"),
        ((F.col("id") % 13) / 7).cast("float").alias("score"),
        (F.col("id").cast("decimal(8,2)") / 4).cast("decimal(10,2)").alias("amt"),
    )
    path = str(tmp_path / "widen")
    pol = _policy(chunk_rows=64)
    encode_job(spark, base, path, pol, if_exists="error")
    t = EncodedTable(path)

    # refusals: narrowing, cross-family, scale change, unknown, same type
    with pytest.raises(ConfigException, match="not a lossless promotion"):
        t.widen_column("k", T.IntegerType())
    with pytest.raises(ConfigException, match="not a lossless promotion"):
        t.widen_column("small", T.DoubleType())
    with pytest.raises(ConfigException, match="not a lossless promotion"):
        t.widen_column("amt", T.DecimalType(20, 4))
    with pytest.raises(ConfigException, match="not a lossless promotion"):
        t.widen_column("score", T.FloatType())
    with pytest.raises(ConfigException, match="does not exist"):
        t.widen_column("nope", T.LongType())

    t.widen_column("small", T.LongType())
    t.widen_column("score", T.DoubleType())
    t.widen_column("amt", T.DecimalType(20, 2))
    assert [f.dataType.simpleString() for f in t.schema().fields] == [
        "bigint", "bigint", "double", "decimal(20,2)",
    ]
    assert any(h["op"] == "widen_column" for h in t.history())

    # old narrow chunks read back up-cast, values preserved exactly
    wide_expected = base.select(
        "k",
        F.col("small").cast("long").alias("small"),
        F.col("score").cast("double").alias("score"),
        F.col("amt").cast("decimal(20,2)").alias("amt"),
    )
    got = decode_job(spark, path)
    assert got.schema == t.schema() or [
        (f.name, f.dataType) for f in got.schema.fields
    ] == [(f.name, f.dataType) for f in t.schema().fields]
    assert got.exceptAll(wide_expected).count() == 0
    assert wide_expected.exceptAll(got).count() == 0

    # new parts carry values impossible in the old types
    big = spark.createDataFrame(
        [(10_000, 5_000_000_000, 1.5e-45 + 2.5, Decimal("123456789012345.50"))],
        schema=t.schema(),
    )
    encode_job(spark, big, path, pol, if_exists="skip", part_base=1000)
    assert verify_table(spark, path) == []
    allrows = decode_job(spark, path)
    assert allrows.count() == 501
    assert allrows.filter(F.col("small") == 5_000_000_000).count() == 1

    # count_job: widened-space literals against narrow chunks -- the big
    # equality prunes old parts via zones/blooms; the range predicate makes
    # old null-bearing chunks BOUNDARY (z>0 blocks the 'all' shortcut), so
    # the exact decode must widen int32 arrays rather than reject the
    # literal
    assert count_job(spark, path, where=("small", "==", 5_000_000_000)) == 1
    assert (
        count_job(spark, path, where=("small", "<", 5_000_000_000))
        == base.filter(F.col("small").isNotNull()).count()
    )
    assert count_job(
        spark, path, where=("amt", ">=", "123456789012345.50")
    ) == 1

    # Spark-free reader: widened arrow schema + same rows
    pt = read_table(path)
    import pyarrow as pa

    assert pt.schema.field("small").type == pa.int64()
    assert pt.schema.field("score").type == pa.float64()
    assert pt.schema.field("amt").type == pa.decimal128(20, 2)
    assert pt.num_rows == 501
    assert count_table(path, where=("small", "==", 5_000_000_000)) == 1

    # Catalyst surface
    try:
        spark.dataSource.register(EncodedTableDataSource)
    except Exception:
        pass
    ds = spark.read.format("enctable").load(path)
    assert dict(ds.dtypes)["small"] == "bigint"
    assert ds.filter(F.col("small") == 5_000_000_000).count() == 1

    # a wave planned BEFORE the widening may still resume with its narrow
    # frame (chunks store narrow; readers up-cast)
    encode_job(spark, base.limit(10), path, pol, if_exists="skip", part_base=2000)
    assert decode_job(spark, path).count() == 511


def test_delete_survives_replayed_wave(spark, tmp_path):
    """Exactly-once meets DELETE (review r4): a replayed encode wave (same
    input, resume semantics -- the streaming sink's replay path) must NOT
    re-encode parts that delete_job removed; retired ids are tombstoned and
    the deleted rows stay gone."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, verify_table
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "replay")
    pol = _policy(chunk_rows=64, bloom_columns=("doc_id",))
    encode_job(spark, docs, path, pol, if_exists="error")

    victim = int(docs.select("doc_id").first()[0])
    rep = delete_job(spark, path, ("doc_id", "==", victim))
    assert rep["rows_deleted"] == 1
    t = EncodedTable(path)
    assert t.retired_parts(), "delete must tombstone removed part ids"

    # replay the SAME wave (streaming sink crash-replay / batch re-run)
    encode_job(spark, docs, path, pol, if_exists="skip")
    got = decode_job(spark, path)
    assert got.filter(F.col("doc_id") == victim).count() == 0, (
        "replayed wave resurrected deleted rows"
    )
    assert got.count() == docs.count() - 1
    assert verify_table(spark, path) == []


def test_delete_job_temporal_and_decimal_literals(spark, tmp_path):
    """Review r4: the exact delete filter must accept the same literal
    shapes the zone layer does -- ISO strings on timestamps, strings/floats
    on decimals -- without ANSI type-mismatch errors."""
    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import delete_job

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast(T.DecimalType(12, 2)).alias("dec"),
    )
    path = str(tmp_path / "tdel")
    encode_job(spark, ev, path, _policy(chunk_rows=128), if_exists="error")

    cut_us = ev.selectExpr("percentile(unix_micros(ts), 0.8)").first()[0]
    import datetime as dt

    iso = dt.datetime.fromtimestamp(cut_us / 1e6, dt.timezone.utc).replace(
        tzinfo=None
    ).isoformat()
    want = ev.filter(F.col("ts") >= F.lit(iso).cast("timestamp")).count()
    rep = delete_job(spark, path, ("ts", ">=", iso))
    assert rep["rows_deleted"] == want
    # decimal with a string literal
    left = decode_job(spark, path)
    want_dec = left.filter(F.col("dec") >= F.lit("50.00").cast("decimal(12,2)")).count()
    rep2 = delete_job(spark, path, ("dec", ">=", "50.00"))
    assert rep2["rows_deleted"] == want_dec
    # raw epoch int on a timestamp column: loud refusal, not a wrong answer
    with pytest.raises(ConfigException, match="temporal delete literal"):
        delete_job(spark, path, ("ts", ">=", 1700000000000000))


def test_delete_on_partial_encode_plan_preserves_resume(spark, corpus, tmp_path):
    """ADVICE r4 (medium): delete_job on a PARTIALLY encoded table must not
    mint part ids the unfinished encode plan has reserved -- if it did,
    resume would see those ids in completed_parts and silently skip the
    corresponding input partitions (data loss). The persisted high-water
    mark (note_part_extent / next_part_base) forces the rewrite's ids above
    the whole plan range."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, verify_table

    path = str(tmp_path / "partial")
    t = encode_job(spark, corpus, path, _policy(), if_exists="error", max_parts=2)
    done1 = t.completed_parts()
    assert 0 < len(done1) < 8  # genuinely partial

    # the plan extent was reserved up front, before any rewrite runs
    hw = int(t.properties().get("max-part-id", -1))
    assert hw >= max(done1)

    # delete one committed row; the rewrite must allocate ABOVE the plan
    victim = decode_job(spark, path).select("repo", "path", "commit").first()
    rep = delete_job(
        spark, path,
        [("repo", "==", victim["repo"]), ("path", "==", victim["path"]),
         ("commit", "==", victim["commit"])],
    )
    assert rep["rows_deleted"] == 1
    t = EncodedTable(path)
    new_ids = t.completed_parts() - done1
    assert new_ids and min(new_ids) > hw, (sorted(new_ids), hw)

    # resume the interrupted plan: every remaining input partition encodes
    encode_job(spark, corpus, path, _policy(), if_exists="skip")
    assert decode_job(spark, path).count() == ROWS - 1
    assert verify_table(spark, path) == []


def test_legacy_inline_lineage_delete_tombstones(spark, tmp_path):
    """ADVICE r4 (medium): on a pre-shard table (lineage inline in the core
    manifest), delete_job must still record retired-part tombstones --
    otherwise a replayed wave re-encodes the removed ids and resurrects
    deleted rows."""
    import json
    import shutil

    from embulk_output_s3_parquet_spark.jobs import delete_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "legacy")
    pol = _policy(chunk_rows=64)
    encode_job(spark, docs, path, pol, if_exists="error")
    t = EncodedTable(path)

    # rewrite the manifest into the legacy inline form the sharded layout
    # replaced: parts embedded in the manifest, no parts-<gen> dir
    m = t._core_manifest()
    m["parts"] = {str(k): v for k, v in t.lineage().items()}
    gen = m.pop("parts_gen", 0)
    t._write_manifest(m)
    shutil.rmtree(os.path.join(path, f"parts-{gen}"), ignore_errors=True)
    assert t.completed_parts() == set(int(k) for k in m["parts"])

    victim = int(docs.select("doc_id").first()[0])
    rep = delete_job(spark, path, ("doc_id", "==", victim))
    assert rep["rows_deleted"] == 1
    t = EncodedTable(path)
    assert t.retired_parts(), "legacy-manifest delete must tombstone"

    # replayed wave: deleted row stays gone
    encode_job(spark, docs, path, pol, if_exists="skip")
    got = decode_job(spark, path)
    assert got.filter(F.col("doc_id") == victim).count() == 0
    assert got.count() == docs.count() - 1


def test_next_part_base_monotone(tmp_path, spark):
    """Unit contract of the high-water allocator: above committed ids,
    retired tombstones, and the persisted plan extent; note_part_extent
    never moves backwards."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "hw")
    encode_job(spark, docs.limit(50), path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    top = max(t.completed_parts())
    assert t.next_part_base() > top

    t.note_part_extent(top + 100)
    assert t.next_part_base() == top + 101
    t.note_part_extent(top + 5)  # monotone: lower marks are ignored
    assert t.next_part_base() == top + 101

    # retired ids above the mark also push the base up
    m = t._core_manifest()
    m.setdefault("properties", {})["retired-parts"] = [top + 500]
    t._write_manifest(m)
    assert t.next_part_base() == top + 501


def test_direct_fingerprint_reconciled_when_nothing_committed(spark, tmp_path):
    """ADVICE r4 (low): a recorded fingerprint with ZERO committed parts
    pins nothing -- a changed input must be accepted and the fingerprint
    updated, not silently kept stale. With committed parts the refusal
    still fires, including for a same-shape rewrite (mtime in the
    fingerprint)."""
    import shutil

    from embulk_output_s3_parquet_spark.jobs import encode_parquet_job

    src = str(tmp_path / "in")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/documents.parquet", src + "/a.parquet")
    path = str(tmp_path / "enc")

    # first wave dies before committing anything (max_parts=0): the
    # fingerprint is recorded, done stays empty
    t = encode_parquet_job(spark, src, path, _policy(), max_parts=0)
    assert t.completed_parts() == set()
    fp0 = t.properties()["direct-input-fingerprint"]

    # input changes (touch -> new mtime): accepted, fingerprint reconciled
    os.utime(src + "/a.parquet", (1e9, 1e9))
    t = encode_parquet_job(spark, src, path, _policy(), if_exists="skip")
    fp1 = EncodedTable(path).properties()["direct-input-fingerprint"]
    assert fp1 != fp0
    assert decode_job(spark, path).count() == 500

    # now parts exist: any further input change is refused loudly
    os.utime(src + "/a.parquet", (2e9, 2e9))
    with pytest.raises(ConfigException, match="resume refused"):
        encode_parquet_job(spark, src, path, _policy(), if_exists="skip")


def test_staging_heartbeat_touches_lock(tmp_path):
    """ADVICE r4 (low): the writer-lock mtime must advance while a long
    compute stage runs, so cross-host liveness (mtime heartbeat) cannot
    declare a live writer dead before its first staged file lands."""
    import time as _time

    from embulk_output_s3_parquet_spark.sources.tables import (
        STAGING_LOCK,
        staging_heartbeat,
        staging_is_live,
        write_staging_lock,
    )

    d = str(tmp_path / ".staging-x")
    os.makedirs(d)
    write_staging_lock(d)
    lock = os.path.join(d, STAGING_LOCK)
    os.utime(lock, (1e9, 1e9))  # pretend the lock went stale
    with staging_heartbeat(d, interval=0.05):
        _time.sleep(0.3)
    assert os.path.getmtime(lock) > 1e9
    assert staging_is_live(d, stale_after_s=3600)


def test_update_job_rewrites_only_affected_parts(spark, tmp_path):
    """Row-level UPDATE (r5): SET expressions apply exactly to matching
    rows, untouched parts keep their files (mtime + lineage stable), and
    the result matches the framewise oracle."""
    from embulk_output_s3_parquet_spark.jobs import update_job, verify_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "upd")
    # doc_id blooms: surrogate parts are hash-assigned, so range zones span
    # the domain -- a POINT update is what part pruning can scope (same
    # shape as the delete test)
    pol = _policy(chunk_rows=64, target_partition_bytes=65536,
                  bloom_columns=("doc_id",))
    encode_job(spark, docs, path, pol, if_exists="error")
    t = EncodedTable(path)
    before = t.lineage()
    mtimes = {
        p: os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}"))
        for p in before
    }

    victim = int(docs.select("doc_id").first()[0])
    rep = update_job(
        spark, path, ("doc_id", "==", victim),
        {"lang": "'xx'", "n_chars": "n_chars + 1000"},
    )
    assert rep["rows_updated"] == 1
    assert 0 < rep["parts_affected"] < rep["parts_total"], rep

    got = decode_job(spark, path)
    assert got.count() == docs.count()
    assert got.filter(F.col("doc_id") == victim).select("lang").first()[0] == "xx"
    assert got.filter(F.col("lang") == "xx").count() == 1
    # n_chars oracle: the updated row gained exactly 1000
    assert (
        got.select(F.sum("n_chars")).first()[0]
        == docs.select(F.sum("n_chars")).first()[0] + 1000
    )
    # untouched parts: same lineage rows, same file mtimes
    t = EncodedTable(path)
    after = t.lineage()
    for p in set(before) & set(after):
        assert after[p]["sha256_manifest"] == before[p]["sha256_manifest"]
        assert os.path.getmtime(os.path.join(t.data_dir, f"part_id={p}")) == mtimes[p]
    assert verify_table(spark, path) == []

    # schema never drifts: SET result is cast to the declared type
    sch = {f.name: f.dataType.simpleString() for f in decode_job(spark, path).schema.fields}
    assert sch["n_chars"] == "bigint" and sch["lang"] == "string"

    with pytest.raises(ConfigException, match="unknown column"):
        update_job(spark, path, ("doc_id", ">", 0), {"nope": "1"})
    with pytest.raises(ConfigException, match="requires a predicate"):
        update_job(spark, path, None, {"lang": "'y'"})


@pytest.mark.slow
def test_merge_job_upsert(spark, tmp_path):
    """MERGE (r5): matched keys are replaced with source rows, unmatched
    source rows are inserted, pruning scopes the rewrite, and duplicate
    source keys are refused."""
    from embulk_output_s3_parquet_spark.jobs import merge_job, verify_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "mrg")
    pol = _policy(chunk_rows=64, bloom_columns=("doc_id",))
    encode_job(spark, docs, path, pol, if_exists="error", cluster_by=["doc_id"])
    t = EncodedTable(path)
    n_parts = len(t.lineage())

    # source: 5 updated rows (text rewritten) + 3 brand-new ids
    upd = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("text", F.lit("MERGED"))
        .withColumn("n_chars", F.lit(6).cast("long"))
    )
    top = int(docs.agg(F.max("doc_id")).first()[0])
    new = docs.orderBy("doc_id").limit(3).select(
        (F.col("doc_id") + top + 1).alias("doc_id"),
        F.lit("NEW").alias("text"),
        *[F.col(c) for c in docs.columns if c not in ("doc_id", "text")],
    ).select(*docs.columns)
    src = upd.unionByName(new)

    rep = merge_job(spark, path, src, on=["doc_id"])
    assert rep["rows_updated"] == 5
    assert rep["rows_inserted"] == 3
    # bloom + zone probe on a clustered key: only a few parts rewritten
    assert 0 < rep["parts_affected"] < rep["parts_total"] == n_parts

    got = decode_job(spark, path)
    assert got.count() == docs.count() + 3
    assert got.filter(F.col("text") == "MERGED").count() == 5
    assert got.filter(F.col("text") == "NEW").count() == 3
    # non-matched rows bit-stable
    untouched = got.join(src.select("doc_id"), "doc_id", "left_anti")
    orig = docs.join(src.select("doc_id"), "doc_id", "left_anti")
    assert (
        untouched.select(F.sum(F.sha2("text", 256).substr(1, 8).cast("string").isNotNull().cast("int"))).first()[0]
        == orig.count()
    )
    assert untouched.count() == orig.count()
    assert verify_table(spark, path) == []

    # merge is idempotent for identical source rows (replace with equal)
    rep2 = merge_job(spark, path, src, on=["doc_id"])
    assert rep2["rows_updated"] == 8 and rep2["rows_inserted"] == 0
    assert decode_job(spark, path).count() == docs.count() + 3

    # duplicate source keys refused
    dup = src.unionByName(src.limit(1))
    with pytest.raises(ConfigException, match="duplicate keys"):
        merge_job(spark, path, dup, on=["doc_id"])
    # wrong column set refused
    with pytest.raises(ConfigException, match="merge source columns"):
        merge_job(spark, path, src.drop("lang"), on=["doc_id"])


def test_merge_job_insert_only_and_empty(spark, tmp_path):
    """MERGE with no matching keys appends without touching any existing
    part; an empty source is a no-op."""
    from embulk_output_s3_parquet_spark.jobs import merge_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "mrg2")
    encode_job(spark, docs, path, _policy(chunk_rows=64),
               if_exists="error", cluster_by=["doc_id"])
    t = EncodedTable(path)
    before = set(t.lineage())

    top = int(docs.agg(F.max("doc_id")).first()[0])
    new = docs.limit(4).select(
        (F.col("doc_id") + top + 100).alias("doc_id"),
        *[F.col(c) for c in docs.columns if c != "doc_id"],
    ).select(*docs.columns)
    rep = merge_job(spark, path, new, on=["doc_id"])
    assert rep["rows_inserted"] == 4 and rep["rows_updated"] == 0
    assert rep["parts_affected"] == 0  # zone/bloom probe excludes every part
    t = EncodedTable(path)
    assert before < set(t.lineage())  # pure append
    assert decode_job(spark, path).count() == docs.count() + 4

    rep0 = merge_job(spark, path, new.limit(0), on=["doc_id"])
    assert rep0["rows_inserted"] == 0 and rep0["parts_rewritten"] == 0


def test_snapshot_time_travel(spark, tmp_path):
    """Snapshot retention (r5): with snapshot-retention > 0, rewrites keep
    superseded generations readable -- decode_job(at_gen=...) returns the
    table exactly as of that generation -- and vacuum expires generations
    past the window without touching retained or current data."""
    from embulk_output_s3_parquet_spark.jobs import (
        delete_job, update_job, vacuum_job, verify_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "snap")
    pol = _policy(chunk_rows=64, bloom_columns=("doc_id",))
    encode_job(spark, docs, path, pol, if_exists="error")
    t = EncodedTable(path)
    t.set_snapshot_retention(2)
    g0 = t.generations()[-1]

    victims = [int(r[0]) for r in docs.select("doc_id").orderBy("doc_id").limit(2).collect()]
    delete_job(spark, path, ("doc_id", "==", victims[0]))
    g1 = EncodedTable(path).generations()[-1]
    update_job(spark, path, ("doc_id", "==", victims[1]), {"lang": "'zz'"})
    t = EncodedTable(path)
    g2 = t.generations()[-1]
    assert g0 < g1 < g2 and t.retained_generations() == [g0, g1, g2]

    # current read reflects both rewrites
    cur = decode_job(spark, path)
    assert cur.count() == docs.count() - 1
    assert cur.filter(F.col("lang") == "zz").count() == 1
    # g1: after the delete, before the update
    at1 = decode_job(spark, path, at_gen=g1)
    assert at1.count() == docs.count() - 1
    assert at1.filter(F.col("lang") == "zz").count() == 0
    # g0: the original table, bit-stable
    at0 = decode_job(spark, path, at_gen=g0)
    assert at0.count() == docs.count()
    assert (
        at0.select(F.sum(F.crc32(F.concat_ws("|", "doc_id", "text", "lang")))).first()[0]
        == docs.select(F.sum(F.crc32(F.concat_ws("|", "doc_id", "text", "lang")))).first()[0]
    )

    # vacuum keeps everything inside the window
    rep = vacuum_job(path)
    assert rep["orphan_parts"] == [] and rep["stale_shard_dirs"] == 0
    assert decode_job(spark, path, at_gen=g0).count() == docs.count()

    # shrink the window: g0 expires, its exclusive parts are swept, g1 and
    # current stay readable and verified
    t.set_snapshot_retention(1)
    rep = vacuum_job(path)
    assert rep["stale_shard_dirs"] == 1
    assert rep["orphan_parts"]  # g0's replaced parts reclaimed
    with pytest.raises(ConfigException, match="not on disk"):
        decode_job(spark, path, at_gen=g0)
    assert decode_job(spark, path, at_gen=g1).count() == docs.count() - 1
    assert decode_job(spark, path).count() == docs.count() - 1
    assert verify_table(spark, path) == []


def test_snapshot_retention_off_is_roundless(spark, tmp_path):
    """Default retention 0: rewrites still delete superseded generations
    immediately (no disk growth), and at_gen on a missing generation is a
    loud error."""
    from embulk_output_s3_parquet_spark.jobs import delete_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "snap0")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    g0 = t.generations()[-1]
    victim = int(docs.select("doc_id").first()[0])
    delete_job(spark, path, ("doc_id", "==", victim))
    t = EncodedTable(path)
    assert t.generations() == [g0 + 1]  # old gen gone immediately
    with pytest.raises(ConfigException, match="not on disk"):
        decode_job(spark, path, at_gen=g0)


def test_export_job_direct_parquet(spark, tmp_path):
    """Executor-side export (r5): decode -> parquet written by pyarrow in
    the tasks (no JVM hop); output rows are value-identical to decode_job,
    predicates are EXACT (not may-match), projection prunes, and at_gen
    exports a retained snapshot."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, export_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "exp")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")

    out = str(tmp_path / "out_full")
    rep = export_job(spark, path, out)
    assert rep["rows"] == docs.count() and rep["files"] > 0
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    got = spark.read.parquet(out)
    a = got.selectExpr("sum(crc32(concat_ws('|', doc_id, text, lang))) h").first()[0]
    b = docs.selectExpr("sum(crc32(concat_ws('|', doc_id, text, lang))) h").first()[0]
    assert a == b and got.count() == docs.count()

    # exact predicate + projection
    out2 = str(tmp_path / "out_filtered")
    rep2 = export_job(
        spark, path, out2, columns=["doc_id", "n_chars"],
        where=("n_chars", ">=", 450),
    )
    want = docs.filter(F.col("n_chars") >= 450)
    assert rep2["rows"] == want.count()
    got2 = spark.read.parquet(out2)
    assert set(got2.columns) == {"doc_id", "n_chars"}
    assert got2.filter(F.col("n_chars") < 450).count() == 0
    assert got2.count() == want.count()

    # snapshot export: delete a row under retention, export the old gen
    t = EncodedTable(path)
    t.set_snapshot_retention(1)
    g0 = t.generations()[-1]
    victim = int(docs.select("doc_id").first()[0])
    delete_job(spark, path, ("doc_id", "==", victim))
    out3 = str(tmp_path / "out_snap")
    rep3 = export_job(spark, path, out3, at_gen=g0)
    assert rep3["rows"] == docs.count()  # pre-delete snapshot
    out4 = str(tmp_path / "out_cur")
    assert export_job(spark, path, out4)["rows"] == docs.count() - 1


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering (r5): with cluster_by=[x, y] a lexicographic sort
    only tightens x's chunk zones -- a y-range predicate skips almost
    nothing. zorder=True interleaves both ranks, so BOTH dimensions' zones
    become tight boxes and a y predicate prunes most chunks too. Content is
    sort-invariant: both tables decode to the same multiset."""
    from embulk_output_s3_parquet_spark.operators.decode import scan_counters

    df = spark.range(0, 40000, 1, 4).select(
        F.pmod(F.xxhash64("id"), F.lit(100000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100000)).alias("y"),
        F.col("id"),
    )
    pol = CodecPolicy(chunk_rows=128, chunk_bytes=0, target_partition_bytes=1 << 20)
    lex_path, zo_path = str(tmp_path / "lex"), str(tmp_path / "zo")
    t_lex = encode_job(spark, df, lex_path, pol, if_exists="error",
                       cluster_by=["x", "y"])
    t_zo = encode_job(spark, df, zo_path, pol, if_exists="error",
                      cluster_by=["x", "y"], zorder=True)
    assert t_zo.properties().get("write-order-zorder") is True
    assert "write-order-zorder" not in t_lex.properties()

    def skipped_frac(path, where):
        ctr = scan_counters(spark)
        decode_job(spark, path, where=where, counters=ctr).count()
        return ctr["chunks_skipped"].value / max(ctr["chunks_total"].value, 1)

    # leading column: both layouts prune well
    assert skipped_frac(lex_path, ("x", ">=", 95000)) >= 0.7
    assert skipped_frac(zo_path, ("x", ">=", 95000)) >= 0.5
    # second column: ONLY the z-ordered layout prunes
    lex_y = skipped_frac(lex_path, ("y", ">=", 95000))
    zo_y = skipped_frac(zo_path, ("y", ">=", 95000))
    assert zo_y >= 0.5, (lex_y, zo_y)
    assert zo_y > lex_y + 0.3, (lex_y, zo_y)

    # sort-invariance: identical content both ways, exact filters agree
    a = decode_job(spark, lex_path).selectExpr(
        "sum(crc32(concat_ws('|', x, y, id))) h", "count(*) n").first()
    b = decode_job(spark, zo_path).selectExpr(
        "sum(crc32(concat_ws('|', x, y, id))) h", "count(*) n").first()
    assert a == b
    want = df.filter((F.col("x") >= 50000) & (F.col("y") < 20000)).count()
    got = decode_job(
        spark, zo_path, where=[("x", ">=", 50000), ("y", "<", 20000)]
    ).filter((F.col("x") >= 50000) & (F.col("y") < 20000)).count()
    assert got == want


def test_zorder_survives_rewrites(spark, tmp_path):
    """The recorded z-order layout is re-applied by delete/compact rewrites
    (write-order-zorder property), so maintenance never de-zorders."""
    from embulk_output_s3_parquet_spark.jobs import compact_job, delete_job
    from embulk_output_s3_parquet_spark.operators.decode import scan_counters

    df = spark.range(0, 20000, 1, 2).select(
        F.pmod(F.xxhash64("id"), F.lit(100000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100000)).alias("y"),
        F.col("id"),
    )
    pol = CodecPolicy(chunk_rows=128, chunk_bytes=0, target_partition_bytes=1 << 20)
    path = str(tmp_path / "zr")
    encode_job(spark, df, path, pol, if_exists="error",
               cluster_by=["x", "y"], zorder=True)
    delete_job(spark, path, ("id", "==", 7))
    compact_job(spark, path)
    t = EncodedTable(path)
    assert t.properties().get("write-order-zorder") is True

    ctr = scan_counters(spark)
    decode_job(spark, path, where=("y", ">=", 95000), counters=ctr).count()
    assert ctr["chunks_skipped"].value / max(ctr["chunks_total"].value, 1) >= 0.5
    assert decode_job(spark, path).count() == 20000 - 1


def test_vacuum_safe_after_crashed_preflip_rewrite(spark, tmp_path):
    """Review r5 (critical): a rewrite that crashed AFTER building the next
    generation's shard dir but BEFORE the manifest flip leaves a
    parts-(g+1) dir on disk. Vacuum must anchor on the MANIFEST pointer --
    treating the debris dir as current would sweep the live generation's
    shards and committed parts (total data loss)."""
    import shutil

    from embulk_output_s3_parquet_spark.jobs import vacuum_job, verify_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "crash")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    gen = t.generations()[-1]

    # simulate the crash: next-gen shard dir exists, manifest NOT flipped.
    # Real builders (r5) drop a .writer-lock; a crashed one leaves it with
    # dead pids, which is what lets vacuum sweep the debris immediately
    # while an IN-FLIGHT build with a live lock is never touched.
    src = os.path.join(path, f"parts-{gen}")
    dst = os.path.join(path, f"parts-{gen + 1}")
    shutil.copytree(src, dst)
    import json as _json

    from embulk_output_s3_parquet_spark.sources.tables import STAGING_LOCK

    with open(os.path.join(dst, STAGING_LOCK), "w") as f:
        _json.dump({"pid": 2**22 + 7, "ppid": 2**22 + 8,
                    "host": __import__("socket").gethostname(),
                    "ts": 0.0}, f)
    assert t.generations()[-1] == gen  # debris is not a generation
    with pytest.raises(ConfigException, match="never committed"):
        t.lineage_at(gen + 1)

    # an in-flight build (live lock: OUR pid) must survive the sweep
    inflight = os.path.join(path, f"parts-{gen + 2}")
    shutil.copytree(src, inflight)
    from embulk_output_s3_parquet_spark.sources.tables import write_staging_lock

    write_staging_lock(inflight)

    rep = vacuum_job(path)
    # the dead debris dir was swept; the LIVE generation, its parts, and
    # the in-flight build were not
    assert rep["stale_shard_dirs"] == 1
    assert rep["orphan_parts"] == []
    assert os.path.isdir(src) and not os.path.exists(dst)
    assert os.path.isdir(inflight), "in-flight next-gen build swept"
    assert decode_job(spark, path).count() == docs.count()
    assert verify_table(spark, path) == []
    shutil.rmtree(inflight)


def test_merge_preserves_duplicate_target_rows(spark, tmp_path):
    """Review r5: a target that legitimately holds duplicate-key rows (two
    appended waves) must have EVERY matched row updated -- not collapsed to
    one -- and NULL-key source rows are pure inserts, never a false
    duplicate-key refusal."""
    from embulk_output_s3_parquet_spark.jobs import merge_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    path = str(tmp_path / "dupmrg")
    pol = _policy(chunk_rows=64)
    encode_job(spark, docs, path, pol, if_exists="error")
    # second wave: re-append the same rows under new part ids -> every
    # doc_id now has exactly two rows
    encode_job(spark, docs, path, pol, if_exists="skip", part_base=1000)
    assert decode_job(spark, path).count() == 100

    victim = int(docs.select("doc_id").first()[0])
    src_upd = docs.filter(F.col("doc_id") == victim).withColumn(
        "text", F.lit("DUPMERGED")
    )
    src_null = docs.limit(2).select(
        F.lit(None).cast("long").alias("doc_id"),
        *[F.col(c) for c in docs.columns if c != "doc_id"],
    ).select(*docs.columns).withColumn("text", F.lit("NULLKEY"))
    # two NULL-key rows + one keyed row: must NOT be refused as duplicates
    rep = merge_job(spark, path, src_upd.unionByName(src_null), on=["doc_id"])
    assert rep["rows_updated"] == 2  # BOTH duplicate target rows updated
    assert rep["rows_inserted"] == 2  # both NULL-key rows inserted once

    got = decode_job(spark, path)
    assert got.count() == 100 + 2  # multiplicity preserved + inserts
    assert got.filter(F.col("text") == "DUPMERGED").count() == 2
    assert got.filter(F.col("text") == "NULLKEY").count() == 2


def test_export_reexport_and_count_at_gen(spark, tmp_path):
    """Review r5: re-exporting over a previous export must not leave stale
    part files under a fresh _SUCCESS; a directory with foreign files is
    refused; count_job honors at_gen."""
    from embulk_output_s3_parquet_spark.jobs import count_job, delete_job, export_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "reexp")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    t.set_snapshot_retention(1)
    g0 = t.generations()[-1]
    out = str(tmp_path / "out")
    export_job(spark, path, out)
    n_files_before = len(glob.glob(os.path.join(out, "part-*.parquet")))

    victim = int(docs.select("doc_id").first()[0])
    delete_job(spark, path, ("doc_id", "==", victim))
    export_job(spark, path, out)  # re-export: stale files must vanish
    got = spark.read.parquet(out)
    assert got.count() == docs.count() - 1
    assert got.filter(F.col("doc_id") == victim).count() == 0
    assert len(glob.glob(os.path.join(out, "part-*.parquet"))) > 0
    assert n_files_before > 0

    # foreign file: refuse, never delete what we didn't write
    with open(os.path.join(out, "keep.txt"), "w") as f:
        f.write("x")
    with pytest.raises(ConfigException, match="non-export"):
        export_job(spark, path, out)
    assert os.path.exists(os.path.join(out, "keep.txt"))

    # snapshot count
    assert count_job(spark, path, at_gen=g0) == docs.count()
    assert count_job(spark, path) == docs.count() - 1


def test_export_incremental_watermark(spark, tmp_path):
    """Incremental export (r5): since_part exports only parts above the
    watermark and APPENDS beside the previous export; a rewrite bumps the
    generation and the guarded call refuses (same contract as the stream
    source); an up-to-date watermark is a cheap no-op."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, export_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w1 = docs.filter(F.col("doc_id") % 2 == 0)
    w2 = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "inc")
    pol = _policy(chunk_rows=64)
    encode_job(spark, w1, path, pol, if_exists="error")
    out = str(tmp_path / "out")

    rep1 = export_job(spark, path, out)
    assert rep1["rows"] == w1.count()
    wm, gen = rep1["max_part_id"], rep1["parts_gen"]

    # nothing new: no-op, watermark stable
    rep_noop = export_job(spark, path, out, since_part=wm, expect_gen=gen)
    assert rep_noop["rows"] == 0 and rep_noop["max_part_id"] == wm

    # second wave appended -> incremental export delivers only its rows
    encode_job(spark, w2, path, pol, if_exists="skip", part_base=1000)
    rep2 = export_job(spark, path, out, since_part=wm, expect_gen=gen)
    assert rep2["rows"] == w2.count()
    assert rep2["max_part_id"] > wm
    got = spark.read.parquet(out)
    assert got.count() == docs.count()
    assert got.select(F.sum("n_chars")).first()[0] == docs.select(F.sum("n_chars")).first()[0]

    # a rewrite breaks the incremental contract loudly
    victim = int(docs.select("doc_id").first()[0])
    delete_job(spark, path, ("doc_id", "==", victim))
    with pytest.raises(ConfigException, match="generation moved"):
        export_job(spark, path, out, since_part=rep2["max_part_id"],
                   expect_gen=rep2["parts_gen"])


@pytest.mark.slow
def test_maintenance_lifecycle_cross_shard(spark, tmp_path):
    """VERDICT r4 #9: the three maintenance ops interacting on one table
    whose parts span MULTIPLE manifest shards (part_base places each wave
    in a different shard, the layout a 10^4-part table has): delete ->
    compact -> delete -> vacuum, with verify_table green, generation counts
    advancing exactly once per rewrite, retention honored, and orphans +
    stale shard dirs swept -- the full Iceberg-style maintenance loop."""
    import os

    from embulk_output_s3_parquet_spark.jobs import (
        compact_job,
        delete_job,
        vacuum_job,
        verify_table,
    )
    from embulk_output_s3_parquet_spark.sources.tables import (
        SHARD_SIZE,
        EncodedTable,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "life")
    pol = _policy(chunk_rows=64, target_partition_bytes=64 * 1024,
                  bloom_columns=("doc_id",))
    encode_job(spark, docs.filter("doc_id < 200"), path, pol, if_exists="error")
    encode_job(spark, docs.filter("doc_id >= 200 and doc_id < 350"), path,
               pol, if_exists="skip", part_base=SHARD_SIZE)
    encode_job(spark, docs.filter("doc_id >= 350"), path, pol,
               if_exists="skip", part_base=2 * SHARD_SIZE)
    t = EncodedTable(path)
    t.set_snapshot_retention(1)
    assert {p // SHARD_SIZE for p in t.completed_parts()} == {0, 1, 2}, (
        "waves must land in three distinct manifest shards"
    )
    total = docs.count()
    assert decode_job(spark, path).count() == total
    assert verify_table(spark, path) == []
    gen0 = t._core_manifest().get("parts_gen", 0)

    # -- DELETE spanning all three shards ------------------------------
    victims = [10, 250, 400]
    rep = delete_job(spark, path, ("doc_id", "in", victims))
    assert rep["rows_deleted"] == len(victims)
    t = EncodedTable(path)
    assert t._core_manifest().get("parts_gen", 0) == gen0 + 1
    assert t.retired_parts(), "delete must tombstone the rewritten part ids"
    left = decode_job(spark, path)
    assert left.count() == total - 3
    assert left.filter(F.col("doc_id").isin(victims)).count() == 0
    assert verify_table(spark, path) == []

    # -- COMPACT: collapses the 3-shard layout into freshly planned parts
    compact_job(spark, path)
    t = EncodedTable(path)
    assert t._core_manifest().get("parts_gen", 0) == gen0 + 2
    assert decode_job(spark, path).count() == total - 3
    assert verify_table(spark, path) == []

    # -- second DELETE pushes the post-first-delete generation past the
    # retention window (retain 1 => current + 1 superseded kept)
    rep2 = delete_job(spark, path, ("doc_id", "==", 42))
    assert rep2["rows_deleted"] == 1
    t = EncodedTable(path)
    gens = t.retained_generations()
    assert len(gens) <= 2 and t._core_manifest().get("parts_gen", 0) == gen0 + 3

    # -- plant garbage a crashed writer would leave, then VACUUM -------
    orphan = os.path.join(path, "data", "part_id=99999")
    os.makedirs(os.path.join(orphan))
    with open(os.path.join(orphan, "junk.bin"), "wb") as f:
        f.write(b"orphan bytes")
    stale = os.path.join(path, ".staging-deadbeef")
    os.makedirs(stale)
    rep_v = vacuum_job(path, stale_after_s=0.0)
    assert 99999 in rep_v["orphan_parts"]
    assert rep_v["staging_dirs"] >= 1
    assert not os.path.exists(orphan) and not os.path.exists(stale)

    # expired-generation data really is reclaimed, retained ones intact
    live = decode_job(spark, path)
    assert live.count() == total - 4
    assert verify_table(spark, path) == []
    # history records every lifecycle op in order
    ops = [h["op"] for h in EncodedTable(path).history()]
    assert ops.count("delete") == 2 and "compact" in ops and "vacuum" in ops


def test_rollback_to_snapshot(spark, tmp_path):
    """rollback_job (r5, Iceberg rollback_to_snapshot): the pointer moves
    FORWARD to a new generation that is byte-identical to the target, a
    rolled-back DELETE's rows come back, tombstone accounting follows the
    pointer in both directions, and vacuum after a rollback never touches
    the revived parts."""
    from embulk_output_s3_parquet_spark.jobs import (
        count_job, delete_job, rollback_job, vacuum_job, verify_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "rb")
    pol = _policy(chunk_rows=64, bloom_columns=("doc_id",))
    encode_job(spark, docs, path, pol, if_exists="error")
    t = EncodedTable(path)
    t.set_snapshot_retention(2)
    g0 = t.generations()[-1]
    crc = lambda df: df.select(  # noqa: E731
        F.sum(F.crc32(F.concat_ws("|", "doc_id", "text", "lang")))
    ).first()[0]
    orig_crc = crc(docs)

    victims = [
        int(r[0])
        for r in docs.select("doc_id").orderBy("doc_id").limit(3).collect()
    ]
    rep_d = delete_job(spark, path, ("doc_id", "in", victims))
    assert rep_d["rows_deleted"] == 3
    t = EncodedTable(path)
    g1 = t.generations()[-1]
    retired_after_delete = t.retired_parts()
    assert retired_after_delete, "delete must tombstone"
    new_ids_from_delete = set(t.lineage()) - set(t.lineage_at(g0))

    # -- roll the delete back: the rows return, bit-stable ----------------
    rep = rollback_job(path, g0)
    assert rep["rolled_back"] and rep["from_gen"] == g1
    t = EncodedTable(path)
    g2 = t.generations()[-1]
    assert g2 == g1 + 1, "rollback moves history FORWARD"
    back = decode_job(spark, path)
    assert back.count() == docs.count()
    assert crc(back) == orig_crc
    assert count_job(spark, path, ("doc_id", "in", victims)) == 3
    # tombstones follow the pointer: revived ids un-retired, the delete's
    # replacement parts retired (a replayed wave must not re-encode them)
    assert t.retired_parts() & set(t.lineage()) == set()
    assert new_ids_from_delete <= t.retired_parts()
    assert set(t.lineage()) == set(t.lineage_at(g0))
    # part blooms survived the hard-link (point lookup still prunes)
    assert t.surviving_parts([("doc_id", "==", victims[0])]) is not None
    assert verify_table(spark, path) == []

    # -- vacuum after rollback: g1's exclusive parts stay (g1 is retained),
    # nothing live is swept
    rep_v = vacuum_job(path)
    assert rep_v["orphan_parts"] == []
    assert decode_job(spark, path).count() == docs.count()
    assert decode_job(spark, path, at_gen=g1).count() == docs.count() - 3

    # -- history + report shape -------------------------------------------
    ops = [h["op"] for h in t.history()]
    assert "rollback" in ops
    noop = rollback_job(path, g2)
    assert noop["rolled_back"] is False

    # -- refusals -----------------------------------------------------------
    with pytest.raises(ConfigException, match="never committed"):
        rollback_job(path, g2 + 7)
    # expire g0 out of the window: rollback must refuse, not half-flip
    t.set_snapshot_retention(1)
    vacuum_job(path)
    with pytest.raises(ConfigException, match="not retained|not on disk"):
        rollback_job(path, g0)
    assert decode_job(spark, path).count() == docs.count()  # intact


def test_rollback_requires_retention(spark, tmp_path):
    """With snapshot-retention 0 (the default), a rewrite leaves nothing to
    roll back to -- rollback_job must refuse loudly rather than flip at a
    missing generation."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, rollback_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "rb0")
    encode_job(spark, docs, path, _policy(chunk_rows=128), if_exists="error")
    g0 = EncodedTable(path).generations()[-1]
    delete_job(spark, path, ("doc_id", "==", 1))
    with pytest.raises(ConfigException, match="not retained"):
        rollback_job(path, g0)


def test_minmax_job_metadata_first(spark, tmp_path):
    """minmax_job (r5): exact MIN/MAX matching Spark's aggregates across
    numeric, string, decimal, and timestamp columns -- with the
    no-predicate case answered ENTIRELY from lineage zones (no Spark job)
    and predicated cases decoding only boundary chunks. Zoneless
    document-sized text falls back to payload decode and stays exact;
    an added column aggregates to (None, None) until rows carry values."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import minmax_job

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
    )
    path = str(tmp_path / "mm")
    encode_job(
        spark, li, path, _policy(chunk_rows=512), if_exists="error",
        cluster_by=["l_orderkey"],
    )

    # -- no predicate: one manifest pass, values match Spark exactly ------
    got = minmax_job(
        spark, path,
        ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "price_dec"],
    )
    exp = li.agg(
        *[f(c) for c in li.columns for f in (F.min, F.max)]
    ).collect()[0]
    for i, c in enumerate(li.columns):
        assert got[c] == (exp[2 * i], exp[2 * i + 1]), c
    assert isinstance(got["price_dec"][0], Decimal)

    # -- range predicate on the clustered key: boundary chunks only -------
    w = [("l_orderkey", ">=", 3000), ("l_orderkey", "<", 9000)]
    got_w = minmax_job(spark, path, ["l_quantity", "l_shipdate"], where=w)
    sub = li.filter((F.col("l_orderkey") >= 3000) & (F.col("l_orderkey") < 9000))
    exp_w = sub.agg(
        F.min("l_quantity"), F.max("l_quantity"),
        F.min("l_shipdate"), F.max("l_shipdate"),
    ).collect()[0]
    assert got_w["l_quantity"] == (exp_w[0], exp_w[1])
    assert got_w["l_shipdate"] == (exp_w[2], exp_w[3])

    # -- empty survivor set / unknown column ------------------------------
    assert minmax_job(
        spark, path, ["l_quantity"], where=("l_orderkey", ">=", 10**12)
    ) == {"l_quantity": (None, None)}
    with pytest.raises(ConfigException, match="not in table schema"):
        minmax_job(spark, path, ["nope"])

    # -- zoneless long-text column decodes exactly -------------------------
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dpath = str(tmp_path / "mmdocs")
    encode_job(spark, docs, dpath, _policy(chunk_rows=64), if_exists="error")
    got_t = minmax_job(spark, dpath, ["text", "lang"])
    exp_t = docs.agg(F.min("text"), F.max("text"), F.min("lang"), F.max("lang")).collect()[0]
    assert got_t["text"] == (exp_t[0], exp_t[1])
    assert got_t["lang"] == (exp_t[2], exp_t[3])

    # -- added column: all-null in old parts -> (None, None), then real
    # values after an append
    t = EncodedTable(dpath)
    t.add_column("quality", T.DoubleType())
    assert minmax_job(spark, dpath, ["quality"]) == {"quality": (None, None)}
    extra = docs.limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text", "lang", "source",
        "n_chars", F.lit(0.75).cast("double").alias("quality"),
    )
    encode_job(spark, extra, dpath, _policy(chunk_rows=64), if_exists="skip", part_base=1000)
    assert minmax_job(spark, dpath, ["quality"]) == {"quality": (0.75, 0.75)}
    # predicate on the added column still answers from metadata for the
    # old (provably all-null) parts
    assert minmax_job(
        spark, dpath, ["doc_id"], where=("quality", "notnull", None)
    )["doc_id"] == (10_000, 10_004)


def test_sum_job_metadata_first(spark, tmp_path):
    """sum_job (r5): exact SUM/AVG matching Spark across int, float, and
    decimal columns -- the unpredicated case answered entirely from the
    per-part sums lineage rolls up at commit (codecs._sum_of), predicated
    cases decoding only boundary chunks. Chunks that record no sum
    (overflow-risk int ranges; stripped part-level sums simulating pre-r5
    tables) fall back to exact decode; non-numeric columns refuse."""
    import json as _json
    import os

    from decimal import Decimal

    from embulk_output_s3_parquet_spark.jobs import sum_job

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey",
        "l_quantity",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
        "l_returnflag",
    )
    path = str(tmp_path / "sm")
    encode_job(
        spark, li, path, _policy(chunk_rows=512), if_exists="error",
        cluster_by=["l_orderkey"],
    )

    got = sum_job(spark, path, ["l_orderkey", "l_quantity", "price_dec"])
    exp = li.agg(
        F.sum("l_orderkey"), F.sum("l_quantity"), F.sum("price_dec"),
        F.avg("l_quantity"), F.count("l_quantity"),
    ).collect()[0]
    assert got["l_orderkey"]["sum"] == exp[0]  # exact int
    assert got["price_dec"]["sum"] == exp[2]  # exact decimal
    assert isinstance(got["price_dec"]["sum"], Decimal)
    assert abs(got["l_quantity"]["sum"] - exp[1]) < 1e-9 * abs(exp[1])
    assert abs(got["l_quantity"]["avg"] - exp[3]) < 1e-9
    assert got["l_quantity"]["count_nonnull"] == exp[4]

    # -- predicated band: boundary chunks only, still exact ---------------
    lo, hi = (
        int(x) for x in li.approxQuantile("l_orderkey", [0.25, 0.75], 0.0)
    )
    w = [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
    got_w = sum_job(spark, path, ["price_dec"], where=w)
    exp_w = (
        li.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
        .agg(F.sum("price_dec"), F.count("price_dec")).collect()[0]
    )
    assert got_w["price_dec"]["sum"] == exp_w[0]
    assert got_w["price_dec"]["count_nonnull"] == exp_w[1]

    # -- empty survivors / non-numeric refusal ----------------------------
    assert sum_job(spark, path, ["l_quantity"], where=("l_orderkey", ">=", 10**15)) == {
        "l_quantity": {"sum": None, "avg": None, "count_nonnull": 0}
    }
    with pytest.raises(ConfigException, match="SUM is not defined"):
        sum_job(spark, path, ["l_returnflag"])

    # -- pre-r5 lineage (no part-level sums): strip "sm" from every shard;
    # sum_job must fall back to chunk metadata / decode and stay exact
    t = EncodedTable(path)
    pd_dir = t.parts_dir
    for name in os.listdir(pd_dir):
        if name.startswith("shard-") and name.endswith(".json"):
            p = os.path.join(pd_dir, name)
            rows = _json.load(open(p))
            for r in rows.values():
                for e in r.get("zones", {}).values():
                    e.pop("sm", None)
            _json.dump(rows, open(p, "w"))
    got2 = sum_job(spark, path, ["l_orderkey"])
    assert got2["l_orderkey"]["sum"] == exp[0]

    # -- overflow-risk ints: chunks record no sum (the zone bound can't
    # prove the int64 accumulator safe) yet the decode path sums exactly
    # in arbitrary precision
    big = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.lit(2**61) + F.col("id")).alias("huge"),
    )
    bpath = str(tmp_path / "smbig")
    encode_job(spark, big, bpath, _policy(chunk_rows=256), if_exists="error")
    bt = EncodedTable(bpath)
    zones = next(iter(bt.lineage().values()))["zones"]
    assert "sm" not in zones["huge"], "overflow-risk sums must not be recorded"
    got3 = sum_job(spark, bpath, ["huge"])
    assert got3["huge"]["sum"] == sum(2**61 + i for i in range(2000))  # > int64


def test_stats_table_spark_free(spark, tmp_path):
    """pyreader.stats_table (r5): the Spark-free twin of minmax_job/sum_job
    agrees with both, and the unpredicated case opens ZERO chunk files
    (pure manifest pass -- scan_stats records no chunks_total)."""
    from embulk_output_s3_parquet_spark.jobs import minmax_job, sum_job
    from embulk_output_s3_parquet_spark.sources.chunkscan import storage_to_logical
    from embulk_output_s3_parquet_spark.sources.pyreader import stats_table

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
    )
    path = str(tmp_path / "st")
    encode_job(
        spark, li, path, _policy(chunk_rows=512), if_exists="error",
        cluster_by=["l_orderkey"],
    )
    cols = ["l_orderkey", "l_quantity", "price_dec"]

    ss: dict = {}
    acc = stats_table(path, cols, sums=True, scan_stats=ss)
    assert "chunks_total" not in ss, "unpredicated stats must not open files"
    mm = minmax_job(spark, path, cols)
    sm = sum_job(spark, path, cols)
    for c in cols:
        t = acc[c]["t"]
        assert (
            storage_to_logical(t, acc[c]["mm"][0]),
            storage_to_logical(t, acc[c]["mm"][1]),
        ) == mm[c]
        got_sum = acc[c]["sm"]
        if t.startswith("decimal128("):
            from decimal import Decimal

            got_sum = Decimal(got_sum)
        assert got_sum == sm[c]["sum"] and acc[c]["nn"] == sm[c]["count_nonnull"]

    # predicated parity too (boundary decode path)
    w = ("l_orderkey", ">=", 380)
    accw = stats_table(path, ["price_dec"], where=w, sums=True)
    smw = sum_job(spark, path, ["price_dec"], where=w)
    from decimal import Decimal

    assert Decimal(accw["price_dec"]["sm"]) == smw["price_dec"]["sum"]
    with pytest.raises(ValueError, match="not in table schema"):
        stats_table(path, ["nope"])


def test_predicated_aggregates_at_gen(spark, tmp_path):
    """Regression (r5): count_job/minmax_job/sum_job with at_gen + a
    predicate must evaluate the SNAPSHOT's part set, not the current one.
    surviving_parts knows only current part ids, so consulting it for a
    snapshot read silently skipped every part a later rewrite replaced --
    historical counts came back short."""
    from embulk_output_s3_parquet_spark.jobs import (
        count_job, delete_job, minmax_job, sum_job,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "ag")
    encode_job(
        spark, docs, path, _policy(chunk_rows=64, bloom_columns=("doc_id",)),
        if_exists="error",
    )
    t = EncodedTable(path)
    t.set_snapshot_retention(2)
    g0 = t.generations()[-1]

    # pick victims clustered in value so the delete rewrites parts whose
    # zones a doc_id predicate will target at g0
    victims = [
        int(r[0]) for r in docs.select("doc_id").orderBy("doc_id").limit(5).collect()
    ]
    delete_job(spark, path, ("doc_id", "in", victims))

    w = ("doc_id", "<=", victims[-1])
    want = docs.filter(F.col("doc_id") <= victims[-1]).count()
    assert count_job(spark, path, w, at_gen=g0) == want
    assert count_job(spark, path, w) == want - 5  # current gen unaffected

    mm0 = minmax_job(spark, path, ["doc_id"], where=w, at_gen=g0)
    assert mm0["doc_id"] == (
        int(docs.agg(F.min("doc_id")).first()[0]), victims[-1],
    )
    sm0 = sum_job(spark, path, ["doc_id"], where=w, at_gen=g0)
    exp_sum = docs.filter(F.col("doc_id") <= victims[-1]).agg(
        F.sum("doc_id")
    ).first()[0]
    assert sm0["doc_id"]["sum"] == exp_sum


def test_sum_job_mixed_resolution_no_double_fold(spark, tmp_path):
    """Regression (r5 review): a NON-boundary part where one aggregate
    column resolves from lineage and another needs the file scan must fold
    the resolved column ONCE -- the file scan is scoped to the unresolved
    columns, or sums and non-null counts come back exactly doubled (avg
    masks it). Covers jobs.sum_job and the Spark-free stats_table twin."""
    from embulk_output_s3_parquet_spark.jobs import minmax_job, sum_job
    from embulk_output_s3_parquet_spark.sources.pyreader import stats_table

    df = spark.range(0, 3000).select(
        F.col("id").alias("small"),                      # part sums recorded
        (F.lit(2**61) + F.col("id")).alias("huge"),      # overflow-risk: none
    )
    path = str(tmp_path / "mix")
    encode_job(spark, df, path, _policy(chunk_rows=256), if_exists="error")
    t = EncodedTable(path)
    zones = next(iter(t.lineage().values()))["zones"]
    assert "sm" in zones["small"] and "sm" not in zones["huge"], "fixture broke"

    want_small = sum(range(3000))
    want_huge = sum(2**61 + i for i in range(3000))
    got = sum_job(spark, path, ["small", "huge"])
    assert got["small"]["sum"] == want_small, "resolved column folded twice"
    assert got["small"]["count_nonnull"] == 3000
    assert got["huge"]["sum"] == want_huge

    acc = stats_table(path, ["small", "huge"], sums=True)
    assert acc["small"]["sm"] == want_small and acc["small"]["nn"] == 3000
    assert acc["huge"]["sm"] == want_huge
    # min/max unaffected by double-folds but must agree through the same
    # mixed path
    mm = minmax_job(spark, path, ["small", "huge"])
    assert mm["small"] == (0, 2999)
    assert mm["huge"] == (2**61, 2**61 + 2999)


def test_vacuum_fail_safe_on_unreadable_lineage(spark, tmp_path, monkeypatch):
    """Review r5: vacuum must be FAIL-SAFE, not fail-open. A retained
    generation whose lineage keeps racing away mid-computation, or a table
    whose CURRENT shard dir is gone while the manifest records committed
    history, must abort the sweep loudly -- treating either as "zero live
    parts" would classify committed data as orphans and delete it."""
    import shutil

    from embulk_output_s3_parquet_spark.jobs import delete_job, vacuum_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # -- persistent mid-computation race: lineage_at keeps raising ---------
    path = str(tmp_path / "vfs")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    t.set_snapshot_retention(1)
    delete_job(spark, path, ("doc_id", "==", 1))
    n_parts = len(EncodedTable(path).lineage())

    def raging_race(self, gen):
        raise ConfigException(f"generation {gen} is not on disk (simulated race)")

    monkeypatch.setattr(EncodedTable, "lineage_at", raging_race)
    with pytest.raises(ConfigException, match="vacuum aborted"):
        vacuum_job(path)
    monkeypatch.undo()
    # nothing was deleted: current generation reads fine
    assert len(EncodedTable(path).lineage()) == n_parts
    assert decode_job(spark, path).count() == docs.count() - 1

    # -- CURRENT generation's shard dir gone -------------------------------
    path2 = str(tmp_path / "vfs2")
    encode_job(spark, docs, path2, _policy(chunk_rows=64), if_exists="error")
    delete_job(spark, path2, ("doc_id", "==", 1))  # bumps to gen > 0
    t2 = EncodedTable(path2)
    shutil.rmtree(t2.parts_dir)
    with pytest.raises(ConfigException, match="vacuum aborted"):
        vacuum_job(path2)
    # the committed payload dirs are still on disk
    assert any(
        n.startswith("part_id=") for n in os.listdir(os.path.join(path2, "data"))
    )


def test_distinct_job_hll_ndv(spark, tmp_path):
    """distinct_job (r5): approximate COUNT(DISTINCT) from per-part HLL
    sketches -- within the sketch's error bound vs exact, exact on small
    cardinalities (linear counting), merged across append waves, kept
    current by DML rewrites, and refusing loudly for columns encoded
    without sketches."""
    from embulk_output_s3_parquet_spark.jobs import delete_job, distinct_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "ndv")
    pol = _policy(chunk_rows=64, ndv_columns=("doc_id", "lang"))
    encode_job(spark, docs, path, pol, if_exists="error")

    def exact(df, c):
        return df.agg(F.countDistinct(c)).first()[0]

    r = distinct_job(path, ["doc_id", "lang"])
    assert r["lang"]["ndv"] == exact(docs, "lang")  # small: linear counting
    err = abs(r["doc_id"]["ndv"] - exact(docs, "doc_id")) / exact(docs, "doc_id")
    assert err <= 4 * r["doc_id"]["rel_std_error"]
    assert r["doc_id"]["parts"] == len(EncodedTable(path).lineage())

    # sketches ride per-shard sidecars, NOT the lineage shards every other
    # manifest reader parses (same rule as part blooms, VERDICT r4 #3)
    pdir = EncodedTable(path).parts_dir
    assert os.path.exists(os.path.join(pdir, "shard-0.hll.json"))
    with open(os.path.join(pdir, "shard-0.json")) as f:
        assert '"hl"' not in f.read()

    # -- append wave merges (union, error does not accumulate) -------------
    extra = docs.limit(200).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    ).select(*docs.columns)
    encode_job(spark, extra, path, pol, if_exists="skip", part_base=1000)
    both = docs.unionAll(extra)
    r2 = distinct_job(path, ["doc_id"])
    err2 = abs(r2["doc_id"]["ndv"] - exact(both, "doc_id")) / exact(both, "doc_id")
    assert err2 <= 4 * r2["doc_id"]["rel_std_error"]

    # -- DML rewrite keeps sketches current (policy persisted) ------------
    t = EncodedTable(path)
    assert tuple(t.policy().ndv_columns) == ("doc_id", "lang")
    delete_job(spark, path, ("lang", "==", "zh"))
    langs_left = exact(decode_job(spark, path), "lang")
    r3 = distinct_job(path, ["lang"])
    assert r3["lang"]["ndv"] == langs_left  # rewritten parts re-sketched

    # -- refusals -----------------------------------------------------------
    with pytest.raises(ConfigException, match="no NDV sketch"):
        distinct_job(path, ["source"])
    with pytest.raises(ConfigException, match="not in table schema"):
        distinct_job(path, ["nope"])
    with pytest.raises(ConfigException, match="ndv_columns.*unknown column"):
        encode_job(
            spark, docs, str(tmp_path / "bad"),
            _policy(ndv_columns=("ghost",)), if_exists="error",
        )
    with pytest.raises(ConfigException, match="no NDV-sketch support"):
        from pyspark.sql import types as T  # noqa: F401

        _policy(ndv_columns=("quality",)).validate(
            spark.range(1).select(F.lit(0.5).alias("quality")).schema
        )


def test_quantile_job_zone_bounds(spark, tmp_path):
    """quantile_job (r5): the true percentile must sit INSIDE the provable
    [lb, ub] interval on every layout; a clustered layout (tight chunk
    zones) must give near-exact answers; strings and bad q refuse."""
    from embulk_output_s3_parquet_spark.jobs import quantile_job

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    exact = {
        q: li.selectExpr(f"percentile(l_extendedprice, {q}) AS p").first()["p"]
        for q in (0.1, 0.5, 0.9)
    }
    domain = (
        li.agg(F.max("l_extendedprice") - F.min("l_extendedprice")).first()[0]
    )

    # unsorted layout: wide-but-honest intervals
    p1 = str(tmp_path / "flat")
    encode_job(spark, li, p1, _policy(chunk_rows=512), if_exists="error")
    rep = quantile_job(spark, p1, "l_extendedprice", [0.1, 0.5, 0.9])
    assert rep["n"] == li.count()
    for q, e in exact.items():
        b = rep["quantiles"][q]
        assert b["lb"] <= float(e) <= b["ub"], (q, b, e)
        assert b["lb"] <= b["est"] <= b["ub"]

    # clustered layout: zones are tight -> interval well under the domain.
    # sf0.001 lineitem is too small to cluster (16 parts x 1 chunk), so
    # use a 60k-row / 2-part table where cluster_by gives ~60 narrow
    # chunks per part
    p2 = str(tmp_path / "clustered")
    big = (
        spark.range(60_000)
        .select(
            F.col("id").alias("k"),
            ((F.col("id") * 7919) % 60_000).cast("double").alias("v"),
        )
        .repartition(2)
    )
    encode_job(
        spark, big, p2, _policy(chunk_rows=64), if_exists="error",
        cluster_by=["v"],
    )
    exact2 = {
        q: big.selectExpr(f"percentile(v, {q}) AS p").first()["p"]
        for q in (0.1, 0.5, 0.9)
    }
    rep2 = quantile_job(spark, p2, "v", [0.1, 0.5, 0.9])
    assert rep2["n"] == 60_000
    for q, e in exact2.items():
        b = rep2["quantiles"][q]
        assert b["lb"] <= float(e) <= b["ub"], (q, b, e)
        assert (b["ub"] - b["lb"]) <= 0.06 * 60_000, (q, b)
        assert abs(b["est"] - float(e)) <= 0.06 * 60_000

    # refusals
    with pytest.raises(ConfigException, match="no widths to bin"):
        quantile_job(spark, p1, "l_returnflag", [0.5])
    with pytest.raises(ConfigException, match="not in table schema"):
        quantile_job(spark, p1, "ghost", [0.5])
    with pytest.raises(ConfigException, match="in \\[0, 1\\]"):
        quantile_job(spark, p1, "l_orderkey", [1.5])

    # time travel: the pre-delete snapshot answers with pre-delete bounds
    from embulk_output_s3_parquet_spark.jobs import delete_job

    EncodedTable(p2).set_snapshot_retention(2)
    before = quantile_job(spark, p2, "v", [0.5])
    delete_job(spark, p2, ("v", "<", 30_000.0))
    after = quantile_job(spark, p2, "v", [0.5])
    assert after["n"] < before["n"]
    assert quantile_job(spark, p2, "v", [0.5], at_gen=0) == before


@pytest.mark.slow
def test_diff_job_changelog(spark, tmp_path):
    """Generation-diff changelog (r5): diff_job emits row-level
    insert/delete changes between two retained snapshots, touching only
    parts the rewrites added/removed; diff_summary answers part-level
    deltas Spark-free. Completes the DML family: DELETE shows as deletes,
    UPDATE as delete(pre-image) + insert(post-image)."""
    from embulk_output_s3_parquet_spark.jobs import (
        delete_job, diff_job, diff_summary, update_job,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "chlog")
    encode_job(spark, docs, path, _policy(chunk_rows=64), if_exists="error")
    t = EncodedTable(path)
    t.set_snapshot_retention(3)
    g0 = t.generations()[-1]

    victims = [
        int(r[0])
        for r in docs.select("doc_id").orderBy("doc_id").limit(2).collect()
    ]
    delete_job(spark, path, ("doc_id", "==", victims[0]))
    g1 = EncodedTable(path).generations()[-1]
    update_job(spark, path, ("doc_id", "==", victims[1]), {"lang": "'zz'"})
    g2 = EncodedTable(path).generations()[-1]

    # DELETE: exactly the removed row, as a delete
    d01 = diff_job(spark, path, g0, g1).collect()
    assert len(d01) == 1
    assert d01[0]["_change"] == "delete" and d01[0]["doc_id"] == victims[0]

    # UPDATE: pre-image delete + post-image insert of the same key
    d12 = {(r["_change"], r["lang"]) for r in
           diff_job(spark, path, g1, g2).collect()}
    rows12 = diff_job(spark, path, g1, g2).collect()
    assert len(rows12) == 2
    assert all(r["doc_id"] == victims[1] for r in rows12)
    assert ("insert", "zz") in d12 and any(c == "delete" for c, _ in d12)

    # compound diff to current (to_gen defaults to the manifest pointer)
    d02 = diff_job(spark, path, g0).collect()
    assert len(d02) == 3
    assert sum(1 for r in d02 if r["_change"] == "delete") == 2
    assert sum(1 for r in d02 if r["_change"] == "insert") == 1

    # self-diff is empty, with the changelog schema
    d00 = diff_job(spark, path, g0, g0)
    assert d00.count() == 0 and "_change" in d00.columns

    # projection diff: the update only touched lang, so a doc_id-only
    # changelog cancels the update pair and keeps just the delete
    dproj = diff_job(spark, path, g0, columns=["doc_id"]).collect()
    assert len(dproj) == 1 and dproj[0]["doc_id"] == victims[0]

    # metadata-only summary agrees with lineage
    s = diff_summary(path, g0, g1)
    assert s["rows_delta"] == -1
    assert set(s["parts_added"]).isdisjoint(s["parts_removed"])
    assert s["parts_added"] and s["parts_removed"]

    # refusals
    with pytest.raises(ConfigException, match="swap the arguments"):
        diff_job(spark, path, g2, g0)
    with pytest.raises(ConfigException, match="collides"):
        diff_job(spark, path, g0, change_col="lang")
    with pytest.raises(ConfigException, match="not in table schema"):
        diff_job(spark, path, g0, columns=["ghost"])


def test_decode_chunks_fills_added_columns(spark, corpus, tmp_path):
    """The groupBy-reassembly decode (decode_job_chunks, also compact_job's
    scan) must null-fill columns added AFTER parts were committed -- and a
    projection of ONLY post-ADD columns must still return every row (one
    stored anchor column rides the scan for the chunk row counts)."""
    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import compact_job, decode_job_chunks

    path = str(tmp_path / "enc")
    encode_job(spark, corpus, path, _policy(), if_exists="error")
    t = EncodedTable(path)
    t.add_column("note", T.StringType())

    full = decode_job_chunks(spark, path)
    assert full.count() == ROWS
    assert full.where(F.col("note").isNotNull()).count() == 0

    only_added = decode_job_chunks(spark, path, columns=["note"])
    assert only_added.columns == ["note"]
    assert only_added.count() == ROWS  # rows survive an all-fillable projection
    assert only_added.where(F.col("note").isNotNull()).count() == 0

    mixed = decode_job_chunks(spark, path, columns=["repo", "note"])
    assert mixed.count() == ROWS
    assert mixed.where(F.col("note").isNull()).count() == ROWS

    # compaction decodes through the same path and must materialize the
    # added column as stored nulls
    compact_job(spark, path, _policy())
    assert decode_job(spark, path).where(F.col("note").isNull()).count() == ROWS


def test_roundtrip_direct_matches_plain_scan(spark):
    """r6 fast path: roundtrip_direct (executor-side pyarrow scan feeding
    the chunk kernels, checksum-free) must be value-identical to the plain
    spark.read.parquet scan -- full outer comparison, not just a hash."""
    from pyspark.sql import functions as F

    from embulk_output_s3_parquet_spark.operators.decode import roundtrip_direct
    from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy

    path = "/root/testdata/sf0.001/lineitem.parquet"
    got = roundtrip_direct(spark, path, CodecPolicy(chunk_rows=512))
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus:
    # compare as multisets of full rows
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count()


def test_minhash_md5_arrow_matches_jvm_formula(spark):
    """r6 fast path: the mapInArrow md5 signature stage must reproduce the
    JVM expression pipeline (portable_hash32 double-hashing + min agg)
    value-for-value, including the sample_mod shingle filter."""
    from pyspark.sql import functions as F

    from embulk_output_s3_parquet_spark.functions.dedup import (
        minhash_signatures,
        portable_hash32,
        shingle_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = minhash_signatures(
        docs, num_hashes=16, k=5, hasher="md5", sample_mod=2
    )
    # the pre-r6 JVM construction, inlined
    m = 2**31
    ex = shingle_stream(docs, 5, "text", "doc_id", dedupe=False).withColumnRenamed(
        "shingle", "s"
    )
    ex = ex.where(F.pmod(portable_hash32(F.col("s"), 13), F.lit(2)) == 0)
    ex = ex.withColumn(
        "h1", F.pmod(portable_hash32(F.col("s"), 0), F.lit(m))
    ).withColumn("h2", F.pmod(portable_hash32(F.col("s"), 7), F.lit(m)) + 1)
    mins = [
        F.min(F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(m))).alias(f"m{i}")
        for i in range(16)
    ]
    slow = (
        ex.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[F.col(f"m{i}") for i in range(16)]).alias("sig"))
    )
    a = {r["id"]: r["sig"] for r in fast.collect()}
    b = {r["id"]: r["sig"] for r in slow.collect()}
    assert a == b and len(a) > 100


def test_delete_cow_null_predicate_rows_survive(spark, tmp_path):
    """r6 fused cow delete: a row whose predicate evaluates to NULL is NOT
    deleted -- parity with the previous filter(~coalesce(cond, False)) and
    with merge-on-read marking."""
    from embulk_output_s3_parquet_spark.jobs import decode_job, delete_job, encode_job

    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else i * 10) for i in range(200)],
        "id long, v long",
    )
    path = str(tmp_path / "nulldel")
    encode_job(spark, df, path, _policy(chunk_rows=32), if_exists="error")
    rep = delete_job(spark, path, ("v", ">=", 500))
    # v >= 500 matches ids 50..199 except the null rows (every 5th)
    expect_deleted = sum(1 for i in range(200) if i % 5 != 0 and i * 10 >= 500)
    assert rep["rows_deleted"] == expect_deleted
    left = decode_job(spark, path)
    assert left.filter("v is null").count() == 40  # all null rows kept
    assert left.count() == 200 - expect_deleted
