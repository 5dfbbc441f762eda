"""Truncated string prefix zones ("mp"): Parquet's truncate-and-increment
column statistics for document-sized text.

Long-string chunks get no exact zone ("mm", codecs._zone_of caps endpoint
storage at 64 chars) -- round-5 adds a WIDENED prefix zone instead: lo =
min over 64-codepoint prefixes, hi = code-point increment of the max
prefix. The interval contains the exact zone, so pruning stays sound in
both directions (exclude AND include), while exactness consumers
(minmax_job / quantile_job / stats folds) key on "mm" only and never see
it. These tests pin the soundness invariant, the encode-side emission
rule, scan pruning, and the part-level rollup.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_output_s3_parquet_spark.codecs import (
    _cp_increment,
    _prefix_zone_of,
    encode_array,
    meta_to_json,
)
from embulk_output_s3_parquet_spark.operators.encode import lineage_row_from_chunks
from embulk_output_s3_parquet_spark.sources.chunkscan import (
    _conjunct_state,
    iter_part_tables,
    scan_file,
)


# ---------------------------------------------------------------------------
# the widening invariant: lo <= every value < hi
# ---------------------------------------------------------------------------

TRICKY = [
    ["x" * 200, "y" * 300, "z"],
    ["héllo wörld " * 20, "ßtraße " * 30, "ascii only " * 10],
    ["\U0001f600" * 70, "plain", "\U0010ffff" + "a" * 100],
    ["", "a" * 65, "b"],
    ["same prefix " * 10 + "a", "same prefix " * 10 + "b"],
    ["\U0010ffff" * 80, "tail"],  # max prefix all-U+10FFFF heads
]


@pytest.mark.parametrize("vals", TRICKY)
def test_prefix_zone_contains_every_value(vals):
    zone = _prefix_zone_of(pa.array(vals))
    if zone is None:
        # only legal when no finite upper bound exists (all-maxed prefixes)
        assert all(v[:1] == "\U0010ffff" for v in [max(vals)])
        return
    lo, hi = zone
    assert all(lo <= v < hi for v in vals), (zone, vals)
    assert len(lo) <= 64 and len(hi) <= 64


def test_cp_increment_edges():
    assert _cp_increment("ab") == "ac"
    # surrogate gap is hopped, not entered
    assert _cp_increment("a퟿") == "a"
    # maxed-out code points drop until something increments
    assert _cp_increment("a\U0010ffff\U0010ffff") == "b"
    assert _cp_increment("\U0010ffff") is None
    assert "a퟿" < _cp_increment("a퟿")


# ---------------------------------------------------------------------------
# encode-side emission rule: mm for short strings, mp for long, never both
# ---------------------------------------------------------------------------


def test_encode_array_emits_mp_only_for_long_strings():
    _, meta_short = encode_array(pa.array(["aa", "bb", "cc"]))
    assert "mm" in meta_short and "mp" not in meta_short
    docs = pa.array([f"doc {i:04d} " + "lorem ipsum " * 50 for i in range(32)])
    _, meta_long = encode_array(docs)
    assert "mm" not in meta_long and "mp" in meta_long
    lo, hi = meta_long["mp"]
    assert all(lo <= v < hi for v in docs.to_pylist())
    # non-strings never get one
    _, meta_int = encode_array(pa.array(list(range(10))))
    assert "mp" not in meta_int


def test_mp_survives_meta_json_roundtrip():
    import json

    docs = pa.array(["p" + "x" * 100, "q" + "y" * 100])
    _, meta = encode_array(docs)
    m = json.loads(meta_to_json(meta))
    assert m["mp"] == meta["mp"]


# ---------------------------------------------------------------------------
# scan pruning on a crafted chunk file (the shared-reader contract)
# ---------------------------------------------------------------------------

N_CHUNKS = 6
ROWS = 4


def _write_doc_chunk_file(path: str) -> list[str]:
    """Chunk file whose `doc` column is document-sized (no exact zone) but
    globally sorted by a short prefix, so prefix zones are disjoint."""
    rows = {"chunk_seq": [], "col": [], "meta": [], "payload": []}
    docs: list[str] = []
    chunks = []
    for seq in range(N_CHUNKS):
        vals = [
            f"repo{seq:02d}/file{i}.py\n" + f"line of code {seq} {i}\n" * 40
            for i in range(ROWS)
        ]
        docs.extend(vals)
        chunks.append((seq, pa.array(vals)))
    for seq, arr in chunks:
        payload, meta = encode_array(arr)
        assert "mp" in meta and "mm" not in meta  # the long-string shape
        rows["chunk_seq"].append(seq)
        rows["col"].append("doc")
        rows["meta"].append(meta_to_json(meta))
        rows["payload"].append(payload)
    pq.write_table(pa.table(rows), path, row_group_size=1, compression="none")
    return docs


def test_prefix_zone_prunes_chunks_and_row_groups(tmp_path):
    path = str(tmp_path / "docs.parquet")
    docs = _write_doc_chunk_file(path)
    fields = [("doc", pa.string())]

    # range predicate: only the last chunk's repo prefix can match
    stats: dict = {}
    got = pa.concat_tables(
        iter_part_tables([path], fields, [("doc", ">=", "repo05")], stats)
    )
    want = sorted(v for v in docs if v >= "repo05")
    assert sorted(got.column("doc").to_pylist()) == want
    assert stats["chunks_skipped"] == N_CHUNKS - 1, stats
    assert stats["rg_read"] == 1, stats

    # equality on an absent key: every chunk excluded, zero payload IO
    stats = {}
    surviving, _, _ = scan_file(path, ["doc"], [("doc", "==", "zzz")], stats_out=stats)
    assert surviving == [] and stats.get("rg_read", 0) == 0

    # startswith pruning through the same widened zones
    stats = {}
    got = pa.concat_tables(
        iter_part_tables([path], fields, [("doc", "startswith", "repo02/")], stats)
    )
    assert got.num_rows == ROWS
    assert stats["chunks_skipped"] == N_CHUNKS - 1, stats


def test_conjunct_state_full_inclusion_via_mp():
    """zone_includes stays sound under widening: a null-free chunk whose
    widened interval fully satisfies the op counts without payload IO."""
    docs = pa.array(["m" + "x" * 100, "n" + "y" * 100])
    _, meta = encode_array(docs)
    assert _conjunct_state(meta, ">=", "a") == "all"
    assert _conjunct_state(meta, "<", "zzz") == "all"
    assert _conjunct_state(meta, ">=", "z") == "none"
    # literal strictly inside the widened interval: undecidable
    assert _conjunct_state(meta, ">=", "n") == "maybe"


# ---------------------------------------------------------------------------
# part-level rollup: union of (mm | mp) per chunk, dropped when mm exists
# ---------------------------------------------------------------------------


def _roll(metas):
    import json

    n = len(metas)
    return lineage_row_from_chunks(
        seqs=list(range(n)),
        cols=["doc"] * n,
        metas_json=[meta_to_json(m) for m in metas],
        raw_bytes=[1] * n,
        enc_bytes=[1] * n,
        shas=["0" * 64] * n,
        ns=[json.loads(meta_to_json(m))["n"] for m in metas],
        first_col="doc",
    )


def test_part_rollup_merges_prefix_zones():
    long_a = encode_array(pa.array(["aaa" + "x" * 100] * 4))[1]
    long_b = encode_array(pa.array(["bbb" + "y" * 100] * 4))[1]
    short = encode_array(pa.array(["ccc", "cdd"]))[1]

    # mixed long+short: part gets a widened union, no exact part zone
    z = _roll([long_a, long_b, short])["zones"]["doc"]
    assert z.get("mm") is None and "mp" in z
    lo, hi = z["mp"]
    # closed containment interval: an exact chunk max is a valid endpoint
    assert lo <= "aaa" + "x" * 100 and hi >= "cdd"

    # all-short: exact part zone wins, widening dropped as redundant
    z2 = _roll([short, encode_array(pa.array(["aab", "abz"]))[1]])["zones"]["doc"]
    assert z2.get("mm") == ["aab", "cdd"] and "mp" not in z2


# ---------------------------------------------------------------------------
# e2e: committed tables prune WHOLE PARTS on long-string predicates
# ---------------------------------------------------------------------------


def test_e2e_part_pruning_on_long_strings(spark, tmp_path):
    """A corpus-shaped table whose content column is document-sized: with
    the table clustered on content, part-level prefix zones skip parts
    driver-side (no task scheduled) and results stay exact."""
    from pyspark.sql import functions as F

    from embulk_output_s3_parquet_spark.jobs import decode_job, encode_job
    from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    df = spark.range(0, 256).select(
        F.concat(
            F.format_string("repo%03d/main.py\n", (F.col("id") / 32).cast("int")),
            F.repeat(F.format_string("def f%d(): pass\n", F.col("id")), 8),
        ).alias("content"),
        F.col("id").alias("doc_id"),
    )
    path = str(tmp_path / "longstr")
    encode_job(
        spark,
        df,
        path,
        CodecPolicy(chunk_rows=32, target_partition_bytes=64 * 1024),
        cluster_by=("content",),
        if_exists="error",
    )
    t = EncodedTable(path)
    zones = t.part_zones()
    assert len(zones) >= 4, "need multiple parts for a pruning assertion"
    assert all(
        "mp" in z["content"] and z["content"].get("mm") is None
        for z in zones.values()
    )

    # beyond every part's prefix zone: zero dirs scheduled, zero tasks
    assert t.pruned_part_dirs([("content", ">=", "repo999")]) == []
    st: dict = {}
    assert count_table(path, where=("content", ">=", "repo999"), scan_stats=st) == 0
    assert st.get("parts_skipped", 0) == st["parts_total"], st

    # mid-range predicate: exact results through every surface (parts are
    # byte-balanced, not range-disjoint, so this checks exactness; the
    # chunk-level skipping inside surviving parts is pinned by
    # test_prefix_zone_prunes_chunks_and_row_groups)
    lit = "repo006"
    got = decode_job(spark, path, where=("content", ">=", lit))
    want = df.where(F.col("content") >= lit)
    assert got.count() == want.count() == 32 * 2
    assert count_table(path, where=("content", ">=", lit)) == 64
