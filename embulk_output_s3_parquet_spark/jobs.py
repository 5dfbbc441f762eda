"""End-to-end encode/decode jobs: the engine's ``transaction()`` analogue.

Control path mirrors the reference's driver-side lifecycle (reference
S3ParquetOutputPlugin.scala:27-56): validate config -> build plan -> launch
tasks -> collect task reports -> register catalog entry. Here: validate
policy -> byte-balanced salted partition plan -> skip checkpointed parts
(left_anti on the manifest) -> applyInArrow encode -> stage -> atomic commit
with per-partition lineage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.decode import decode_chunks, map_units, part_slices
from .operators.encode import encode_grouped, encode_local
from .plans.partitioning import assign_partitions, assign_partitions_generic
from .plans.policy import CodecPolicy, ConfigException
from .sources.tables import EncodedTable

# re-exported here because lineage_row_from_chunks applies the budget at
# commit time (tests reference it as jobs.PART_BF_MAX_BYTES)
from .codecs.bloom import PART_BF_MAX_BYTES


# merge_zone/merge_sum moved to sources.chunkscan (minmax_file/sum_file share
# them executor-side without importing this pyspark-heavy module in tasks);
# re-exported because lineage_row_from_chunks and tests use jobs.merge_zone
from .sources.chunkscan import merge_sum, merge_zone, summable as _summable  # noqa: E402,F401


def lineage_row_from_chunks(
    seqs, cols, metas_json, shas, raw_bytes, enc_bytes, ns, first_col: str
) -> dict:
    """Build one part's lineage row (rows/chunks/bytes, order-canonical
    sha256 chunk manifest, per-column zone summaries) from parallel chunk
    metadata sequences. The ONE canonicalization -- shared by the commit
    job's per-part pass and the Catalyst writer, so verify_table's sha
    recomputation can never drift from either producer."""
    import hashlib as _h
    import json as _json

    zones: dict = {}
    codecs: set = set()
    chunk_bfs: dict[str, list] = {}
    part_bfs: dict[str, list] = {}
    part_hlls: dict[str, list] = {}
    rows = 0
    for col, n, mj in zip(cols, ns, metas_json):
        m = _json.loads(mj)
        codecs.add(m["c"])
        if col == first_col:
            rows += int(n)
        e = {
            "t": m.get("t", ""),
            "n": int(m.get("n", 0)),
            "z": int(m.get("z", 0)),
            "mm": m.get("mm"),
            "mp": m.get("mm") if m.get("mm") is not None else m.get("mp"),
            "sm": m.get("sm"),
        }
        if e["sm"] is None and e["z"] >= e["n"] and _summable(e["t"]):
            # an all-null chunk records no sum but CONTRIBUTES zero -- only
            # a value-carrying chunk without one poisons the part sum
            e["sm"] = "0" if e["t"].startswith("decimal128(") else 0
        chunk_bfs.setdefault(col, []).append(m.get("bf"))
        if "pbf" in m:
            part_bfs.setdefault(col, []).append(m["pbf"])
        if "phl" in m:
            part_hlls.setdefault(col, []).append(m["phl"])
        cur = zones.get(col)
        if cur is None:
            zones[col] = e
        else:
            cur["n"] += e["n"]
            cur["z"] += e["z"]
            cur["mm"] = merge_zone(cur["t"], cur["mm"], e["mm"])
            # part-level widened zone: union over each chunk's exact zone
            # (which embeds in its own widening) or prefix zone; one chunk
            # with neither poisons it, same rule as "mm"
            cur["mp"] = merge_zone(cur["t"], cur["mp"], e["mp"])
            cur["sm"] = merge_sum(cur["t"], cur["sm"], e["sm"])
    for e in zones.values():  # poisoned/non-summable/redundant: no bytes
        if e.get("sm") is None:
            e.pop("sm", None)
        if e.get("mp") is None or e.get("mm") is not None:
            e.pop("mp", None)  # exact part zone present: widening is noise
    # part-level blooms so a point lookup prunes whole PARTS driver-side
    # via pruned_part_dirs/surviving_parts -- zones can't exclude unsorted
    # high-cardinality keys, exactly the columns blooms are opted into.
    # Preferred source: the encoder's call-level "pbf" filters (one per
    # encode call per column, sized ~10 bits per COVERED row -- a union of
    # chunk-sized filters saturates on multi-chunk parts). Fallback for
    # metas from older producers: OR the chunk filters per geometry.
    # Either way merge_groups returns None (no entry, no manifest bytes)
    # on any gap or when a group is too saturated to ever skip.
    from .codecs import bloom as _bloom

    for col, bfs in chunk_bfs.items():
        src = part_bfs.get(col) or bfs
        merged = _bloom.merge_groups(src)
        if merged is not None and sum(g["m"] // 8 for g in merged) <= PART_BF_MAX_BYTES:
            zones[col]["bf"] = merged[0] if len(merged) == 1 else merged
    # part-level NDV sketch: register-wise union of the call-level "phl"
    # sketches (an all-null call records none and contributes no values,
    # so merging whatever is present is exact for the part's support)
    from .codecs import hll as _hll

    for col, hls in part_hlls.items():
        merged_hl = _hll.merge(hls)
        if merged_hl is not None and col in zones:
            zones[col]["hl"] = merged_hl
    sha = _h.sha256(
        "".join(s for _, _, s in sorted(zip(seqs, cols, shas))).encode()
    ).hexdigest()
    return {
        "rows": rows,
        "chunks": len(set(seqs)),
        "raw_bytes": int(sum(raw_bytes)),
        "enc_bytes": int(sum(enc_bytes)),
        "sha256_manifest": sha,
        "codecs": sorted(codecs),
        "zones": zones,
    }


def _lineage_rows(encoded_on_disk: DataFrame, first_col: str, wall_s: float) -> dict[int, dict]:
    """One metadata job per commit: group the chunk metadata columns
    (payloads never move) by part and compute the whole lineage row via
    ``lineage_row_from_chunks``."""
    import json as _json

    sel = encoded_on_disk.select(
        "part_id", "chunk_seq", "col", "meta", "raw_bytes", "enc_bytes", "payload_sha", "n"
    )

    def per_part(pdf):
        import pandas as pd

        row = lineage_row_from_chunks(
            [int(x) for x in pdf["chunk_seq"]],
            list(pdf["col"]),
            list(pdf["meta"]),
            list(pdf["payload_sha"]),
            list(pdf["raw_bytes"]),
            list(pdf["enc_bytes"]),
            list(pdf["n"]),
            first_col,
        )
        return pd.DataFrame(
            {"part_id": [int(pdf["part_id"].iloc[0])], "lineage": [_json.dumps(row)]}
        )

    out: dict[int, dict] = {}
    collected = sel.groupBy("part_id").applyInPandas(
        per_part, "part_id long, lineage string"
    ).collect()
    for r in collected:
        row = _json.loads(r["lineage"])
        row["wall_s"] = round(wall_s, 3)
        out[int(r["part_id"])] = row
    return out


def _record_write_order(table: EncodedTable, cluster: tuple, zorder: bool) -> None:
    """Persist the clustering layout (Iceberg sort-order metadata analogue):
    ``write-order`` names the columns, ``write-order-zorder`` records
    whether the layout is a Z-curve -- rewrites (compact/delete/update/
    merge) re-apply the SAME layout so a maintenance pass never silently
    un-clusters or de-zorders a table."""
    if not cluster:
        return
    props = table.properties()
    if props.get("write-order") != list(cluster):
        table.set_property("write-order", list(cluster))
    if bool(props.get("write-order-zorder", False)) != bool(zorder):
        table.set_property("write-order-zorder", bool(zorder))


def _check_plan_layout(table: EncodedTable, plan, resuming: bool) -> None:
    """Guard a resume against a planner change. Part ids of a lane-planned
    wave name the rows the layout put there; a wave planned under another
    layout (or before layouts were recorded) names different rows by the
    same ids, so resuming it would silently skip and duplicate rows --
    refuse loudly, like the ``direct-input-fingerprint`` guard."""
    if plan.layout is None:
        return
    recorded = table.properties().get("plan-layout")
    if recorded == plan.layout:
        return
    if resuming:
        raise ConfigException(
            f"resume refused: {table.path} has parts in this wave's id range "
            f"planned under layout {recorded or 'unrecorded'!r}, but this "
            f"engine plans {plan.layout!r}; re-encode with if_exists='delete' "
            "or append at a fresh part_base"
        )
    table.set_property("plan-layout", plan.layout)


def encode_job(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    policy: CodecPolicy | None = None,
    if_exists: str = "skip",
    max_parts: int | None = None,
    part_base: int = 0,
    shuffle_mode: str = "chunks",
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    bucket_by: tuple | None = None,
) -> EncodedTable:
    """Encode ``df`` into an EncodedTable; resumes from the manifest.

    ``max_parts`` bounds how many incomplete partitions this wave commits --
    used by the kill/resume tests to simulate a job dying mid-run.
    ``part_base`` offsets assigned part_ids (streaming micro-batches pass
    batch_id * stride so replayed batches re-map to the same ids ->
    manifest skip makes the sink exactly-once).

    ``shuffle_mode``: "chunks" (default) encodes part-aligned segments in
    place and shuffles only the encoded chunks to their part files (~10x
    less shuffle volume); "rows" shuffles raw rows to co-locate each part
    in one task (larger chunks, better compression locality).

    ``cluster_by``: sort rows by these columns within each part before
    chunking (Iceberg-write-order analogue): the columns' per-chunk zone
    maps become tight disjoint ranges, so ``decode_job(where=...)`` range
    predicates skip most chunks' payload IO instead of none.

    ``zorder=True`` replaces the lexicographic cluster sort with a Z-curve
    over the ``cluster_by`` columns (rank-interleaved, task-local -- see
    operators.encode._zorder_take): per-chunk zones become tight boxes in
    EVERY clustered dimension, so range predicates on any of them prune,
    not just the leading one (Delta OPTIMIZE ZORDER / Iceberg sort-order
    analogue).

    ``bucket_by=(col, N)``: bucket-major layout (Iceberg bucket transform):
    every part holds rows of one ``pmod(xxhash64(col), N)`` bucket, recorded
    per part in lineage, enabling the shuffle-free bucketed equi-join
    (``operators.bucketjoin``). Appends to a bucketed table inherit the
    recorded spec; a conflicting respec is refused.
    """
    policy = policy or CodecPolicy()
    policy.validate(df.schema)
    cluster = tuple(cluster_by or ())
    if zorder and not cluster:
        # without cluster columns the z-key is empty: the caller would pay
        # the full raw-row shuffle for an unclustered table and no pruning
        # (the embulk-config layer already refuses this combination)
        raise ConfigException("zorder=True requires cluster_by")
    names = set(df.columns)
    for c in cluster:
        if c not in names:
            raise ConfigException(f"cluster_by: unknown column {c!r}")
    _validate_bucket_request(bucket_by, df.schema)
    t0 = time.time()

    table = EncodedTable.create(table_path, df.schema, policy, if_exists=if_exists)
    bucket = _resolve_bucket_by(table, bucket_by, df.schema)
    dfp, plan = _plan(df, policy, bucket=bucket)
    # retired ids (delete_job tombstones) count as done: a replayed stream
    # micro-batch / resumed wave must not resurrect their original rows.
    # Only ids inside this plan's range can match one of its rows.
    done = table.completed_parts() | table.retired_parts()
    done_here = sorted(p for p in done if part_base <= p < part_base + plan.n_parts)
    _check_plan_layout(table, plan, bool(done_here))
    if part_base:
        dfp = dfp.withColumn("part_id", (F.col("part_id") + F.lit(part_base)).cast("long"))
    _record_write_order(table, cluster, zorder)
    table.clean_staging()
    # reserve this plan's id range BEFORE any part lands: a delete/compact
    # rewrite racing (or running between waves of) this plan must mint its
    # ids above the reservation, or resume would see the rewrite's id in
    # completed_parts and silently skip that input partition's rows
    if plan.n_parts:
        table.note_part_extent(part_base + plan.n_parts - 1)

    if done_here:
        done_df = spark.createDataFrame([(p,) for p in done_here], "part_id long")
        dfp = dfp.join(F.broadcast(done_df), "part_id", "left_anti")
    if max_parts is not None:
        todo = sorted(set(range(part_base, part_base + plan.n_parts)) - done)[:max_parts]
        keep = spark.createDataFrame([(p,) for p in todo], "part_id long")
        dfp = dfp.join(F.broadcast(keep), "part_id", "left_semi")

    if shuffle_mode == "rows" or zorder:
        # z-order requires WHOLE parts per task: rank-interleaving over a
        # scan-partition fragment of a part gives fragment-sized boxes
        # (measured: 0.65x-domain chunk zones vs 0.23 with co-located
        # parts). The raw-row shuffle is the same trade Delta's OPTIMIZE
        # ZORDER makes (repartition by z-range before rewriting files).
        encoded = encode_grouped(dfp, policy, cluster_by=cluster, zorder=zorder)
    else:
        # shuffle AFTER encoding: only compressed chunks move to part files
        encoded = encode_local(dfp, policy, cluster_by=cluster).repartition(
            "part_id"
        )
    staging = table.new_staging()
    _write_chunk_files(encoded, staging)

    import os

    wrote_parts = any(n.startswith("part_id=") for n in os.listdir(staging))
    if not wrote_parts:
        table.commit_staging(staging, {})
        return table
    on_disk = spark.read.parquet(staging)
    lineage = _lineage_rows(on_disk, df.schema.fields[0].name, time.time() - t0)
    _annotate_buckets(lineage, plan.bucket_ranges, shift=part_base)
    table.commit_staging(staging, lineage)
    table.log_op(
        "encode",
        {"parts": len(lineage), "rows": sum(r["rows"] for r in lineage.values())},
    )
    return table


def encode_parquet_job(
    spark: SparkSession,
    parquet_path: str,
    table_path: str,
    policy: CodecPolicy | None = None,
    if_exists: str = "skip",
    max_parts: int | None = None,
    parallelism: int | None = None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> EncodedTable:
    """File-input encode job: executor-side pyarrow split scans
    (operators.encode.encode_direct -- no JVM->Python raw-byte hop) feeding
    the SAME staged commit / sharded-lineage / resume protocol as
    encode_job. part_id = split index is deterministic for a fixed input
    file set, so a resumed job skips completed splits without re-reading
    them (``max_parts`` bounds a wave, as in encode_job)."""
    from .operators.encode import encode_direct, plan_parquet_splits

    policy = policy or CodecPolicy()
    # schema + fingerprint from the SAME footer-based planner encode_direct
    # uses (one derivation: a JVM spark.read here could map timestamps
    # differently and would pay a redundant listing)
    _splits, schema, fingerprint = plan_parquet_splits(parquet_path, policy)
    policy.validate(schema)
    cluster = tuple(cluster_by or ())
    if zorder and not cluster:
        raise ConfigException("zorder=True requires cluster_by")
    names = {f.name for f in schema.fields}
    for c in cluster:
        if c not in names:
            raise ConfigException(f"cluster_by: unknown column {c!r}")
    t0 = time.time()
    table = EncodedTable.create(table_path, schema, policy, if_exists=if_exists)
    if table.properties().get("bucket-by"):
        # split-index part ids are file geometry, not key hashes: a direct
        # append cannot honor bucket purity. Re-bucket via compact_job.
        raise ConfigException(
            "encode_parquet_job cannot append to a bucketed table "
            f"({table_path} records bucket-by); use encode_job, or drop the "
            "layout with if_exists='delete'"
        )
    _record_write_order(table, cluster, zorder)
    table.clean_staging()
    done = table.completed_parts() | table.retired_parts()
    recorded = table.properties().get("direct-input-fingerprint")
    if recorded is not None and recorded != fingerprint:
        if done:
            # part_id = split index: if the input file set or the split
            # target changed since the first wave, the completed indices
            # name DIFFERENT data now -- resuming would silently skip
            # unencoded rows and collide part_ids. Refuse loudly.
            raise ConfigException(
                f"resume refused: input under {parquet_path} changed since "
                f"this table's first wave (split fingerprint {recorded[:12]} "
                f"-> {fingerprint[:12]}); re-encode with if_exists='delete' "
                "or restore the original input"
            )
        # recorded but nothing committed yet (first wave died before any
        # part landed): the old fingerprint pins nothing -- reconcile it so
        # it can't refuse a legitimate later resume of THIS input
        recorded = None
    if recorded is None:
        table.set_property("direct-input-fingerprint", fingerprint)
    # reserve the full split-index range before any part lands (see
    # encode_job): rewrites mint their ids above it
    if _splits:
        table.note_part_extent(len(_splits) - 1)
    # no repartition: a split IS a part and never spans tasks, so the
    # partitionBy writer already gets whole parts -- zero shuffle end to
    # end. The splits planned above are passed through: encode_direct must
    # not replan, or an input change between two plans would bypass the
    # fingerprint guard.
    encoded = encode_direct(
        spark, parquet_path, policy, parallelism=parallelism,
        skip_parts=frozenset(done), max_parts=max_parts, cluster_by=cluster,
        plan=(_splits, schema), zorder=zorder,
    )
    staging = table.new_staging()
    _write_chunk_files(encoded, staging)
    import os

    if not any(n.startswith("part_id=") for n in os.listdir(staging)):
        table.commit_staging(staging, {})
        return table
    on_disk = spark.read.parquet(staging)
    lineage = _lineage_rows(on_disk, schema.fields[0].name, time.time() - t0)
    table.commit_staging(staging, lineage)
    table.log_op(
        "encode_direct",
        {"parts": len(lineage), "rows": sum(r["rows"] for r in lineage.values())},
    )
    return table


def decode_job(
    spark: SparkSession,
    table_path: str,
    columns: list[str] | None = None,
    where=None,
    counters: dict | None = None,
    at_gen: int | str | None = None,
) -> DataFrame:
    """Decode a committed table. Default: the shuffle-free part-aligned scan
    (decode_table_scan) with optional zone-map predicate skipping (``where``
    is one (col, op, literal) conjunct or a list ANDed together); use
    decode_job_chunks for encoded layouts not produced by encode_job.
    ``counters`` (from ``operators.decode.scan_counters``) surfaces
    chunks/row-groups skipped after an action runs.

    ``at_gen`` time-travels to a retained part-set generation (Iceberg
    snapshot read): the table must have ``snapshot-retention`` > 0 so
    rewrites keep superseded generations on disk
    (``EncodedTable.set_snapshot_retention`` / ``generations()``). The
    snapshot is read with the CURRENT schema, like Iceberg's default."""
    from .operators.decode import _prune_schema, decode_table_scan

    table = EncodedTable(table_path)
    at_gen = table.resolve_ref(at_gen)  # tag name | gen | None
    if at_gen is not None:
        snap = table.lineage_at(at_gen)
        if not snap:
            return spark.createDataFrame([], _prune_schema(table.schema(), columns))
        # the pinned generation's lineage rows carry the same per-part zone
        # summaries as the live one, so part-level pruning fires on the
        # SNAPSHOT's own zones; chunk-level skipping follows in the scanner
        parts = set(snap)
        if where:
            from .sources.chunkscan import _survives, normalize_where

            names = [f.name for f in table.schema().fields]
            conjuncts = normalize_where(where, names)
            fillable = frozenset(table.added_columns())
            parts = {
                p for p in parts
                if _survives(
                    snap[p].get("zones", {}), conjuncts, fillable=fillable
                )
            }
            if not parts:
                return spark.createDataFrame([], _prune_schema(table.schema(), columns))
        return decode_table_scan(
            spark, table, columns=columns, where=where, counters=counters,
            parts=parts, dv=table.part_dv(gen=at_gen),
        )
    return decode_table_scan(
        spark, table, columns=columns, where=where, counters=counters
    )


def count_job(
    spark: SparkSession, table_path: str, where=None, at_gen: int | None = None
) -> int:
    """Exact COUNT(*) with metadata-only pruning: chunks whose zone + null
    metadata prove full inclusion contribute their row count with NO payload
    read; fully-excluded chunks contribute zero; only boundary chunks decode
    (and only the predicate columns). On a clustered table a range COUNT
    touches O(boundary) payload bytes instead of the whole column.

    Distributed the same way as decode_table_scan: part dirs (tiny strings)
    fan out to tasks, per-task counts sum on the driver -- the only data
    that moves is one long per task."""
    import os

    from .sources.chunkscan import conjunct_state_of, normalize_where

    table = EncodedTable(table_path)
    at_gen = table.resolve_ref(at_gen)  # tag name | gen | None
    names = [f.name for f in table.schema().fields]
    conjuncts = normalize_where(where, names)  # fail fast on the driver
    lineage = (
        table.lineage_at(at_gen) if at_gen is not None else table.lineage()
    )
    if not lineage:
        from .plans.policy import ConfigException

        raise ConfigException(f"table {table_path} has no committed partitions")

    # part-level tri-state first: a fully-included part contributes its
    # audited lineage row count, a fully-excluded part contributes zero --
    # neither gets a task. COUNT(*) with no predicate is a pure driver-side
    # lineage sum (no Spark job at all).
    total = 0
    dirs, weights = [], []
    fillable = frozenset(table.added_columns())
    aliases = table.stored_aliases()
    # merge-on-read delete vectors: decided counts shrink by the recorded
    # deleted totals; boundary parts ship their vector into the task
    dv_all = table.part_dv(gen=at_gen) if at_gen is not None else table.part_dv()
    # sidecar part-blooms can exclude whole parts that zones can't (==/in on
    # unsorted high-cardinality keys); probe them once, streamed per shard.
    # CURRENT-generation reads only: surviving_parts evaluates the current
    # part set, so consulting it for an at_gen snapshot would silently skip
    # parts a later rewrite replaced (wrong historical counts); snapshot
    # reads keep the per-part zone tri-state below instead
    admitted = (
        table.surviving_parts(conjuncts, spark=spark) if conjuncts and at_gen is None else None
    )
    for pid in sorted(lineage):
        row = lineage[pid]
        dv_n = int(dv_all.get(pid, {}).get("n", 0))
        if not conjuncts:
            total += int(row["rows"]) - dv_n
            continue
        if admitted is not None and pid not in admitted:
            continue
        zones = row.get("zones", {})
        n_rows = int(row.get("rows", 0))
        states = [
            conjunct_state_of(zones, n_rows, c, op, v, fillable)
            for c, op, v in conjuncts
        ]
        if any(s == "none" for s in states):
            continue
        if all(s == "all" for s in states):
            total += int(row["rows"]) - dv_n
            continue
        dirs.append(
            (os.path.join(table.data_dir, f"part_id={pid}"), dv_all.get(pid))
        )
        weights.append(int(row.get("enc_bytes", 0)))
    if not dirs:
        return total

    def cnt(units):
        import glob as _glob
        import os as _os

        import pandas as pd

        from embulk_output_s3_parquet_spark.sources.chunkscan import count_file

        n = 0
        for d, dv in units:
            files = sorted(_glob.glob(_os.path.join(d, "*.parquet")))
            if not files:
                raise FileNotFoundError(f"committed part missing: {d}")
            for f in files:
                n += count_file(
                    f, conjuncts, fillable=fillable, aliases=aliases, dv=dv
                )
        yield pd.DataFrame({"n": [n]})

    out = map_units(spark, dirs, weights, cnt, "n long")
    return total + int(out.agg(F.sum("n")).first()[0] or 0)


def _stats_scan(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    where,
    at_gen: int | str | None,
    sums: bool,
) -> dict[str, dict]:
    """Shared metadata-first column-stats scan behind :func:`minmax_job`
    and :func:`sum_job`: returns ``{col: {"t", "mm", "sm", "nn"}}`` in the
    zone storage domain.

    Three metadata tiers before any payload IO: (1) with no predicate, a
    part whose lineage zones answer the column (bounds, and the part sum
    when ``sums``) contributes driver-side -- no Spark job at all; (2)
    per-part tri-state (zones + bloom sidecars) drops fully-excluded parts
    with no task; (3) inside surviving parts, minmax_file decodes only
    boundary chunks (masked by the undecided conjuncts) and chunks whose
    metadata lacks the needed stat. Like count_job, the only thing
    collected is one JSON line per task."""
    import json as _json
    import os

    from .sources.chunkscan import conjunct_state_of, fold_stat, normalize_where

    table = EncodedTable(table_path)
    at_gen = table.resolve_ref(at_gen)  # tag name | gen | None
    names = [f.name for f in table.schema().fields]
    missing = [c for c in columns if c not in names]
    if missing:
        raise ConfigException(f"aggregate columns not in table schema: {missing}")
    conjuncts = normalize_where(where, names)
    lineage = (
        table.lineage_at(at_gen) if at_gen is not None else table.lineage()
    )
    if not lineage:
        raise ConfigException(f"table {table_path} has no committed partitions")
    fillable = frozenset(table.added_columns())
    aliases = table.stored_aliases()
    # merge-on-read deletes: a part with a vector can't resolve from its
    # lineage zones/sums (a deleted row may be the extremum / inflate the
    # sum) -- its columns fall to the file scan, which masks per chunk
    dv_all = table.part_dv(gen=at_gen) if at_gen is not None else table.part_dv()

    acc: dict[str, dict] = {
        c: {"t": "", "mm": None, "sm": None, "nn": 0} for c in columns
    }

    # same at_gen caveat as count_job: the bloom-sidecar shortcut knows only
    # the CURRENT part set, so snapshot reads rely on the zone tri-state
    admitted = (
        table.surviving_parts(conjuncts, spark=spark) if conjuncts and at_gen is None else None
    )
    dirs, weights = [], []
    for pid in sorted(lineage):
        row = lineage[pid]
        zones = row.get("zones", {})
        n_rows = int(row.get("rows", 0))
        if conjuncts:
            if admitted is not None and pid not in admitted:
                continue
            states = [
                conjunct_state_of(zones, n_rows, c, op, v, fillable)
                for c, op, v in conjuncts
            ]
            if any(s == "none" for s in states):
                continue
            boundary = any(s != "all" for s in states)
        else:
            boundary = False
        # columns the lineage row could NOT answer for this part: only
        # these may be re-derived from the files, or an already-folded
        # column's sum/count would be added twice
        unresolved_cols: list[str] = []
        if pid in dv_all and not boundary:
            unresolved_cols = list(columns)  # vectors poison part zones/sums
        elif not boundary:
            # fully-included part: lineage zones answer columns they cover
            for c in columns:
                e = zones.get(c)
                if e is None:
                    if c not in fillable:
                        unresolved_cols.append(c)
                    continue  # added column: all-null in this part
                if int(e.get("z", 0)) >= int(e.get("n", 0)):
                    fold_stat(acc, c, {"t": e.get("t", "")})
                elif e.get("mm") is not None and (
                    not sums or e.get("sm") is not None
                ):
                    fold_stat(acc, c, {
                        "t": e.get("t", ""),
                        "mm": e["mm"],
                        "sm": e.get("sm") if sums else None,
                        "nn": int(e.get("n", 0)) - int(e.get("z", 0)),
                    })
                else:
                    unresolved_cols.append(c)
        if boundary or unresolved_cols:
            dirs.append(
                (
                    os.path.join(table.data_dir, f"part_id={pid}"),
                    bool(boundary),
                    columns if boundary else unresolved_cols,
                    dv_all.get(pid),
                )
            )
            weights.append(int(row.get("enc_bytes", 0)))
    if dirs:
        cjs = conjuncts
        want_sums = sums

        def mm_task(units):
            import glob as _glob
            import json as _j
            import os as _os

            import pandas as pd

            from embulk_output_s3_parquet_spark.sources.chunkscan import (
                fold_stat as _fold,
                minmax_file,
            )

            out: dict[str, dict] = {}
            for d, bd, cs, dv in units:
                files = sorted(_glob.glob(_os.path.join(d, "*.parquet")))
                if not files:
                    raise FileNotFoundError(f"committed part missing: {d}")
                for f in files:
                    got = minmax_file(
                        f, cjs if bd else [], cs,
                        fillable=fillable, sums=want_sums,
                        aliases=aliases, dv=dv,
                    )
                    for c, e in got.items():
                        _fold(out, c, e)
            yield pd.DataFrame({"j": [_j.dumps(out)]})

        for (blob,) in map_units(spark, dirs, weights, mm_task, "j string").collect():
            for c, e in _json.loads(blob).items():
                fold_stat(acc, c, e)
    return acc


def minmax_job(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    where=None,
    at_gen: int | str | None = None,
) -> dict[str, tuple]:
    """Exact MIN/MAX per column with metadata-only pruning -- the MIN/MAX
    twin of :func:`count_job`. Returns ``{col: (min, max)}`` in logical
    python values ((None, None) when no row survives). See
    :func:`_stats_scan` for the three metadata tiers."""
    from .sources.chunkscan import storage_to_logical

    acc = _stats_scan(spark, table_path, columns, where, at_gen, sums=False)
    out: dict[str, tuple] = {}
    for c in columns:
        t, mm = acc[c]["t"], acc[c]["mm"]
        if mm is None:
            out[c] = (None, None)
        else:
            out[c] = (storage_to_logical(t, mm[0]), storage_to_logical(t, mm[1]))
    return out


def sum_job(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    where=None,
    at_gen: int | str | None = None,
) -> dict[str, dict]:
    """Exact SUM/AVG per numeric column with metadata-only pruning:
    ``{col: {"sum", "avg", "count_nonnull"}}`` (sum/avg None when no
    non-null row survives). Integer and decimal sums are EXACT
    (arbitrary-precision / exact-decimal accumulation); float sums are the
    usual order-dependent partials (one pc.sum per chunk, summed upward),
    same caveat as any distributed SUM.

    Per-chunk sums recorded at encode time (codecs._sum_of) roll up into
    part lineage, so an unpredicated SUM over a 100 TB table is one
    driver-side manifest pass; predicates decode boundary chunks only.
    Chunks without a recorded sum (pre-r5 tables, overflow-risk int
    ranges, inf/nan float chunks) decode transparently -- results stay
    exact, just with more IO."""
    from decimal import Decimal

    table = EncodedTable(table_path)
    types = {f.name: f.dataType.simpleString() for f in table.schema().fields}
    bad = [
        c for c in columns
        if c in types and not (
            types[c] in ("tinyint", "smallint", "int", "bigint", "float", "double")
            or types[c].startswith("decimal(")
        )
    ]
    if bad:
        raise ConfigException(
            f"SUM is not defined for columns {bad} (types "
            f"{[types[c] for c in bad]}); numeric and decimal columns only"
        )
    acc = _stats_scan(spark, table_path, columns, where, at_gen, sums=True)
    out: dict[str, dict] = {}
    for c in columns:
        t, sm, nn = acc[c]["t"], acc[c]["sm"], acc[c]["nn"]
        if sm is None or nn == 0:
            out[c] = {"sum": None, "avg": None, "count_nonnull": nn}
            continue
        if t.startswith("decimal128("):
            sm = Decimal(sm)
        out[c] = {"sum": sm, "avg": sm / nn, "count_nonnull": nn}
    return out


class _VectorSetMoved(Exception):
    """Internal: a merge-on-read mutation vectored parts between NDV
    planning and the distributed shard merge; the caller re-plans."""


def _ndv_part_entry(zones, pid, c, table_path, fillable, hl_of):
    """Shared per-(part, column) NDV resolution for the driver merge loop
    and the vectored-part rebuild planner (one policy, one copy): returns
    the STORED sketch, or None when the part provably holds no values of
    the column (added column predating the part / all-null), raising the
    canonical ConfigExceptions for a missing lineage entry or a part
    encoded without the sketch."""
    e = zones.get(c)
    if e is None:
        if c in fillable:
            return None  # added column: all-null in this part
        raise ConfigException(
            f"part {pid} of {table_path} has no lineage entry for "
            f"column {c!r}"
        )
    if int(e.get("z", 0)) >= int(e.get("n", 0)):
        return None  # all-null part: no values, no sketch needed
    hl = e.get("hl") or hl_of(pid, c)
    if hl is None:
        raise ConfigException(
            f"part {pid} of {table_path} has no NDV sketch for "
            f"column {c!r}: encode with ndv_columns=({c!r},) or run "
            "compact_job after adding it to the policy"
        )
    return hl


def _rebuild_part_ndv(
    data_dir: str,
    pid: int,
    fields: list,
    dv_json: str,
    p_by_col: dict,
    fillable: frozenset,
    aliases: dict,
) -> dict:
    """Re-sketch ONE merge-on-read-vectored part: decode only the wanted
    columns under the part's delete vector (the same chunkscan path every
    reader uses) and build a fresh HLL per column at the STORED sketch's
    precision, so the result merges register-wise with the untouched
    parts' encode-time sketches. Runs driver-side for a handful of parts
    or as one executor task per part (``distinct_job(spark=...)``).
    Returns {col: sketch-or-None} (None = no live non-null values)."""
    import glob as _glob
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.compute as pc

    from .codecs import hll as _hll
    from .sources.chunkscan import iter_part_tables

    files = sorted(
        _glob.glob(os.path.join(data_dir, f"part_id={pid}", "*.parquet"))
    )
    if not files:
        raise FileNotFoundError(
            f"committed part missing on disk: part_id={pid}"
        )
    tabs = list(
        iter_part_tables(
            files, fields, [], None,
            fillable=fillable, aliases=aliases, dv=_json.loads(dv_json),
        )
    )
    out: dict = {}
    for name, _typ in fields:
        arrs = []
        for t in tabs:
            col = t.column(name)
            if isinstance(col, pa.ChunkedArray):
                arrs.extend(col.chunks)
            else:
                arrs.append(col)
        vals = (
            pc.drop_null(pa.concat_arrays(arrs))
            if arrs
            else pa.array([], type=_typ)
        )
        out[name] = _hll.build(vals, p=int(p_by_col[name]))
    return out


def _vectored_ndv_rebuild(
    table: "EncodedTable",
    columns: list[str],
    dv_all: dict,
    at_gen: int | str | None,
    fillable: frozenset,
    spark: SparkSession | None,
) -> dict[int, dict]:
    """Plan + run the per-part NDV re-sketch for every vectored part that
    carries values of a requested column. Planning reads ONLY the lineage
    shards holding vectored pids (O(vectored parts) metadata, never the
    whole manifest); the payload cost is one single-column-projected
    decode per vectored part -- O(changed parts), the merge-on-read
    invariant every other consumer (count/minmax/sum/diff) already keeps.
    Returns {pid: {col: sketch-or-None}}."""
    import json as _json
    import os

    from .sources.pyreader import _arrow_type
    from .sources.tables import SHARD_SIZE

    aliases = table.stored_aliases()
    sids = sorted({int(p) // SHARD_SIZE for p in dv_all})
    if table._core_manifest().get("parts"):
        # legacy inline-lineage table: rows live in the core manifest
        rows_all = (
            table.lineage_at(at_gen) if at_gen is not None else table.lineage()
        )
        rows = {int(p): rows_all[int(p)] for p in dv_all if int(p) in rows_all}
    else:
        d = (
            table.parts_dir
            if at_gen is None
            else os.path.join(table.path, f"parts-{at_gen}")
        )
        rows = {}
        for sid in sids:
            fp = os.path.join(d, f"shard-{sid}.json")
            if os.path.exists(fp):
                with open(fp) as f:
                    rows.update(
                        {int(k): v for k, v in _json.load(f).items()}
                    )
    arrow_by_col = {
        f.name: _arrow_type(f.dataType.jsonValue())
        for f in table.schema().fields
    }
    hls_cache: dict[int, dict[int, dict]] = {}

    def _hl_of(pid: int, c: str):
        sid = pid // SHARD_SIZE
        if sid not in hls_cache:
            hls_cache[sid] = table.shard_hlls(sid, gen=at_gen)
        return hls_cache[sid].get(pid, {}).get(c)

    work: list[tuple[int, str, dict]] = []  # (pid, dv_json, {col: p})
    for pid in sorted(int(p) for p in dv_all):
        row = rows.get(pid)
        if row is None:
            continue  # vector for a part not in this generation's lineage
        zones = row.get("zones") or {}
        p_by_col: dict = {}
        for c in columns:
            hl = _ndv_part_entry(zones, pid, c, table.path, fillable, _hl_of)
            if hl is not None:
                p_by_col[c] = int(hl["p"])
        if p_by_col:
            work.append((pid, _json.dumps(dv_all[pid]), p_by_col))
    if not work:
        return {}
    data_dir = table.data_dir

    def _run(item: tuple[int, str, dict]) -> tuple[int, dict]:
        pid, dv_json, p_by = item
        fields = [(c, arrow_by_col[c]) for c in sorted(p_by)]
        return pid, _rebuild_part_ndv(
            data_dir, pid, fields, dv_json, p_by, fillable, aliases
        )

    if spark is not None and len(work) > 4:
        sc = spark.sparkContext
        n_tasks = min(len(work), max(sc.defaultParallelism * 2, 1))
        return dict(sc.parallelize(work, n_tasks).map(_run).collect())
    return dict(_run(w) for w in work)


def distinct_job(
    table_path: str,
    columns: list[str],
    at_gen: int | str | None = None,
    spark: SparkSession | None = None,
) -> dict[str, dict]:
    """Approximate COUNT(DISTINCT col) from the per-part HyperLogLog
    sketches recorded at encode time (``CodecPolicy.ndv_columns``,
    codecs/hll.py): ``{col: {"ndv": int, "rel_std_error": float,
    "parts": int}}``.

    Spark-free and metadata-only: part sketches live in per-shard
    ``.hll.json`` sidecars (lineage shards stay lean for every OTHER
    manifest reader) and merge register-wise on the driver, so NDV over a
    100 TB / 10^6-part table is one streaming manifest pass, and the
    error stays that of a single sketch (~3.2% at the default precision)
    -- it does NOT accumulate with part count. Parts where the column is
    provably all-null contribute nothing; a part WITHOUT a sketch
    (encoded before the column was opted in) refuses loudly rather than
    undercounting -- compact_job rewrites it with the table's current
    policy.

    Pass ``spark`` to merge shard sketches ON THE EXECUTORS for big
    manifests (>= DIST_PRUNE_MIN_SHARDS lineage shards, like
    ``surviving_parts``): one task per shard parses the shard JSON +
    sidecar and returns ONE merged sketch per column, so the driver's
    work is O(shards) -- at 10^6 parts the shard parses are the cost,
    and they scale out.

    Merge-on-read delete vectors: HLL registers are a set-union and
    cannot subtract deleted values, so vectored parts' stored sketches
    would count ghosts. Instead of refusing, every vectored part is
    RE-SKETCHED from its live rows -- a single-column-projected decode
    under the vector (one executor task per part with ``spark``, driver
    loop without) -- and the fresh sketches merge with the untouched
    parts' stored ones: O(changed parts) payload, the same invariant the
    other metadata-first aggregates keep, and the estimate reflects
    exactly the live table."""
    from .codecs import hll as _hll
    from .sources.tables import SHARD_SIZE

    table = EncodedTable(table_path)
    at_gen = table.resolve_ref(at_gen)  # tag name | gen | None
    names = [f.name for f in table.schema().fields]
    missing = [c for c in columns if c not in names]
    if missing:
        raise ConfigException(f"ndv columns not in table schema: {missing}")
    fillable = frozenset(table.added_columns())

    def _plan_vectors() -> tuple[dict, dict]:
        # HLL registers are a set-union: merge-on-read-deleted values
        # cannot be subtracted -- so every vectored part is RE-SKETCHED
        # from its live rows (single-column-projected decode under the
        # vector, O(changed parts) payload, fanned to executors when
        # ``spark`` is given) and the fresh sketches merge with the
        # untouched parts' encode-time sketches
        dv = table.part_dv(gen=at_gen) if at_gen is not None else table.part_dv()
        reb = (
            _vectored_ndv_rebuild(
                table, list(columns), dv, at_gen, fillable, spark
            )
            if dv
            else {}
        )
        return dv, reb

    if (
        spark is not None
        and at_gen is None
        and not table._core_manifest().get("parts")
        and table._shard_count() >= EncodedTable.DIST_PRUNE_MIN_SHARDS
    ):
        for _attempt in range(3):
            dv_all, rebuilt = _plan_vectors()
            try:
                return _distinct_distributed(
                    spark, table, list(columns), fillable,
                    exclude=frozenset(str(int(p)) for p in dv_all),
                    extra=rebuilt,
                )
            except _VectorSetMoved:
                continue  # concurrent MoR mutation: re-plan vectors
        raise ConfigException(
            f"distinct_job over {table_path} raced concurrent merge-on-read "
            "mutations 3 times; retry"
        )
    lineage = (
        table.lineage_at(at_gen) if at_gen is not None else table.lineage()
    )
    if not lineage:
        raise ConfigException(f"table {table_path} has no committed partitions")
    # vectors read AFTER lineage: any vector recorded before this point is
    # rebuilt; one recorded after is indistinguishable from having run the
    # whole job a moment earlier
    dv_all, rebuilt = _plan_vectors()
    # sketches load shard by shard (streaming: peak memory is one shard's
    # sidecar), only for shards holding a non-all-null part
    hls_cache: dict[int, dict[int, dict]] = {}

    def _hl_of(pid: int, col: str):
        sid = pid // SHARD_SIZE
        if sid not in hls_cache:
            hls_cache[sid] = table.shard_hlls(sid, gen=at_gen)
        return hls_cache[sid].get(pid, {}).get(col)

    out: dict[str, dict] = {}
    for c in columns:
        sketches = []
        covered = 0
        for pid in sorted(lineage):
            zones = lineage[pid].get("zones", {})
            if pid in dv_all:
                # rebuild planner already validated this part's entries
                # with the same _ndv_part_entry policy; None here means
                # the column has no live non-null values left
                hl = rebuilt.get(pid, {}).get(c)
            else:
                hl = _ndv_part_entry(
                    zones, pid, c, table_path, fillable, _hl_of
                )
            if hl is None:
                continue
            sketches.append(hl)
            covered += 1
        if not sketches:
            out[c] = {"ndv": 0, "rel_std_error": 0.0, "parts": 0}
            continue
        merged = _hll.merge(sketches)
        if merged is None:
            raise ConfigException(
                f"NDV sketches for column {c!r} of {table_path} have mixed "
                "precisions; re-encode or compact to unify"
            )
        out[c] = {
            "ndv": int(round(_hll.estimate(merged))),
            "rel_std_error": _hll.std_error(merged),
            "parts": covered,
        }
    return out


def quantile_job(
    spark: SparkSession,
    table_path: str,
    column: str,
    qs: list[float],
    bins: int = 1024,
    at_gen: int | str | None = None,
) -> dict:
    """Approximate quantiles with PROVABLE bounds from chunk zone maps
    alone -- the percentile member of the metadata-first aggregate family
    (count/minmax/sum/ndv). Returns ``{"n": non_null_rows, "quantiles":
    {q: {"lb": v, "ub": v, "est": v}}}`` where the true q-quantile is
    GUARANTEED inside [lb, ub] (zone semantics: a chunk's values all lie
    in its [zmin, zmax]), and ``est`` interpolates a midpoint histogram.

    Cost: one payload-free Spark pass over chunk metadata (the parquet
    scan reads only col/n/meta -- column-pruned, like table_stats),
    reduced to THREE fixed-size histograms of ``bins`` buckets; the
    driver never sees per-chunk rows, so a 10^6-part / 3*10^7-chunk
    table returns the same few KB. Bound tightness tracks the layout:
    cluster_by/zorder tables give near-exact answers (chunk zones are
    tight boxes), unsorted tables give honest wide intervals -- the
    bounds NEVER lie either way. Numeric/timestamp storage domains only
    (string zones have no widths to bin).

    Merge-on-read delete vectors deflate the histogram weights by each
    chunk's recorded deletion count and widen the rank thresholds to
    cover the unknown overlap between deleted rows and nulls, so the
    [lb, ub] guarantee holds for the LIVE quantile at zero extra IO;
    trickle deletes barely move the interval. ``n`` is then a certain
    LOWER bound on live non-null rows (exact when the column has no
    nulls); ``deleted`` reports the vectored row count."""
    if not qs:
        raise ConfigException("quantile_job needs at least one q in [0, 1]")
    bad = [q for q in qs if not (0.0 <= q <= 1.0)]
    if bad:
        raise ConfigException(f"quantiles must be in [0, 1]: {bad}")
    table = EncodedTable(table_path)
    at_gen = table.resolve_ref(at_gen)  # tag name | gen | None
    fields = {f.name: f.dataType for f in table.schema().fields}
    if column not in fields:
        raise ConfigException(f"quantile column not in table schema: {column!r}")
    if isinstance(fields[column], (T.StringType, T.BinaryType)):
        raise ConfigException(
            f"quantile_job[{column}]: string/binary zones have no widths "
            "to bin (numeric/timestamp columns only)"
        )
    # merge-on-read delete vectors: chunk zones and row counts include
    # vectored rows, so histogram weights are DEFLATED by each chunk's
    # recorded deletion count and the rank thresholds widen to cover the
    # unknown null-overlap (a deleted row may or may not have been null in
    # this column). The [lb, ub] guarantee survives: per chunk the live
    # non-null count sits in [max(0, c-d), min(c, n-d)], the histograms
    # use the lower bound (so below/from_ stay lower bounds on LIVE
    # counts), and the thresholds use the upper bound on live n (so the
    # required counts cover every plausible live rank). With no vectors
    # both collapse to the exact formulas below. Metadata-only either way.
    dv_all = table.part_dv(gen=at_gen) if at_gen is not None else table.part_dv()

    if at_gen is not None:
        # snapshot read (Iceberg-style): the generation's explicit part set
        import os as _os

        snap = sorted(table.lineage_at(at_gen))
        if not snap:
            return {"n": 0, "quantiles": {q: None for q in qs}, "deleted": 0}
        enc = spark.read.option("basePath", table.data_dir).parquet(
            *[_os.path.join(table.data_dir, f"part_id={p}") for p in snap]
        )
    else:
        enc = table.read_encoded(spark)
    # pre-rename parts store the column under its historical spelling(s)
    spellings = [column] + [
        s for s, logical in table.stored_aliases().items() if logical == column
    ]
    enc = enc.filter(F.col("col").isin(spellings))
    if dv_all:
        # one tiny row per vectored chunk -> broadcast join; the scan
        # stays payload-free and the driver never sees per-chunk rows
        dv_rows = [
            (int(pid), int(seq), int(e["n"]))
            for pid, rec in dv_all.items()
            for seq, e in (rec.get("chunks") or {}).items()
        ]
        dvdf = spark.createDataFrame(
            dv_rows, "part_id long, chunk_seq long, d long"
        )
        enc = enc.withColumn("part_id", F.col("part_id").cast("long")).join(
            F.broadcast(dvdf), ["part_id", "chunk_seq"], "left"
        )
    else:
        enc = enc.withColumn("d", F.lit(0).cast("long"))
    parsed = enc.select(
        F.col("n").cast("long").alias("n"),
        F.coalesce(
            F.get_json_object("meta", "$.z").cast("long"), F.lit(0)
        ).alias("z"),
        F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        F.get_json_object("meta", "$.mm[0]").try_cast("double").alias("lo"),
        F.get_json_object("meta", "$.mm[1]").try_cast("double").alias("hi"),
    ).filter(F.col("n") > F.col("z"))
    # per-chunk live non-null bounds: c_min certain, c_max plausible
    c_min = F.greatest(F.lit(0), F.col("n") - F.col("z") - F.col("d"))
    c_max = F.least(F.col("n") - F.col("z"), F.col("n") - F.col("d"))
    gmin, gmax, live_min, live_max, unzoned = parsed.agg(
        F.min(F.when(c_max > 0, F.col("lo"))),
        F.max(F.when(c_max > 0, F.col("hi"))),
        F.sum(F.when(F.col("lo").isNotNull(), c_min)),
        F.sum(F.when(F.col("lo").isNotNull(), c_max)),
        F.sum(F.when(F.col("lo").isNull(), c_max)),
    ).first()
    if unzoned:
        # a chunk with (possibly) live values but no numeric zone would
        # silently fall out of every histogram -- bounds that ignore rows
        # are not bounds (a FULLY deleted unzoned chunk is harmless)
        raise ConfigException(
            f"quantile_job[{column}]: {int(unzoned)} non-null rows sit in "
            "chunks without numeric zone metadata; compact_job re-records "
            "zones"
        )
    deleted = (
        sum(int(rec.get("n", 0)) for rec in dv_all.values()) if dv_all else 0
    )
    if live_max is None or not live_max:
        return {"n": 0, "quantiles": {q: None for q in qs}, "deleted": deleted}
    live_min = int(live_min or 0)
    live_max = int(live_max)
    # drop chunks that cannot hold a live row (c_max == 0: fully deleted
    # by merge-on-read vectors). They were excluded from gmin/gmax above,
    # so their zones can lie OUTSIDE [gmin, gmax] and would produce bin
    # indices past the histogram arrays; their live count is zero, so
    # they contribute nothing to any histogram anyway (fuzz seed 1106).
    parsed = parsed.filter(F.col("lo").isNotNull() & (c_max > 0))
    if gmin == gmax:
        v = gmin
        return {
            "n": live_min,
            "quantiles": {q: {"lb": v, "ub": v, "est": v} for q in qs},
            "deleted": deleted,
        }
    width = (gmax - gmin) / bins
    cnt = c_min.alias("c")  # live lower bound; == n - z when no vectors
    # three fixed-size histograms over the bin index space [0, bins]:
    #   below: chunk counts that are CERTAIN to lie at-or-below edge i
    #          (zmax rounds UP to the next edge)
    #   from_: chunk counts that CANNOT lie below edge i (zmin rounds DOWN)
    #   mid:   midpoint histogram for the interpolated estimate
    idx_hi = F.least(
        F.lit(bins), F.ceil((F.col("hi") - F.lit(gmin)) / F.lit(width))
    ).cast("int")
    idx_lo = F.greatest(
        F.lit(0), F.floor((F.col("lo") - F.lit(gmin)) / F.lit(width))
    ).cast("int")
    idx_mid = F.least(
        F.lit(bins - 1),
        F.floor(
            ((F.col("lo") + F.col("hi")) / 2 - F.lit(gmin)) / F.lit(width)
        ),
    ).cast("int")
    # one (hist, idx) pair per histogram per chunk, grouped to <=
    # 3*(bins+2) result rows -- the driver NEVER collects per-chunk rows
    # (a groupBy on the joint (bh, bl, bm) key would be O(chunks) distinct
    # triples on mixed layouts)
    rows = (
        parsed.select(
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("h"), idx_hi.alias("i")),
                    F.struct(F.lit(1).alias("h"), idx_lo.alias("i")),
                    F.struct(F.lit(2).alias("h"), idx_mid.alias("i")),
                )
            ).alias("e"),
            cnt,
        )
        .groupBy("e.h", "e.i")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    below = [0] * (bins + 2)   # cum count certainly <= edge i
    from_ = [0] * (bins + 2)   # cum count certainly >= edge i's bin start
    mid = [0] * (bins + 1)
    hists = (below, from_, mid)
    for r in rows:
        hists[r["h"]][r["i"]] += r["c"]
    for i in range(1, bins + 2):
        below[i] += below[i - 1]
    for i in range(bins, -1, -1):
        from_[i] += from_[i + 1]  # suffix: count at-or-after edge i
    cum_mid = [0] * (bins + 1)
    s = 0
    for i in range(bins):
        s += mid[i]
        cum_mid[i + 1] = s

    def edge(i: int) -> float:
        return gmin + min(i, bins) * width

    out: dict = {}
    # rank thresholds use the LARGEST plausible live count (live_max) so
    # the requirement covers the true rank wherever the unknown
    # null-overlap puts it; histogram weights are live LOWER bounds, so a
    # threshold the deflated histogram can't reach falls back to the
    # global extreme edge -- always sound, never a lie. Without vectors
    # live_min == live_max == n and this is the exact classic formula.
    n_hi = live_max
    n_est = max(live_min, 1)
    for q in qs:
        rank = q * (n_hi - 1)  # 0-based target rank, widest plausible
        # ub: smallest edge with at least rank+1 values certainly <= it
        ub_i = next(
            (i for i in range(bins + 1) if below[i] >= rank + 1), bins
        )
        # lb: largest edge where at least n-rank values are certainly >= it
        lb_i = max(
            (i for i in range(bins + 1) if from_[i] >= n_hi - rank),
            default=0,
        )
        # estimate: linear interpolation on the midpoint histogram at the
        # best-estimate live rank, clamped into the provable interval
        erank = q * (n_est - 1)
        ei = next(
            (i for i in range(bins) if cum_mid[i + 1] >= erank + 1), bins - 1
        )
        span = mid[ei] or 1
        frac = (erank + 1 - cum_mid[ei]) / span
        est = min(max(edge(ei) + frac * width, edge(lb_i)), edge(ub_i))
        out[q] = {"lb": edge(lb_i), "ub": edge(ub_i), "est": est}
    return {"n": live_min, "quantiles": out, "deleted": deleted}


def _distinct_distributed(
    spark: SparkSession,
    table: EncodedTable,
    columns: list[str],
    fillable: frozenset,
    exclude: frozenset = frozenset(),
    extra: dict | None = None,
) -> dict[str, dict]:
    """Executor-side shard-sketch merge for :func:`distinct_job`: identical
    results to the driver path (tests assert equality), same concurrent-flip
    retry contract as ``surviving_parts_distributed``. ``exclude`` (pid
    strings) drops parts whose stored sketches are stale -- merge-on-read
    vectored parts -- and ``extra`` ({pid: {col: sketch-or-None}}) supplies
    their freshly rebuilt replacements to merge on top."""
    import os

    from .codecs import hll as _hll
    from .sources.tables import _is_lineage_shard, _ndv_shard_task

    for _attempt in range(3):
        parts_dir = table.parts_dir  # re-resolves the generation pointer
        shard_files = []
        if os.path.isdir(parts_dir):
            for name in sorted(os.listdir(parts_dir)):
                if _is_lineage_shard(name):
                    sid = int(name[len("shard-"):-len(".json")])
                    shard_files.append(
                        (os.path.join(parts_dir, name), parts_dir, sid)
                    )
        if not shard_files:
            raise ConfigException(
                f"table {table.path} has no committed partitions"
            )
        sc = spark.sparkContext
        n_tasks = min(len(shard_files), max(sc.defaultParallelism * 2, 1))
        cols = list(columns)
        fill = fillable
        excl = exclude
        results = (
            sc.parallelize(shard_files, n_tasks)
            .map(lambda t: _ndv_shard_task(t[0], t[1], t[2], cols, fill, excl))
            .collect()
        )
        if any(r is None for r in results):
            continue  # a generation flip swapped a shard mid-plan; re-list
        errors = [e for r in results for e in r["errors"]]
        if errors:
            raise ConfigException(
                f"distinct_job over {table.path}: " + "; ".join(errors[:5])
            )
        stray = {
            p for r in results for p in r.get("dv_pids", ())
        } - set(exclude)
        if stray:
            # a merge-on-read mutation vectored parts AFTER the caller
            # planned its exclude/rebuilt set; the shard tasks already
            # refused to merge those ghost-counting stored sketches --
            # tell the caller to re-plan with the fresh vector set
            raise _VectorSetMoved(sorted(stray))
        out: dict[str, dict] = {}
        for c in cols:
            shard_sketches = [
                r["cols"][c]["hl"]
                for r in results
                if r["cols"][c]["hl"] is not None
            ]
            covered = sum(r["cols"][c]["covered"] for r in results)
            for per_col in (extra or {}).values():
                hl = per_col.get(c)
                if hl is not None:
                    shard_sketches.append(hl)
                    covered += 1
            if not shard_sketches:
                out[c] = {"ndv": 0, "rel_std_error": 0.0, "parts": 0}
                continue
            merged = _hll.merge(shard_sketches)
            if merged is None:
                raise ConfigException(
                    f"NDV sketches for column {c!r} of {table.path} have "
                    "mixed precisions across shards; re-encode or compact "
                    "to unify"
                )
            out[c] = {
                "ndv": int(round(_hll.estimate(merged))),
                "rel_std_error": _hll.std_error(merged),
                "parts": covered,
            }
        return out
    raise ConfigException(
        f"distributed NDV of {table.path} raced concurrent generation "
        "flips 3 times; retry"
    )


def sample_job(
    spark: SparkSession,
    table_path: str,
    fraction: float,
    seed: int = 42,
    columns: list[str] | None = None,
    where=None,
    granularity: str = "part",
) -> DataFrame:
    """TABLESAMPLE SYSTEM over an encoded table: deterministic CLUSTER
    sampling whose payload IO -- and, at part granularity, task count --
    scales with ``fraction`` instead of the table size. The pipeline-
    profiling primitive a 100 TB corpus needs: 'run the quality model on
    0.1% of the table' must not schedule 10^6 tasks or decode 100 TB.

    ``granularity="part"``: parts are sampled DRIVER-SIDE from the
    lineage (keyed blake2b of part id + seed -- no file IO, no task for a
    sampled-out part), then decoded by the normal shuffle-free scan. A
    0.1% sample of a 10^6-part table schedules ~10^3 tasks.
    ``granularity="chunk"``: every zone-surviving part schedules one task
    and the task keeps a deterministic fraction of its chunks (finer
    strata -- better for skewed part sizes -- at O(parts) scheduling).

    Block sampling semantics (Spark's TABLESAMPLE SYSTEM, not Bernoulli):
    rows inside one part/chunk are kept or dropped TOGETHER, so estimates
    inherit any row-to-part correlation the layout has (a cluster_by'd
    table samples clustered strata). Same seed + fraction => the same
    rows, across runs and executors. ``where`` composes with the sample
    and keeps decode_job's may-match contract (zone pruning first, exact
    filter is the caller's)."""
    from .operators.decode import decode_table_scan
    from .sources.chunkscan import normalize_where, sampled_chunk

    if not (0.0 < fraction <= 1.0):
        raise ConfigException(f"sample fraction must be in (0, 1]: {fraction}")
    if granularity not in ("part", "chunk"):
        raise ConfigException(
            f"granularity must be 'part' or 'chunk', got {granularity!r}"
        )
    table = EncodedTable(table_path)
    names = [f.name for f in table.schema().fields]
    conjuncts = normalize_where(where, names)  # fail fast on the driver
    if granularity == "chunk":
        return decode_table_scan(
            spark, table, columns=columns, where=where,
            sample=(fraction, seed),
        )
    survivors = (
        table.surviving_parts(conjuncts, spark=spark)
        if conjuncts
        else table.completed_parts()
    )
    pids = {
        p for p in survivors
        if sampled_chunk(f"part_id={p}", -1, fraction, seed)
    }
    if not pids:
        schema = table.schema()
        if columns:
            schema = T.StructType([f for f in schema.fields if f.name in columns])
        return spark.createDataFrame([], schema)
    return decode_table_scan(
        spark, table, columns=columns, where=where, parts=pids
    )


def decode_job_chunks(
    spark: SparkSession, table_path: str, columns: list[str] | None = None
) -> DataFrame:
    """groupBy-reassembly decode: works for ANY chunk layout (chunks of one
    part spread across files) at the cost of shuffling encoded payloads."""
    table = EncodedTable(table_path)
    return decode_chunks(
        table.read_encoded(spark), table.schema(), columns=columns,
        aliases=table.stored_aliases(), dv=table.part_dv(),
        fillable=table.added_columns(),
    )


def _tag_referenced_parts(table: EncodedTable) -> set[int] | None:
    """Part ids referenced by ANY tagged generation's lineage -- the pinned
    snapshots a reader may still target at snapshot-retention 0. Part ids
    are never reused (the persisted high-water mark), so a rewritten-away
    part is safe to delete exactly when no tagged generation lists it.
    Returns None when a pinned generation's lineage can't be read: the
    caller must then delete NOTHING (fail-safe; vacuum reconciles later).
    At very large part counts with many tags this is one O(shards) manifest
    parse per tagged generation; rewrites already pay a lineage read, and
    the sweep stays driver-metadata-only."""
    ids: set[int] = set()
    for g in sorted(table.tagged_generations()):
        try:
            ids |= set(table.lineage_at(g))
        except Exception:
            return None
    return ids


def compact_job(
    spark: SparkSession,
    table_path: str,
    policy: CodecPolicy | None = None,
    cluster_by: list[str] | None = None,
    zorder: bool | None = None,
) -> EncodedTable:
    """Rewrite an EncodedTable into freshly planned, byte-balanced parts.

    Streaming micro-batches and resumed waves leave many small parts;
    compaction decodes the committed data, re-plans partitions at the
    current target size, encodes into staging, then atomically swaps the
    manifest to the new part set and removes the old dirs -- the
    maintenance-compaction analogue of Iceberg's rewrite_data_files.

    ``cluster_by`` re-clusters the rewritten parts (and records the new
    write-order property): the way to retrofit tight zone maps onto a table
    that was originally appended unordered. ``None`` (default) inherits the
    table's recorded write-order so compaction never silently un-clusters a
    clustered table; pass ``[]`` to explicitly drop the clustering."""
    import os
    import shutil

    table = EncodedTable(table_path)
    old_parts = table.completed_parts()
    policy = policy or table.policy()
    if cluster_by is None:
        cluster_by = table.properties().get("write-order") or []
    if zorder is None:  # inherit the recorded layout kind, like cluster_by
        zorder = bool(table.properties().get("write-order-zorder", False))
    cluster = tuple(cluster_by)
    if zorder and not cluster:
        raise ConfigException("zorder=True requires cluster_by")
    names = {f.name for f in table.schema().fields}
    for c in cluster:
        if c not in names:
            raise ConfigException(f"cluster_by: unknown column {c!r}")
    df = decode_chunks(
        table.read_encoded(spark), table.schema(),
        aliases=table.stored_aliases(), dv=table.part_dv(),
        fillable=table.added_columns(),
    )

    bucket = _resolve_bucket_by(table, None, table.schema())
    dfp, plan = _plan(df, policy, bucket=bucket)
    # swap: move new dirs in under offset part_ids, then atomically replace
    # the part set (next shard generation + one manifest pointer flip) so a
    # crash mid-swap never exposes old+new parts together. Offset comes
    # from the persisted high-water mark (not max(old_parts)) so the new
    # ids can't collide with an incomplete encode plan's reserved range or
    # a retired tombstone; the range is reserved before any dir lands.
    offset = table.next_part_base()
    if plan.n_parts:
        table.note_part_extent(offset + plan.n_parts - 1)
    if zorder:
        encoded = encode_grouped(dfp, policy, cluster_by=cluster, zorder=True)
    else:
        encoded = encode_local(dfp, policy, cluster_by=cluster).repartition(
            "part_id"
        )
    staging = table.new_staging()
    t0 = time.time()
    _write_chunk_files(encoded, staging)
    on_disk = spark.read.parquet(staging)
    lineage = _lineage_rows(on_disk, table.schema().fields[0].name, time.time() - t0)

    remap: dict[int, int] = {}
    for name in sorted(os.listdir(staging)):
        if not name.startswith("part_id="):
            continue
        pid = int(name.split("=", 1)[1])
        new_pid = pid + offset
        remap[pid] = new_pid
        dst = os.path.join(table.data_dir, f"part_id={new_pid}")
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.rename(os.path.join(staging, name), dst)
    _annotate_buckets(lineage, plan.bucket_ranges)
    table._replace_parts({remap[pid]: row for pid, row in lineage.items()})
    if cluster:
        _record_write_order(table, cluster, bool(zorder))
    elif table.properties().get("write-order"):
        # explicitly un-clustered rewrite: the stale property would claim an
        # ordering the new parts don't have
        table.set_property("write-order", None)
        table.set_property("write-order-zorder", False)
    shutil.rmtree(staging, ignore_errors=True)
    # with snapshot retention on the pre-compaction generation stays
    # readable via decode_job(at_gen=...) and vacuum expires it later; at
    # retention 0 delete the old dirs EXCEPT those a tag's pinned lineage
    # actually references -- deleting precisely (not "skip all when any tag
    # exists") is what keeps a rewrite from stranding unreferenced dirs
    # that verify_table would flag until the next vacuum
    if table.snapshot_retention() == 0:
        pinned = _tag_referenced_parts(table)
        if pinned is not None:
            for pid in old_parts:
                if pid in pinned:
                    continue
                shutil.rmtree(
                    os.path.join(table.data_dir, f"part_id={pid}"),
                    ignore_errors=True,
                )
    table.log_op(
        "compact", {"parts_before": len(old_parts), "parts_after": len(lineage)}
    )
    return table


def rewrite_small_parts(
    spark: SparkSession,
    table_path: str,
    min_part_bytes: int | None = None,
    policy: CodecPolicy | None = None,
    max_parts: int | None = None,
    max_delete_ratio: float | None = None,
) -> dict:
    """Selective compaction (Iceberg ``rewrite_data_files`` with a file-size
    threshold / Delta ``OPTIMIZE`` analogue): rewrite ONLY the parts whose
    encoded payload sits below ``min_part_bytes`` (default: half the
    policy's target partition bytes), merging a streaming/trickle-append
    tail into target-size parts while every healthy part keeps its bytes,
    lineage mtime, and zone stats untouched.

    Cost is O(selected parts) decode+encode plus a partial generation flip
    (``_update_parts``: unchanged shards hard-linked, removed ids
    tombstoned), versus ``compact_job``'s full-table rewrite -- the
    100 TB maintenance shape, where a day of micro-batches leaves thousands
    of kilobyte parts under terabytes of healthy ones. ``max_parts`` bounds
    one run to the smallest N selected parts (wave-sized maintenance).

    ``max_delete_ratio`` additionally selects parts whose merge-on-read
    delete-vector fraction EXCEEDS the ratio regardless of size --
    Iceberg's ``rewrite_position_delete_files`` / Delta purge analogue:
    trickle deletes accumulate vectors, every read pays the mask, and
    this materializes exactly the heavily-deleted parts. Merge-on-read
    vectors of all selected parts materialize away; like every
    copy-on-write rewrite the retired ids fail a live change feed loudly,
    so run it between feed drains."""
    table = EncodedTable(table_path)
    policy = policy or table.policy()
    if min_part_bytes is None:
        min_part_bytes = int(policy.target_partition_bytes) // 2
    lineage = table.lineage()
    sizes = {p: int(r.get("enc_bytes", 0)) for p, r in lineage.items()}
    selected = {p for p, b in sizes.items() if b < min_part_bytes}
    vectored_selected: set[int] = set()
    if max_delete_ratio is not None:
        for p, dv in table.part_dv().items():
            rows = int(lineage.get(p, {}).get("rows", 0)) or 1
            if int(dv.get("n", 0)) / rows > float(max_delete_ratio):
                vectored_selected.add(p)
        # a single heavily-vectored part is worth rewriting 1:1 (vector
        # materialization is the point), unlike the size-only merge below
        selected |= vectored_selected
    if max_parts is not None and len(selected) > max_parts:
        # vectored parts lead the trim order (r6, advisor finding): they
        # are the reason max_delete_ratio selected them -- a size-sorted
        # trim could evict every vectored part and leave the wave
        # rewriting one unvectored tiny part 1:1 (pure churn)
        selected = set(
            sorted(
                selected,
                key=lambda p: (p not in vectored_selected, sizes[p], p),
            )[:max_parts]
        )
        vectored_selected = vectored_selected & selected
    report = {
        "parts_total": len(lineage),
        "min_part_bytes": int(min_part_bytes),
        "parts_selected": len(selected),
        "parts_vectored_selected": len(vectored_selected),
        "bytes_selected": sum(sizes[p] for p in selected),
        "parts_rewritten": 0,
        "parts_written": 0,
    }
    if len(selected) < 2 and not vectored_selected:
        # nothing to merge: one small UNVECTORED part would be rewritten
        # 1:1 for no gain (a vectored one is worth it: materialization)
        report["parts_selected"] = 0
        report["parts_vectored_selected"] = 0
        report["bytes_selected"] = 0
        return report
    # r6: fused task-local compaction. The selection is driver-side
    # metadata (lineage enc_bytes), so the merge GROUPS can be bin-packed
    # on the driver too: each task decodes its group's parts with pyarrow
    # and writes ONE merged part in place -- zero payload bytes through
    # the JVM or the network, same shape as _delete_cow_inplace (the
    # previous generic tail decoded to JVM rows, re-planned, re-shipped
    # and shuffled: measured 2.8-16 s driver samples for ~220 KB of
    # selected bytes). Bucketed tables group within one bucket only, so
    # part/bucket purity is preserved by construction.
    groups: list[list[int]] = []
    by_bucket: dict[object, list[int]] = {}
    for p in sorted(selected):
        by_bucket.setdefault(lineage[p].get("bucket"), []).append(p)
    target = int(policy.target_partition_bytes)
    for _bkt, pids in sorted(
        by_bucket.items(), key=lambda kv: (kv[0] is None, str(kv[0]))
    ):
        cur: list[int] = []
        acc = 0
        for p in pids:
            cur.append(p)
            acc += max(sizes[p], 1)
            if acc >= target:
                groups.append(cur)
                cur, acc = [], 0
        if cur:
            groups.append(cur)
    new_lineage = _local_parts_rewrite(
        spark, table, lineage, groups, selected, [], policy
    )
    report["parts_rewritten"] = len(selected)
    report["parts_written"] = len(new_lineage)
    report["bytes_written"] = sum(
        int(r.get("enc_bytes", 0)) for r in new_lineage.values()
    )
    report["rows"] = sum(int(r.get("rows", 0)) for r in new_lineage.values())
    table.log_op("rewrite_small_parts", dict(report))
    return report


# chunk files are laid out for the two-pass pruning scan
# (sources/chunkscan.py): rows sorted by (col, chunk_seq) make parquet
# row-group min/max stats on those two columns tight, so a projected or
# zone-filtered read skips whole row groups' payload BYTES -- not just their
# decode CPU. Row groups are kept small (4 MiB vs the 128 MiB default) so a
# skipped column/chunk range actually maps to skippable row groups; the
# footer overhead at 64 MiB parts is noise.
_CHUNK_ROW_GROUP_BYTES = 4 * 1024 * 1024


def _write_chunk_files(encoded: DataFrame, staging: str) -> None:
    from .sources.tables import staging_heartbeat

    # part_id MUST lead the sort: partitionBy's writer requires ordering by
    # the partition columns and would otherwise inject its own (non-stable)
    # sort, destroying the (col, chunk_seq) run layout the scanner prunes on.
    # The heartbeat keeps the .writer-lock mtime fresh for the whole write:
    # a compute stage that runs past the cross-host staleness window before
    # its first staged file lands must not look sweepable to a concurrent
    # vacuum on another host.
    with staging_heartbeat(staging):
        (
            encoded.sortWithinPartitions("part_id", "col", "chunk_seq")
            .write.option("parquet.block.size", _CHUNK_ROW_GROUP_BYTES)
            .partitionBy("part_id")
            # append: the staging dir pre-exists holding only the
            # .writer-lock (new_staging); the dir itself is uuid-fresh so
            # this never mixes with another run's files
            .mode("append")
            .parquet(staging, compression="none")
        )


def _plan(df: DataFrame, policy: CodecPolicy, bucket: tuple | None = None):
    if bucket:
        from .plans.partitioning import assign_partitions_bucketed

        return assign_partitions_bucketed(
            df, bucket[0], int(bucket[1]),
            target_bytes=policy.target_partition_bytes,
        )
    corpus_cols = {"lang", "repo", "path", "commit", "content"}
    if corpus_cols <= set(df.columns):
        return assign_partitions(df, target_bytes=policy.target_partition_bytes)
    return assign_partitions_generic(df, target_bytes=policy.target_partition_bytes)


def _validate_bucket_request(requested, schema: T.StructType) -> tuple | None:
    """Eager ``bucket_by`` validation -- callable BEFORE the table dir is
    created, preserving the no-artifacts-on-config-error contract."""
    if requested is None:
        return None
    col, n = requested
    if col not in {f.name for f in schema.fields}:
        raise ConfigException(f"bucket_by: unknown column {col!r}")
    if int(n) < 1:
        raise ConfigException("bucket_by: bucket count must be >= 1")
    return (col, int(n))


def _resolve_bucket_by(
    table: EncodedTable, requested, schema: T.StructType
) -> tuple | None:
    """Reconcile a job's ``bucket_by`` request with the table's recorded
    ``bucket-by`` property (the Iceberg bucket-transform partition spec).
    None inherits the recorded layout -- append waves, streaming batches,
    and maintenance rewrites keep bucket purity without restating it; an
    explicit request must MATCH the recorded spec (changing N or the key
    silently would corrupt every part's bucket tag)."""
    recorded = table.properties().get("bucket-by")
    rec = (recorded[0], int(recorded[1])) if recorded else None
    req = _validate_bucket_request(requested, schema)
    if req is not None and rec is not None and req != rec:
        raise ConfigException(
            f"bucket_by {req} conflicts with this table's recorded "
            f"bucket-by {rec}; rewrite with if_exists='delete' to re-bucket"
        )
    eff = req or rec
    if eff is not None and rec is None:
        table.set_property("bucket-by", [eff[0], eff[1]])
    return eff


def _annotate_buckets(
    lineage: dict[int, dict], bucket_ranges: dict | None, shift: int = 0
) -> None:
    """Tag each new lineage row with its part's bucket id (from the plan's
    contiguous per-bucket ranges). The tag is what read paths trust --
    bucketed_join refuses tables with untagged parts rather than guessing."""
    if not bucket_ranges:
        return
    import bisect

    spans = sorted((lo, hi, b) for b, (lo, hi) in bucket_ranges.items())
    los = [s[0] for s in spans]
    for pid, row in lineage.items():
        p = pid - shift
        i = bisect.bisect_right(los, p) - 1
        if i >= 0 and p < spans[i][1]:
            row["bucket"] = spans[i][2]


def lineage_df(spark: SparkSession, table: EncodedTable) -> DataFrame:
    """Per-partition lineage as a DataFrame -- the queryable TaskReport
    analogue (reference S3ParquetPageOutput.scala:61-67 reports
    bucket/key/etag per task; here rows/bytes/codecs/sha256/wall per part)."""
    rows = [
        {
            "part_id": pid,
            "rows": v["rows"],
            "chunks": v["chunks"],
            "raw_bytes": v["raw_bytes"],
            "enc_bytes": v["enc_bytes"],
            "sha256_manifest": v["sha256_manifest"],
            "codecs": v["codecs"],
            "wall_s": v["wall_s"],
        }
        for pid, v in sorted(table.lineage().items())
    ]
    schema = (
        "part_id long, rows long, chunks long, raw_bytes long, enc_bytes long, "
        "sha256_manifest string, codecs array<string>, wall_s double"
    )
    return spark.createDataFrame(rows, schema)


def register_table(
    spark: SparkSession,
    table_path: str,
    name: str,
    columns: list[str] | None = None,
    catalog_file: str | None = None,
    if_exists: str = "replace",
) -> DataFrame:
    """Register a decoded view of an EncodedTable so it is queryable by name
    via spark.sql -- the analogue of the reference's Glue registration
    (CatalogRegistrator.scala:92-178).

    With ``catalog_file`` the entry is also persisted to a reloadable JSON
    catalog (exists-check semantics mirror CatalogRegistrator.scala:104-111:
    ``if_exists`` in {error, skip, replace}); ``restore_catalog`` re-creates
    every registered view in a brand-new session."""
    import json
    import os
    import tempfile
    import time

    from .plans.policy import ConfigException

    if catalog_file is not None:
        cat = _read_catalog(catalog_file)
        if name in cat:
            if if_exists == "error":
                raise ConfigException(f"catalog entry already exists: {name}")
            if if_exists == "skip":
                return register_table(
                    spark, cat[name]["location"], name, columns=cat[name].get("columns")
                )
            if if_exists != "replace":
                raise ConfigException(
                    f"if_exists must be error|skip|replace, got {if_exists!r}"
                )
        cat[name] = {
            "location": os.path.abspath(table_path),
            "columns": columns,
            "registered_at": time.time(),
        }
        d = os.path.dirname(os.path.abspath(catalog_file)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".catalog-")
        with os.fdopen(fd, "w") as f:
            json.dump(cat, f, indent=1, sort_keys=True)
        os.replace(tmp, catalog_file)

    df = decode_job(spark, table_path, columns=columns)
    df.createOrReplaceTempView(name)
    return df


def _read_catalog(catalog_file: str) -> dict:
    import json
    import os

    if not os.path.exists(catalog_file):
        return {}
    with open(catalog_file) as f:
        return json.load(f)


def restore_catalog(spark: SparkSession, catalog_file: str) -> list[str]:
    """Re-register every table from a persisted catalog file in THIS session
    (the reload half of the persistent catalog surface). Returns the view
    names registered."""
    cat = _read_catalog(catalog_file)
    for name, entry in sorted(cat.items()):
        df = decode_job(spark, entry["location"], columns=entry.get("columns"))
        df.createOrReplaceTempView(name)
    return sorted(cat)


def verify_table(spark: SparkSession, table_path: str) -> list[dict]:
    """Integrity audit: recompute every part's sha256 chunk manifest from
    the files on disk and diff against the committed lineage (the etag-check
    analogue of the reference's TaskReport bucket/key/etag,
    S3ParquetPageOutput.scala:61-67). Returns mismatch records (empty =
    table verified)."""
    import os

    table = EncodedTable(table_path)
    expected = {pid: v["sha256_manifest"] for pid, v in table.lineage().items()}
    first_col = table.schema().fields[0].name
    # scan data/ directly (NOT read_encoded, which prunes to committed parts
    # and so could never see a stray uncommitted dir)
    on_disk = [n for n in os.listdir(table.data_dir) if n.startswith("part_id=")]
    if on_disk:
        raw = spark.read.option("basePath", table.data_dir).parquet(
            *[os.path.join(table.data_dir, n) for n in on_disk]
        )
        actual_rows = _lineage_rows(
            raw.withColumn("part_id", F.col("part_id").cast("long")), first_col, 0.0
        )
    else:
        actual_rows = {}
    problems = []
    for pid, want in expected.items():
        got = actual_rows.get(pid)
        if got is None:
            problems.append({"part_id": pid, "error": "missing on disk"})
        elif got["sha256_manifest"] != want:
            problems.append(
                {"part_id": pid, "error": "sha256 manifest mismatch",
                 "expected": want, "actual": got["sha256_manifest"]}
            )
    # parts referenced by ANY on-disk superseded generation are tracked,
    # not strays -- including generations past the retention window that
    # vacuum has not expired yet (a state every rewrite creates); their
    # shas were audited when their generation was current
    snapshot_ids: set[int] = set()
    for g in table.generations()[:-1]:
        try:
            snapshot_ids |= set(table.lineage_at(g))
        except ConfigException:
            pass
    for pid in set(actual_rows) - set(expected) - snapshot_ids:
        problems.append({"part_id": pid, "error": "untracked part on disk"})
    return problems


def _delete_literal(dtype, v):
    """Literal -> Spark Column typed to the COLUMN's exact dtype for
    temporal/decimal columns: the zone layer accepts ISO strings and exact
    decimals, and the exact delete filter must accept the same shapes
    without ANSI type-mismatch errors or double-precision drift (review
    finding r4: F.lit(raw) compared timestamp vs bigint / decimal vs
    double)."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        if isinstance(v, (int, float)):
            raise ConfigException(
                f"temporal delete literal must be a datetime/date or ISO "
                f"string, got {v!r} (raw epoch ints are zone-layer only)"
            )
        # lit(ISO string) or lit(datetime/date), cast to the column's exact
        # type (TS <-> NTZ included); ANSI cast fails loudly on junk
        return F.lit(v).cast(dtype)
    if isinstance(dtype, T.DecimalType):
        from decimal import Decimal

        return F.lit(str(Decimal(str(v)))).cast(dtype)
    return F.lit(v)


def _conjunct_condition(conjuncts: list[tuple], schema=None):
    """ANDed Spark Column for exact predicate evaluation of zone conjuncts
    (the delete predicate): value predicates are never satisfied by nulls,
    so the result is coalesced to False before use. ``schema`` types the
    literals to the columns (temporal/decimal exactness)."""
    types = {f.name: f.dataType for f in schema.fields} if schema else {}

    def lit_of(col, v):
        return (
            _delete_literal(types[col], v) if col in types else F.lit(v)
        )

    conds = []
    for col, op, v in conjuncts:
        c = F.col(col)
        if op == "==":
            conds.append(c == lit_of(col, v))
        elif op == ">=":
            conds.append(c >= lit_of(col, v))
        elif op == "<=":
            conds.append(c <= lit_of(col, v))
        elif op == ">":
            conds.append(c > lit_of(col, v))
        elif op == "<":
            conds.append(c < lit_of(col, v))
        elif op == "in":
            conds.append(c.isin([lit_of(col, x) for x in v]))
        elif op == "startswith":
            conds.append(c.startswith(v))
        elif op == "isnull":
            conds.append(c.isNull())
        elif op == "notnull":
            conds.append(c.isNotNull())
        else:  # normalize_where already validated; belt and braces
            raise ConfigException(f"unsupported delete op {op!r}")
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return F.coalesce(out, F.lit(False))


def delete_job(
    spark: SparkSession,
    table_path: str,
    where,
    policy: CodecPolicy | None = None,
    mode: str = "cow",
) -> dict:
    """Row-level DELETE: remove every row matching the ANDed ``where``
    conjuncts (same shapes as decode_job's ``where``), rewriting ONLY the
    parts whose zone/bloom summaries admit a match -- the copy-on-write
    delete of Iceberg/Delta, scoped by the engine's own pruning. At 100 TB
    a targeted delete (a doc id, a repo, a date range on a clustered
    column) rewrites a handful of parts; every provably clean part keeps
    its files and lineage rows untouched.

    ``mode="cow"`` (default): affected parts are decoded in FULL (no chunk
    pruning -- non-matching rows of matching parts must survive), filtered
    exactly, re-encoded under fresh part ids, and swapped in atomically via
    the partial generation flip (``_update_parts``: unchanged lineage
    shards are hard-linked, a crash before the flip leaves the old table
    intact).

    ``mode="mor"`` (merge-on-read, the Iceberg v2 positional-delete /
    Delta deletion-vector analogue): instead of rewriting 64 MB parts, the
    job decodes ONLY the predicate columns of admitted parts, records the
    matching row positions as per-chunk packed bitmaps in ``.dv.json``
    shard sidecars, and flips the generation with zero payload writes --
    a trickle delete costs O(matched rows) bitmap bytes, not O(matched
    parts) rewrites. Every reader masks deleted positions; a later
    copy-on-write rewrite (delete/update/merge/compact) of a part
    materializes its vector and drops it. Metadata-first shortcuts stay
    exact: COUNT subtracts recorded per-chunk deleted counts, MIN/MAX/SUM
    decode the affected chunks (a deleted row may be the extremum),
    distinct_job re-sketches vectored parts from their live rows, and
    quantile_job deflates its zone histograms by the recorded deletion
    counts (bounds stay live-valid).

    Returns {"parts_total", "parts_affected", "parts_rewritten",
    "rows_deleted"} (+"mode"/"dv_parts" for mor)."""
    import os
    import shutil

    from .operators.decode import decode_table_scan
    from .sources.chunkscan import normalize_where

    if mode not in ("cow", "mor"):
        raise ConfigException(f"delete mode must be 'cow' or 'mor': {mode!r}")
    table = EncodedTable(table_path)
    names = [f.name for f in table.schema().fields]
    conjuncts = normalize_where(where, names)
    if not conjuncts:
        raise ConfigException(
            "delete_job requires a predicate (use if_exists='delete' on "
            "encode_job to drop a whole table)"
        )
    lineage = table.lineage()
    all_parts = set(lineage)
    # zones + sidecar part-blooms, streamed shard by shard
    affected = table.surviving_parts(conjuncts, spark=spark)
    report = {
        "parts_total": len(all_parts),
        "parts_affected": len(affected),
        "parts_rewritten": 0,
        "rows_deleted": 0,
    }
    if mode == "mor":
        return _delete_mor(spark, table, lineage, conjuncts, affected, report)
    if not affected:
        return report
    rows_before = sum(lineage[p]["rows"] for p in affected)
    dv_before = table.part_dv()
    rows_before -= sum(
        int(dv_before[p].get("n", 0)) for p in affected if p in dv_before
    )

    new_lineage = _delete_cow_inplace(
        spark, table, lineage, conjuncts, affected, policy
    )
    rows_after = sum(r["rows"] for r in new_lineage.values())
    report["parts_rewritten"] = len(new_lineage)
    report["rows_deleted"] = rows_before - rows_after
    table.log_op("delete", dict(report))
    return report


def _delete_cow_inplace(
    spark: SparkSession,
    table: EncodedTable,
    lineage: dict[int, dict],
    conjuncts: list[tuple],
    affected: set[int],
    policy: CodecPolicy | None,
) -> dict[int, dict]:
    """Fused task-local copy-on-write DELETE (r6).

    The generic rewrite tail (_swap_in_rewrite) decodes the affected
    parts into JVM rows, persists them, re-plans partitions, ships every
    byte back into Python to re-encode, shuffles chunks, and runs a
    separate lineage job -- measured 8.6 s for an 18-part trickle delete
    whose kernels cost ~2 core-seconds. A DELETE never changes a row, so
    each part can rewrite 1:1 where it sits: one task decodes its part
    with pyarrow, drops matching rows, re-applies the recorded
    write-order, re-encodes through the same chunk kernels, writes the
    (col, chunk_seq)-sorted chunk parquet, and returns the lineage row --
    ZERO payload bytes cross the JVM boundary or the network, the Iceberg
    rewrite-files shape (1.5 s for the same delete). Bucket purity is
    preserved by construction (rows never move between parts; the old
    part's bucket tag is copied). UPDATE/MERGE keep the generic tail:
    their SET expressions are SQL, evaluated by Spark.

    Row semantics are identical to the previous
    ``filter(~coalesce(condition, False))``: a row whose predicate
    evaluates to NULL is NOT deleted (same as merge-on-read's fill-false
    marking) -- preserved bit-for-bit so existing results never change.
    Literal validation also matches: _conjunct_condition is still built
    driver-side so bad temporal/decimal literals refuse loudly before any
    task runs. A part whose rows all match yields no replacement part
    (its id is simply retired)."""
    # loud literal validation (raises ConfigException on e.g. raw epoch
    # ints against temporal columns), exactly as the Spark-filter path did
    _conjunct_condition(conjuncts, table.schema())
    return _local_parts_rewrite(
        spark, table, lineage, [[p] for p in sorted(affected)], affected,
        conjuncts, policy,
    )


def _local_parts_rewrite(
    spark: SparkSession,
    table: EncodedTable,
    lineage: dict[int, dict],
    groups: list[list[int]],
    affected: set[int],
    conjuncts: list[tuple],
    policy: CodecPolicy | None,
) -> dict[int, dict]:
    """Shared fused rewrite core (r6): ``groups`` is a list of old part
    id lists; each group becomes one new part (tagged with its first
    part's bucket, read from ``lineage``, which also weighs the groups
    for task packing). A task decodes its groups' parts with pyarrow
    (delete vectors applied), optionally
    drops rows matching ``conjuncts`` (NULL predicate = kept, see
    _delete_cow_inplace), re-applies the recorded write-order, re-encodes
    through the chunk kernels, writes one (col, chunk_seq)-sorted chunk
    parquet into staging, and reports its lineage row. The driver then
    moves the staged dirs in and flips the generation once
    (_update_parts). No payload byte ever crosses the JVM boundary or the
    network."""
    import json as _json
    import os
    import shutil

    from pyspark.sql.pandas.types import to_arrow_schema

    from .sources.tables import staging_heartbeat

    policy = policy or table.policy()
    schema = table.schema()
    arrow_schema = to_arrow_schema(schema)
    fields = [(f.name, f.type) for f in arrow_schema]
    names_now = {f.name for f in schema.fields}
    props = table.properties()
    cluster = tuple(
        c for c in (props.get("write-order") or []) if c in names_now
    )
    zorder = bool(props.get("write-order-zorder", False))
    fillable = frozenset(table.added_columns()) & names_now
    aliases = table.stored_aliases()
    dv_all = table.part_dv()
    first_col = schema.fields[0].name

    offset = table.next_part_base()
    table.note_part_extent(offset + len(groups) - 1)
    staging = table.new_staging()
    chunk_rows = policy.chunk_rows
    chunk_bytes = policy.chunk_bytes
    bloom_cols = frozenset(policy.bloom_columns)
    ndv_cols = frozenset(getattr(policy, "ndv_columns", ()) or ())
    from .operators.encode import _resolve_policy

    colmap = _resolve_policy(schema, policy)
    work = [
        (
            int(offset + i),
            [
                [
                    os.path.join(table.data_dir, f"part_id={pid}"),
                    dv_all.get(pid) or None,
                ]
                for pid in pids
            ],
            lineage[pids[0]].get("bucket"),
        )
        for i, pids in enumerate(groups)
    ]
    weights = [
        sum(int(lineage[p].get("enc_bytes", 0)) for p in pids) for pids in groups
    ]
    cjs = conjuncts

    def rewrite(units):
        import glob as _glob
        import uuid as _uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as _pq

        from embulk_output_s3_parquet_spark.operators.encode import (
            _effective_chunk_rows,
            _encode_slices,
            _zorder_take,
        )
        from embulk_output_s3_parquet_spark.sources.chunkscan import (
            _match_mask,
            iter_part_tables,
        )

        out_rows = []
        for new_pid, dirs, bucket in units:
            tw0 = time.time()
            tables = []
            for d, dv in dirs:
                files = sorted(_glob.glob(os.path.join(d, "*.parquet")))
                if not files:
                    raise FileNotFoundError(f"committed part missing: {d}")
                tables.extend(
                    iter_part_tables(
                        files, fields, [], fillable=fillable,
                        aliases=aliases, dv=dv,
                    )
                )
            if not tables:
                out_rows.append((int(new_pid), ""))
                continue
            whole = pa.concat_tables(tables).combine_chunks()
            if cjs:
                mask = None
                for c, op, v in cjs:
                    m = _match_mask(whole.column(c).combine_chunks(), op, v)
                    mask = m if mask is None else pc.and_kleene(mask, m)
                # parity with the previous filter(~coalesce(cond,
                # False)): a NULL predicate means NOT deleted -- the
                # row is kept (same as merge-on-read's fill-false
                # marking)
                keep = pc.invert(pc.fill_null(mask, False))
                whole = whole.filter(keep)
            if whole.num_rows == 0:
                out_rows.append((int(new_pid), ""))
                continue
            if cluster and zorder:
                whole = _zorder_take(whole, cluster)
            elif cluster:
                whole = whole.sort_by([(c, "ascending") for c in cluster])
            eff = _effective_chunk_rows(whole, chunk_rows, chunk_bytes)
            enc = _encode_slices(
                int(new_pid), whole, colmap, eff,
                bloom_cols=bloom_cols, ndv_cols=ndv_cols,
            )
            enc = enc.drop_columns(["part_id"]).sort_by(
                [("col", "ascending"), ("chunk_seq", "ascending")]
            )
            part_dir = os.path.join(staging, f"part_id={int(new_pid)}")
            os.makedirs(part_dir, exist_ok=True)
            rows_per_group = max(
                1,
                int(4 * 1024 * 1024 * enc.num_rows // max(enc.nbytes, 1)),
            )
            # temp + atomic replace onto a DETERMINISTIC name: a
            # retried/speculative task re-replaces the same file
            # instead of leaving two parquet files in one part dir
            tmp = os.path.join(
                part_dir, f".tmp-{_uuid.uuid4().hex[:12]}"
            )
            _pq.write_table(
                enc, tmp,
                row_group_size=rows_per_group,
                compression="none",
            )
            os.replace(
                tmp, os.path.join(part_dir, "part-00000.parquet")
            )
            row = lineage_row_from_chunks(
                enc.column("chunk_seq").to_pylist(),
                enc.column("col").to_pylist(),
                enc.column("meta").to_pylist(),
                enc.column("payload_sha").to_pylist(),
                enc.column("raw_bytes").to_pylist(),
                enc.column("enc_bytes").to_pylist(),
                enc.column("n").to_pylist(),
                first_col,
            )
            row["wall_s"] = round(time.time() - tw0, 3)
            if bucket is not None:
                row["bucket"] = int(bucket)
            out_rows.append((int(new_pid), _json.dumps(row)))
        yield pd.DataFrame(out_rows, columns=["new_pid", "lineage"])

    with staging_heartbeat(staging):
        got = map_units(
            spark, work, weights, rewrite, "new_pid long, lineage string"
        ).collect()
    new_lineage: dict[int, dict] = {}
    for r in got:
        if r["lineage"]:
            new_lineage[int(r["new_pid"])] = _json.loads(r["lineage"])
    if len(got) != len(work):
        raise RuntimeError(
            f"local rewrite incomplete: {len(got)}/{len(work)} groups reported"
        )
    for pid in sorted(new_lineage):
        dst = os.path.join(table.data_dir, f"part_id={pid}")
        if os.path.exists(dst):
            shutil.rmtree(dst)  # uncommitted leftover of a killed run
        os.rename(os.path.join(staging, f"part_id={pid}"), dst)
    table._update_parts(remove=set(affected), add=new_lineage)
    # same post-flip hygiene as _swap_in_rewrite: at retention 0 only
    # tag-pinned superseded parts survive
    if table.snapshot_retention() == 0:
        pinned = _tag_referenced_parts(table)
        if pinned is not None:
            for p in affected:
                if p in pinned:
                    continue
                shutil.rmtree(
                    os.path.join(table.data_dir, f"part_id={p}"),
                    ignore_errors=True,
                )
    shutil.rmtree(staging, ignore_errors=True)
    return new_lineage


def _delete_mor(
    spark: SparkSession,
    table: EncodedTable,
    lineage: dict[int, dict],
    conjuncts: list[tuple],
    affected: set[int],
    report: dict,
) -> dict:
    """Merge-on-read branch of :func:`delete_job`: compute per-chunk
    deleted-position bitmaps for the admitted parts on the executors, OR
    them into any existing vectors, and commit via one partial generation
    flip (zero payload bytes written; crash-before-flip leaves the old
    table intact)."""
    report = {**report, "mode": "mor", "dv_parts": 0}
    amended, fresh = _mor_mark(spark, table, lineage, conjuncts, affected)
    report["rows_deleted"] = fresh
    report["dv_parts"] = len(amended)
    if amended:
        table._update_parts(set(), amended)
    table.log_op("delete_mor", dict(report))
    return report


def _mor_mark(
    spark: SparkSession,
    table: EncodedTable,
    lineage: dict[int, dict],
    conjuncts: list[tuple],
    affected: set[int],
    refine: tuple[list[str], list[tuple]] | None = None,
) -> tuple[dict[int, dict], int]:
    """The shared marking job behind every merge-on-read mutation
    (delete_job/update_job/merge_job mode="mor"): evaluate ``conjuncts``
    exactly over the admitted parts' predicate columns on the executors,
    OR fresh matches into any existing delete vector, and return ({pid:
    full lineage row carrying the merged "dv"}, fresh-bit count) WITHOUT
    committing -- the caller folds the amended rows into its own single
    generation flip, so a mutation that also appends (UPDATE/MERGE) stays
    atomic.

    ``refine=(key_cols, key_tuples)`` narrows the conjunct mask to rows
    whose COMPOSITE key tuple is in ``key_tuples`` -- merge_job's
    multi-column keys can't be expressed as per-column conjuncts alone
    (per-column IN lists admit the cross product); the refine mask is the
    exact tuple-membership check, evaluated vectorized per chunk."""
    import base64
    import glob as _glob
    import json as _json
    import os

    from .sources.tables import SHARD_SIZE

    if table._core_manifest().get("parts"):
        raise ConfigException(
            "merge-on-read mutations need sharded lineage; this table uses "
            "legacy inline lineage -- compact_job it first"
        )
    if not affected:
        return {}, 0
    refine_cols, refine_keys = refine if refine else (None, None)
    pred_cols = sorted(
        {c for c, _, _ in conjuncts} | set(refine_cols or ())
    )
    fillable = frozenset(table.added_columns()) & set(pred_cols)
    aliases = table.stored_aliases()
    existing = table.part_dv()
    work = [
        (
            int(pid),
            os.path.join(table.data_dir, f"part_id={pid}"),
            existing.get(pid) or {},
        )
        for pid in sorted(affected)
    ]
    weights = [
        int(lineage.get(p, {}).get("enc_bytes", 0)) for p in sorted(affected)
    ]
    cjs = conjuncts

    def mark(units):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        from embulk_output_s3_parquet_spark.sources.chunkscan import (
            _match_mask,
            dv_masks,
            scan_file,
        )

        out_rows = []
        for pid, d, old in units:
            old_keep = dv_masks(old)  # keep-masks (True = live row)
            chunks: dict = dict((old or {}).get("chunks") or {})
            new_bits = 0
            files = sorted(_glob.glob(os.path.join(d, "*.parquet")))
            if not files:
                raise FileNotFoundError(f"committed part missing: {d}")
            for f in files:
                chunk_n: dict = {}
                surviving, meta_by, decoded = scan_file(
                    f, pred_cols, cjs, chunk_n_out=chunk_n,
                    fillable=fillable, aliases=aliases,
                )
                for seq in surviving:
                    mask = None
                    for c, op, v in cjs:
                        arr = decoded.get(c, {}).get(seq)
                        if arr is None:
                            if c in fillable:
                                # added column, part predates it: the
                                # column is all-null here -- evaluate
                                # the op against nulls (isnull matches
                                # every row; value ops match none)
                                arr = pa.nulls(chunk_n[seq])
                            else:
                                raise ValueError(
                                    f"chunk {seq} of {f} is missing "
                                    f"predicate column {c!r}"
                                )
                        m = _match_mask(arr, op, v)
                        mask = m if mask is None else pc.and_kleene(mask, m)
                    if mask is None:  # no conjuncts can't happen (guarded)
                        continue
                    matched = pc.fill_null(mask, False).to_numpy(
                        zero_copy_only=False
                    ).astype(bool)
                    if refine_cols and matched.any():
                        # exact composite-key membership: per-column
                        # conjuncts admitted the cross product; keep
                        # only rows whose key TUPLE is in the source
                        key_arrs = []
                        for c in refine_cols:
                            a = decoded.get(c, {}).get(seq)
                            if a is None:  # added col, pre-addition part
                                a = pa.nulls(chunk_n[seq])
                            key_arrs.append(a.to_pandas())
                        mi = pd.MultiIndex.from_arrays(key_arrs)
                        matched &= np.asarray(mi.isin(refine_keys))
                    prior_keep = old_keep.get(seq)
                    prior_del = (
                        ~prior_keep[: len(matched)]
                        if prior_keep is not None
                        else np.zeros(len(matched), bool)
                    )
                    fresh = matched & ~prior_del
                    if not fresh.any():
                        continue
                    new_bits += int(fresh.sum())
                    union = matched | prior_del
                    chunks[str(seq)] = {
                        "n": int(union.sum()),
                        "bm": base64.b64encode(
                            np.packbits(union).tobytes()
                        ).decode(),
                    }
            if new_bits:
                total = sum(int(e["n"]) for e in chunks.values())
                out_rows.append(
                    (int(pid), new_bits,
                     _json.dumps({"n": total, "chunks": chunks}))
                )
        yield pd.DataFrame(
            out_rows, columns=["part_id", "fresh", "dv"]
        ) if out_rows else pd.DataFrame(
            {"part_id": pd.Series([], dtype="int64"),
             "fresh": pd.Series([], dtype="int64"),
             "dv": pd.Series([], dtype="object")}
        )

    got = map_units(
        spark, work, weights, mark, "part_id long, fresh long, dv string"
    ).collect()
    if not got:
        return {}, 0
    marked = {int(r["part_id"]) for r in got}
    full = table.lineage_full(shards={p // SHARD_SIZE for p in marked})
    amended: dict[int, dict] = {}
    fresh_total = 0
    for r in got:
        pid = int(r["part_id"])
        amended[pid] = {**full[pid], "dv": _json.loads(r["dv"])}
        fresh_total += int(r["fresh"])
    return amended, fresh_total


def _swap_in_rewrite(
    spark: SparkSession,
    table: EncodedTable,
    affected: set[int],
    new_rows: DataFrame,
    policy: CodecPolicy | None,
    keep_affected: bool = False,
    extra_rows: dict | None = None,
) -> dict[int, dict]:
    """Shared tail of every copy-on-write rewrite (delete/update/merge):
    encode ``new_rows`` into fresh part ids minted above the persisted
    high-water mark, then atomically swap them in for ``affected`` via the
    partial generation flip (``_update_parts``: unchanged lineage shards
    hard-linked, removed ids tombstoned; a crash before the flip leaves the
    old table fully intact). Returns the new parts' lineage rows."""
    import os
    import shutil

    policy = policy or table.policy()
    schema = table.schema()
    # the rewritten rows are decoded TWICE otherwise (partition planning's
    # size collect + the encode write); persist the frame in between
    new_rows = new_rows.persist()
    # write-order may reference columns dropped since it was recorded;
    # cluster only by columns that still exist (drop_column also scrubs)
    names_now = {f.name for f in schema.fields}
    props = table.properties()
    cluster = tuple(
        c for c in (props.get("write-order") or []) if c in names_now
    )
    zorder = bool(props.get("write-order-zorder", False))

    t0 = time.time()
    bucket = _resolve_bucket_by(table, None, schema)
    dfp, plan_out = _plan(new_rows, policy, bucket=bucket)
    # mint replacement ids from the persisted high-water mark, NOT
    # max(lineage): an incomplete encode plan has reserved ids above the
    # committed set (note_part_extent), and retired tombstones must never
    # be reused as live ids. Reserve this rewrite's range before any dir
    # lands so a concurrent/subsequent allocator stays above it too.
    offset = table.next_part_base()
    if plan_out.n_parts:
        table.note_part_extent(offset + plan_out.n_parts - 1)
    if zorder:
        encoded = encode_grouped(dfp, policy, cluster_by=cluster, zorder=True)
    else:
        encoded = encode_local(dfp, policy, cluster_by=cluster).repartition(
            "part_id"
        )
    staging = table.new_staging()
    _write_chunk_files(encoded, staging)
    new_lineage: dict[int, dict] = {}
    staged = [
        n for n in sorted(os.listdir(staging)) if n.startswith("part_id=")
    ]
    if staged:
        on_disk = spark.read.parquet(staging)
        raw = _lineage_rows(on_disk, schema.fields[0].name, time.time() - t0)
        for name in staged:
            pid = int(name.split("=", 1)[1])
            dst = os.path.join(table.data_dir, f"part_id={pid + offset}")
            if os.path.exists(dst):
                shutil.rmtree(dst)  # uncommitted leftover of a killed run
            os.rename(os.path.join(staging, name), dst)
        _annotate_buckets(raw, plan_out.bucket_ranges)
        new_lineage = {pid + offset: row for pid, row in raw.items()}
    # keep_affected (merge-on-read UPDATE): the affected parts STAY live
    # (their delete vectors in ``extra_rows`` mask the superseded rows) and
    # the appended parts join them -- still ONE atomic flip
    table._update_parts(
        remove=set() if keep_affected else affected,
        add={**(extra_rows or {}), **new_lineage},
    )
    # old affected dirs only AFTER the atomic flip (kill-safe); with
    # snapshot retention on they stay readable via decode_job(at_gen=...)
    # until vacuum expires the superseded generation. At retention 0 only
    # the parts a tag's pinned lineage ACTUALLY references survive -- the
    # rest are deleted here rather than stranded for vacuum
    if table.snapshot_retention() == 0 and not keep_affected:
        pinned = _tag_referenced_parts(table)
        if pinned is not None:
            for p in affected:
                if p in pinned:
                    continue
                shutil.rmtree(
                    os.path.join(table.data_dir, f"part_id={p}"),
                    ignore_errors=True,
                )
    shutil.rmtree(staging, ignore_errors=True)
    new_rows.unpersist()
    return new_lineage


def update_job(
    spark: SparkSession,
    table_path: str,
    where,
    set_exprs: dict,
    policy: CodecPolicy | None = None,
    mode: str = "cow",
) -> dict:
    """Row-level UPDATE: ``UPDATE t SET col = expr, ... WHERE pred`` as a
    copy-on-write rewrite scoped by zone/bloom part pruning -- the Iceberg/
    Delta UPDATE analogue on the engine's own metadata. ``where`` takes the
    same (col, op, literal) conjunct shapes as decode_job; ``set_exprs``
    maps target column -> SQL expression string (or Column), evaluated on
    matching rows with every table column in scope (so ``{"price":
    "price * 1.1"}`` works). Results are cast to the column's declared
    type: the table schema never drifts.

    Only parts whose summaries admit a matching row are rewritten; at
    100 TB a keyed update touches a handful of parts and every provably
    clean part keeps its files and lineage untouched.

    ``mode="mor"`` (merge-on-read UPDATE, Iceberg v2 semantics): matched
    rows are delete-vectored in place and their updated images append as
    NEW parts, all in ONE atomic generation flip -- the affected 64 MB
    parts are never rewritten, so a narrow UPDATE costs O(matched rows)
    writes. The appended parts carry normal zones/blooms; readers see
    exactly one image of every row (the vector masks the old one).

    Returns {"parts_total", "parts_affected", "parts_rewritten",
    "rows_updated"} (+"mode"/"dv_parts"/"parts_appended" for mor)."""
    from pyspark.sql import Column

    from .operators.decode import decode_table_scan
    from .sources.chunkscan import normalize_where

    if mode not in ("cow", "mor"):
        raise ConfigException(f"update mode must be 'cow' or 'mor': {mode!r}")
    table = EncodedTable(table_path)
    schema = table.schema()
    names = [f.name for f in schema.fields]
    conjuncts = normalize_where(where, names)
    if not conjuncts:
        raise ConfigException("update_job requires a predicate")
    if not set_exprs:
        raise ConfigException("update_job requires at least one SET column")
    unknown = set(set_exprs) - set(names)
    if unknown:
        raise ConfigException(f"SET: unknown column(s) {sorted(unknown)}")
    lineage = table.lineage()
    # zones + sidecar part-blooms, streamed shard by shard
    affected = table.surviving_parts(conjuncts, spark=spark)
    report = {
        "parts_total": len(lineage),
        "parts_affected": len(affected),
        "parts_rewritten": 0,
        "rows_updated": 0,
    }
    if not affected:
        return report

    df = decode_table_scan(spark, table, parts=affected).persist()
    cond = _conjunct_condition(conjuncts, schema)
    report["rows_updated"] = df.filter(cond).count()
    by_name = {f.name: f for f in schema.fields}
    cols = []
    for c in names:
        if c in set_exprs:
            e = set_exprs[c]
            val = e if isinstance(e, Column) else F.expr(str(e))
            cols.append(
                F.when(cond, val.cast(by_name[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            cols.append(F.col(c))
    if mode == "mor":
        # the updated images of MATCHED rows only; unmatched rows stay in
        # their (vector-masked-where-needed) original parts untouched
        updated = df.filter(cond).select(*cols)
        amended, _fresh = _mor_mark(
            spark, table, lineage, conjuncts, affected
        )
        new_lineage = _swap_in_rewrite(
            spark, table, affected, updated, policy,
            keep_affected=True, extra_rows=amended,
        )
        df.unpersist()
        report.update(
            mode="mor", dv_parts=len(amended),
            parts_appended=len(new_lineage),
        )
        table.log_op("update_mor", dict(report))
        return report
    updated = df.select(*cols)
    new_lineage = _swap_in_rewrite(spark, table, affected, updated, policy)
    df.unpersist()
    report["parts_rewritten"] = len(new_lineage)
    table.log_op("update", dict(report))
    return report


# a merge source larger than this skips the exact per-key bloom/zone "in"
# probe and prunes by key RANGE only (the probe list itself must stay a
# driver-side broadcastable literal)
_MERGE_KEY_PROBE_CAP = 100_000


def merge_job(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    policy: CodecPolicy | None = None,
    mode: str = "cow",
) -> dict:
    """MERGE (upsert): rows of ``source`` whose ``on`` key matches an
    existing row REPLACE it (every non-key column taken from the source);
    unmatched source rows are INSERTED -- Iceberg/Delta's ``MERGE INTO ...
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` as one
    copy-on-write rewrite.

    Scale shape: the affected-part set comes from the engine's own
    metadata -- for a small source (<= _MERGE_KEY_PROBE_CAP keys) every
    part is probed with an exact ``key IN (...)`` against per-part blooms +
    zone ranges; for a large source, with the source's [min, max] key
    range. Every part the summaries exclude keeps its files untouched, so
    a trickle upsert into a keyed/clustered 100 TB table rewrites only the
    parts it hits. Unmatched detection needs no full-table scan either: a
    source key outside the affected parts' summaries cannot exist
    elsewhere, so the anti-join runs against the decoded AFFECTED rows
    only.

    ``source`` must have exactly the table's columns; duplicate keys in the
    source are refused (ambiguous, like Iceberg's cardinality check).

    ``mode="mor"`` (merge-on-read MERGE, completing the MoR DML matrix
    with delete_job/update_job): matched TARGET rows are delete-vectored
    in place and the source's updated images + inserts append as NEW
    parts, all in ONE atomic generation flip -- a trickle upsert into a
    100 TB table writes O(source rows), never O(matched parts) 64 MB
    rewrites. Composite keys stay exact: the marking job refines the
    per-column IN admission with a vectorized key-TUPLE membership check.
    Bulk merges (> _MERGE_KEY_PROBE_CAP source rows) are refused in mor
    mode -- at that size the rewrite IS the cheap path; use cow.

    Returns {"parts_total", "parts_affected", "parts_rewritten",
    "rows_updated", "rows_inserted"} (+"mode"/"dv_parts"/"parts_appended"
    for mor)."""
    from .operators.decode import decode_table_scan
    from .sources.chunkscan import normalize_where

    if mode not in ("cow", "mor"):
        raise ConfigException(f"merge mode must be 'cow' or 'mor': {mode!r}")
    table = EncodedTable(table_path)
    schema = table.schema()
    names = [f.name for f in schema.fields]
    if not on:
        raise ConfigException("merge_job requires at least one key column")
    missing = set(on) - set(names)
    if missing:
        raise ConfigException(f"merge key: unknown column(s) {sorted(missing)}")
    if sorted(source.columns) != sorted(names):
        raise ConfigException(
            f"merge source columns {sorted(source.columns)} != table "
            f"columns {sorted(names)} (MERGE inserts whole rows)"
        )
    source = source.select(*names).persist()  # table column order
    n_src = source.count()
    if mode == "mor" and n_src > _MERGE_KEY_PROBE_CAP:
        raise ConfigException(
            f"merge mode='mor' is the trickle-upsert path (<= "
            f"{_MERGE_KEY_PROBE_CAP} source rows); a {n_src}-row bulk "
            "merge should rewrite parts -- use mode='cow'"
        )
    # cardinality check (Iceberg's): each TARGET row may match at most one
    # source row. Rows with any NULL key match nothing (SQL join
    # semantics) -- they are pure inserts and must not trip the check
    # (distinct() would collapse NULLs as if they were equal keys).
    keyed = source.na.drop(subset=list(on))
    if keyed.select(*on).distinct().count() != keyed.count():
        raise ConfigException(
            "merge source has duplicate keys: each target row may match at "
            "most one source row (deduplicate the source first)"
        )

    # affected parts from the table's own summaries: exact key-list probe
    # (blooms + zones, op 'in') when the source is small, range otherwise
    if n_src == 0:
        conjuncts = None
    elif len(on) == 1 and n_src <= _MERGE_KEY_PROBE_CAP:
        # NULL keys match nothing (SQL join semantics): they are pure
        # inserts and must not poison the zone probe
        keys = [r[0] for r in source.select(on[0]).collect() if r[0] is not None]
        conjuncts = normalize_where([(on[0], "in", keys)], names) if keys else None
    else:
        bounds = source.agg(
            *[F.min(k).alias(f"lo_{k}") for k in on],
            *[F.max(k).alias(f"hi_{k}") for k in on],
        ).first()
        conjuncts = []
        for k in on:
            if bounds[f"lo_{k}"] is not None:
                conjuncts.append((k, ">=", bounds[f"lo_{k}"]))
                conjuncts.append((k, "<=", bounds[f"hi_{k}"]))
        conjuncts = normalize_where(conjuncts, names)
    lineage = table.lineage()
    # zones + sidecar part-blooms, streamed shard by shard
    affected = set() if conjuncts is None else table.surviving_parts(conjuncts, spark=spark)
    report = {
        "parts_total": len(lineage),
        "parts_affected": len(affected),
        "parts_rewritten": 0,
        "rows_updated": 0,
        "rows_inserted": 0,
    }
    if n_src == 0:
        source.unpersist()
        return report

    non_key = [c for c in names if c not in on]
    if mode == "mor":
        # exact marking predicate: per-column IN lists (the zone/bloom
        # admission) refined -- for composite keys -- by a vectorized
        # tuple-membership check inside _mor_mark. NULL-key source rows
        # match nothing (SQL join semantics): pure inserts.
        key_rows = [tuple(r) for r in keyed.select(*on).distinct().collect()]
        mark_conjuncts = (
            normalize_where(
                [
                    (k, "in", sorted({t[i] for t in key_rows}))
                    for i, k in enumerate(on)
                ],
                names,
            )
            if key_rows
            else []
        )
        refine = (list(on), key_rows) if len(on) > 1 else None
        if affected:
            target = decode_table_scan(spark, table, parts=affected).persist()
            src = F.broadcast(source)  # mor is capped small: always broadcast
            src_renamed = src.select(
                *on, *[F.col(c).alias(f"__src_{c}") for c in non_key]
            )
            updates = target.join(src_renamed, on, "inner").select(
                *[
                    F.col(f"__src_{c}").alias(c) if c in set(non_key) else F.col(c)
                    for c in names
                ]
            )
            inserts = source.join(target.select(*on), on, "left_anti").persist()
            report["rows_updated"] = updates.count()
            report["rows_inserted"] = inserts.count()
            appended = updates.unionByName(inserts)
        else:
            appended = source
            report["rows_inserted"] = n_src
        # vector the superseded images IN PLACE, append the new images:
        # one atomic flip (keep_affected -- the vectored parts stay live)
        amended, _fresh = (
            _mor_mark(
                spark, table, lineage, mark_conjuncts, affected,
                refine=refine,
            )
            if affected and mark_conjuncts
            else ({}, 0)
        )
        new_lineage = _swap_in_rewrite(
            spark, table, affected, appended, policy,
            keep_affected=True, extra_rows=amended,
        )
        if affected:
            target.unpersist()
            inserts.unpersist()
        source.unpersist()
        report.update(
            mode="mor", dv_parts=len(amended),
            parts_appended=len(new_lineage),
        )
        table.log_op("merge_mor", dict(report))
        return report
    if affected:
        target = decode_table_scan(spark, table, parts=affected).persist()
        # broadcast the source side only while it is provably small; a
        # bulk merge beyond the probe cap falls back to a shuffle join
        src = source if n_src > _MERGE_KEY_PROBE_CAP else F.broadcast(source)
        # WHEN MATCHED THEN UPDATE SET *: every matched TARGET row takes
        # the source row's non-key values -- an inner join on the keys, so
        # a table that legitimately holds duplicate-key rows keeps its
        # multiplicity (each duplicate updates; nothing silently collapses)
        src_renamed = src.select(
            *on, *[F.col(c).alias(f"__src_{c}") for c in non_key]
        )
        updates = target.join(src_renamed, on, "inner").select(
            *[
                F.col(f"__src_{c}").alias(c) if c in set(non_key) else F.col(c)
                for c in names
            ]
        )
        kept = target.join(src.select(*on), on, "left_anti")
        inserts = source.join(target.select(*on), on, "left_anti").persist()
        report["rows_updated"] = updates.count()
        report["rows_inserted"] = inserts.count()
    else:
        kept = updates = None
        inserts = source
        report["rows_inserted"] = n_src

    pieces = [p for p in (kept, updates, inserts) if p is not None]
    merged = pieces[0]
    for p in pieces[1:]:
        merged = merged.unionByName(p)
    new_lineage = _swap_in_rewrite(spark, table, affected, merged, policy)
    if affected:
        target.unpersist()
        inserts.unpersist()
    source.unpersist()
    report["parts_rewritten"] = len(new_lineage)
    table.log_op("merge", dict(report))
    return report


def export_job(
    spark: SparkSession,
    table_path: str,
    out_dir: str,
    columns: list[str] | None = None,
    where=None,
    compression: str = "snappy",
    at_gen: int | str | None = None,
    since_part: int | None = None,
    expect_gen: int | None = None,
) -> dict:
    """Decode an EncodedTable to a parquet dataset ENTIRELY executor-side:
    each task opens its committed part dirs with pyarrow, decodes surviving
    chunks (zone/bloom chunk pruning under ``where``), applies the EXACT
    predicate with pyarrow.compute, and writes ``part-<pid>.parquet``
    straight into ``out_dir`` -- encoded bytes and decoded rows never cross
    the JVM<->Python Arrow IPC socket, which caps any DataFrame-path decode
    at ~0.55 GB/s aggregate on this box (measured round 4). This is the
    100 TB export shape: executors read the encoded format and write
    object-store parquet; the only thing that moves driver-side is one
    report row per part.

    Atomicity: tasks write to a temp name and os.replace into place; the
    driver writes ``_SUCCESS`` only after every part reported, so a
    partially failed export is distinguishable (same contract as Spark's
    own committer). Task retries simply re-replace their file.

    ``at_gen`` exports a retained snapshot generation.

    Incremental mode (``since_part``): export ONLY parts with id >
    since_part, appending new files beside the previous export instead of
    clearing it -- the batch twin of the enctable readStream source (parts
    are immutable and ids grow monotonically, so "new since watermark" is
    exact). The returned ``max_part_id``/``parts_gen`` are the next call's
    watermark; pass ``expect_gen`` and the job refuses if a rewrite
    (delete/update/merge/compact) bumped the generation since -- rewritten
    history makes an incremental tail silently wrong, the same guard the
    stream reader enforces.

    Returns {"rows", "files", "bytes", "wall_s", "max_part_id",
    "parts_gen"}."""
    import os

    from pyspark.sql.pandas.types import to_arrow_schema

    from .operators.decode import _prune_schema
    from .sources.chunkscan import normalize_where

    t0 = time.time()
    table = EncodedTable(table_path)
    at_gen = table.resolve_ref(at_gen)  # tag name | gen | None
    out_schema = _prune_schema(table.schema(), columns)
    arrow_schema = to_arrow_schema(out_schema)
    names = [f.name for f in out_schema.fields]
    fields = [(f.name, f.type) for f in arrow_schema]
    conjuncts = normalize_where(where, names)
    fillable = frozenset(table.added_columns()) & set(names)
    aliases = table.stored_aliases()
    lineage = table.lineage_at(at_gen) if at_gen is not None else table.lineage()
    if not lineage:
        raise ConfigException(f"table {table_path} has no committed partitions")
    cur_gen = table.generations()[-1]
    if since_part is not None:
        if expect_gen is not None and cur_gen != expect_gen:
            raise ConfigException(
                f"incremental export refused: table generation moved "
                f"{expect_gen} -> {cur_gen} (a rewrite changed history); "
                "re-export fully"
            )
        max_id = max(lineage)
        lineage = {p: r for p, r in lineage.items() if p > since_part}
        if not lineage:
            return {
                "rows": 0, "files": 0, "bytes": 0,
                "wall_s": round(time.time() - t0, 2),
                "max_part_id": max_id, "parts_gen": cur_gen,
            }
    # overwrite semantics, hygienically: part ids change on every rewrite,
    # so re-exporting over the previous output would leave STALE part files
    # under a fresh _SUCCESS. Clear prior export artifacts -- and refuse a
    # directory holding anything this job didn't write (never delete files
    # we can't identify as ours). Incremental mode APPENDS instead (its
    # new part ids cannot collide with already-exported file names).
    if os.path.isdir(out_dir) and since_part is None:
        entries = os.listdir(out_dir)

        def _ours(e: str) -> bool:
            return (
                (e.startswith("part-") and e.endswith(".parquet"))
                or e == "_SUCCESS"
                or e.startswith(".export-")
            )

        foreign = [e for e in entries if not _ours(e)]
        if foreign:
            raise ConfigException(
                f"export refused: {out_dir} contains non-export entries "
                f"{sorted(foreign)[:5]} -- pick an empty directory"
            )
        for e in entries:
            os.unlink(os.path.join(out_dir, e))
    os.makedirs(out_dir, exist_ok=True)

    # sub-part slices as in decode_table_scan; each writes its own file
    dv_all = table.part_dv(gen=at_gen) if at_gen is not None else table.part_dv()
    slices = part_slices(
        sorted(lineage), lineage, spark.sparkContext.defaultParallelism
    )
    work = [
        (p, os.path.join(table.data_dir, f"part_id={p}"), i, n, dv_all.get(p))
        for p, i, n, _ in slices
    ]
    weights = [w for *_, w in slices]

    def export(units):
        import glob as _glob
        import os as _os
        import tempfile as _tf

        import pandas as pd
        import pyarrow.compute as pc
        import pyarrow.parquet as _pq

        from embulk_output_s3_parquet_spark.sources.chunkscan import (
            _match_mask,
            iter_part_tables,
        )

        out_rows = []
        for pid, d, sl, nsub, dv in units:
            files = sorted(_glob.glob(_os.path.join(d, "*.parquet")))
            if not files:
                raise FileNotFoundError(f"committed part missing: {d}")
            suffix = f"-s{int(sl):02d}" if int(nsub) > 1 else ""
            dst = _os.path.join(
                out_dir, f"part-{int(pid):06d}{suffix}.parquet"
            )
            fd, tmp = _tf.mkstemp(dir=out_dir, prefix=".export-")
            _os.close(fd)
            n = 0
            writer = _pq.ParquetWriter(
                tmp, arrow_schema, compression=compression
            )
            try:
                for tbl in iter_part_tables(
                    files, fields, conjuncts, fillable=fillable,
                    slice_of=(int(sl), int(nsub)) if int(nsub) > 1 else None,
                    aliases=aliases,
                    dv=dv,
                ):
                    if conjuncts:  # exact filter (scan is may-match)
                        mask = None
                        for col, op, v in conjuncts:
                            m = _match_mask(tbl[col].combine_chunks(), op, v)
                            mask = m if mask is None else pc.and_(mask, m)
                        tbl = tbl.filter(mask)
                    if tbl.num_rows:
                        writer.write_table(tbl)
                        n += tbl.num_rows
            finally:
                writer.close()
            if n:
                _os.replace(tmp, dst)
                out_rows.append((int(pid), n, _os.path.getsize(dst)))
            else:
                _os.unlink(tmp)  # fully-filtered slice: no empty file
                out_rows.append((int(pid), 0, 0))
        yield pd.DataFrame(out_rows, columns=["part_id", "rows", "bytes"])

    rep = map_units(
        spark, work, weights, export, "part_id long, rows long, bytes long"
    )
    agg = rep.agg(
        F.sum("rows").alias("rows"),
        F.sum("bytes").alias("bytes"),
        F.count("*").alias("slices"),
        F.sum((F.col("rows") > 0).cast("int")).alias("files"),
    ).first()
    if int(agg["slices"]) != len(work):  # a task vanished without reporting
        raise ConfigException(
            f"export incomplete: {agg['slices']}/{len(work)} slices reported"
        )
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass
    return {
        "rows": int(agg["rows"] or 0),
        "files": int(agg["files"] or 0),
        "bytes": int(agg["bytes"] or 0),
        "wall_s": round(time.time() - t0, 2),
        "max_part_id": max(lineage),  # the next incremental watermark
        "parts_gen": cur_gen,
    }


def rollback_job(table_path: str, to_gen: int) -> dict:
    """Roll the table back to a RETAINED snapshot generation (Iceberg's
    ``rollback_to_snapshot``): the target generation's lineage shards (and
    bloom sidecars) are hard-linked into a NEW generation and the manifest
    pointer flipped in one atomic write -- history moves forward, data
    files never move, and a crash before the flip leaves the current
    generation fully intact (the same contract as every other rewrite).

    Tombstone accounting follows the pointer: part ids live now but absent
    from the target become retired (a replayed encode wave must not
    resurrect the rolled-back rewrite's parts), and target-generation ids
    a DML had retired are un-tombstoned (they are committed live parts
    again, which is what makes the rollback actually undo a DELETE).
    ``max-part-id`` stays monotone, so no id is ever reused.

    Metadata-only: no SparkSession, O(shard count) IO. Requires
    ``snapshot-retention`` >= 1 and ``to_gen`` within the retained window
    (vacuum may have reclaimed anything older)."""
    import os
    import shutil

    t0 = time.time()
    table = EncodedTable(table_path)
    m = table._core_manifest()
    cur = int(m.get("parts_gen", 0))
    to_gen = int(table.resolve_ref(to_gen))  # tag names resolve
    if to_gen == cur:
        return {"rolled_back": False, "parts_gen": cur, "reason": "already current"}
    if to_gen > cur:
        raise ConfigException(
            f"generation {to_gen} of {table_path} was never committed "
            f"(current is {cur})"
        )
    retained = table.retained_generations()
    if to_gen not in retained:
        raise ConfigException(
            f"generation {to_gen} of {table_path} is not retained "
            f"(retained: {retained}); set snapshot-retention BEFORE the "
            "rewrite you may want to undo"
        )
    target = table.lineage_at(to_gen)  # raises if the shard dir is gone
    # every target part's data must still be on disk before we flip the
    # pointer at it -- retention guarantees this, but a hand-deleted dir
    # must fail HERE, not at first read
    missing = [
        pid
        for pid in target
        if not os.path.isdir(os.path.join(table.data_dir, f"part_id={pid}"))
    ]
    if missing:
        raise ConfigException(
            f"cannot roll back {table_path} to generation {to_gen}: part "
            f"dirs missing on disk: {sorted(missing)[:8]}"
        )
    new_gen = cur + 1
    src_dir = os.path.join(table.path, f"parts-{to_gen}")
    new_dir = os.path.join(table.path, f"parts-{new_gen}")
    shutil.rmtree(new_dir, ignore_errors=True)
    os.makedirs(new_dir, exist_ok=True)
    from .sources.tables import STAGING_LOCK, write_staging_lock

    # protect the in-flight build from a concurrent vacuum, like every
    # other next-generation builder (hard links keep source mtimes)
    write_staging_lock(new_dir)
    # hard-link the whole shard dir (lineage .json + .bf sidecars): the new
    # generation is byte-identical to the target, so part blooms and zone
    # pruning survive the rollback with zero re-derivation
    for name in os.listdir(src_dir):
        src = os.path.join(src_dir, name)
        if not os.path.isfile(src) or name == STAGING_LOCK:
            continue  # a crashed rewrite's leftover lock is not lineage
        try:
            os.link(src, os.path.join(new_dir, name))
        except OSError:
            shutil.copy2(src, os.path.join(new_dir, name))
    live_now = set(table.completed_parts())
    live_target = set(target)
    props = m.setdefault("properties", {})
    retired = {int(p) for p in props.get("retired-parts", [])}
    props["retired-parts"] = sorted((retired | (live_now - live_target)) - live_target)
    m["parts"] = {}
    m["parts_gen"] = new_gen
    table._stamp_gen_ts(m)  # every flip is dated (resolve_at_ts)
    table._write_manifest(m)
    try:
        os.remove(os.path.join(new_dir, STAGING_LOCK))
    except OSError:
        pass  # committed either way; a leftover lock is ignored
    # the superseded generation (cur) enters the retention window like any
    # other rewrite's predecessor; vacuum expires it past the window
    table.log_op(
        "rollback",
        {
            "from_gen": cur,
            "to_gen": to_gen,
            "new_gen": new_gen,
            "parts": len(live_target),
            "retired_delta": sorted(live_now - live_target),
            "revived": sorted(live_target - live_now),
        },
    )
    return {
        "rolled_back": True,
        "from_gen": cur,
        "to_gen": to_gen,
        "parts_gen": new_gen,
        "parts": len(live_target),
        "rows": sum(int(r.get("rows", 0)) for r in target.values()),
        "wall_s": round(time.time() - t0, 2),
    }


def diff_summary(table_path: str, from_gen: int, to_gen: int | None = None) -> dict:
    """Spark-free part-level diff between two retained generations: which
    parts a rewrite added/removed and the exact net row/byte delta, all
    from lineage metadata. The driver of an incremental pipeline calls
    this first -- on a 100 TB table it answers "did anything change, and
    how much" in O(shard) metadata IO; :func:`diff_job` then decodes only
    the changed parts."""
    table = EncodedTable(table_path)
    cur = int(table._core_manifest().get("parts_gen", 0))
    from_gen = table.resolve_ref(from_gen)  # tag names resolve
    to_gen = table.resolve_ref(to_gen)
    to_gen = cur if to_gen is None else int(to_gen)
    old = table.lineage_at(int(from_gen))
    new = table.lineage_at(to_gen)
    removed = sorted(set(old) - set(new))
    added = sorted(set(new) - set(old))
    # merge-on-read deletes amend a part's delete vector WITHOUT minting a
    # new part id, so the id-set diff alone would miss them: a part common
    # to both generations changed iff its vector differs between them
    old_dv = table.part_dv(gen=int(from_gen))
    new_dv = table.part_dv(gen=to_gen)
    dv_changed = sorted(
        p for p in set(old) & set(new) if old_dv.get(p) != new_dv.get(p)
    )
    eff = lambda lin, dv, pids: sum(  # noqa: E731
        int(lin[p].get("rows", 0)) - int((dv.get(p) or {}).get("n", 0))
        for p in pids
    )
    byts = lambda lin, pids: sum(int(lin[p].get("enc_bytes", 0)) for p in pids)  # noqa: E731
    return {
        "from_gen": int(from_gen),
        "to_gen": to_gen,
        "parts_added": added,
        "parts_removed": removed,
        "parts_dv_changed": dv_changed,
        "parts_unchanged": len(set(old) & set(new)) - len(dv_changed),
        "rows_delta": (
            eff(new, new_dv, added)
            - eff(old, old_dv, removed)
            + eff(new, new_dv, dv_changed)
            - eff(old, old_dv, dv_changed)
        ),
        "rows_in_changed_parts": (
            eff(new, new_dv, added + dv_changed)
            + eff(old, old_dv, removed + dv_changed)
        ),
        "enc_bytes_delta": byts(new, added) - byts(old, removed),
    }


def diff_job(
    spark: SparkSession,
    table_path: str,
    from_gen: int,
    to_gen: int | None = None,
    columns: list[str] | None = None,
    change_col: str = "_change",
) -> DataFrame:
    """Row-level changelog between two retained snapshot generations --
    the Iceberg changelog-scan analogue that completes the DML family
    (delete/update/merge/rollback write history; this reads it). Returns
    the table columns plus ``change_col`` in {'insert', 'delete'}: a
    DELETE emits its removed rows as deletes, an append emits inserts,
    an UPDATE/MERGE emits the pre-image as delete and the post-image as
    insert (classic changelog semantics; duplicates keep multiplicity).

    Scale shape: parts are immutable and every rewrite mints fresh part
    ids above the high-water mark, so a part id common to both
    generations with an unchanged delete vector is byte-identical and
    never decoded -- the scan touches ONLY parts the rewrite added or
    removed plus parts whose merge-on-read vector changed (a MoR
    delete/update amends the vector without minting a new id; each side
    decodes such a part under ITS generation's vector, so only the newly
    masked rows survive the cancellation), and the single shuffle is
    the ``exceptAll`` over those changed-part rows (rewrites copy
    surviving rows into fresh parts, so the copies must cancel). Both
    snapshots read with the CURRENT schema, like every at_gen read.

    ``columns`` restricts the diff to a projection (rows differing only
    in excluded columns cancel out -- the changelog OF that projection).
    Map-typed columns are not comparable in Spark; project them away."""
    from .operators.decode import decode_table_scan

    table = EncodedTable(table_path)
    cur = int(table._core_manifest().get("parts_gen", 0))
    from_gen = table.resolve_ref(from_gen)  # tag names resolve
    to_gen = table.resolve_ref(to_gen)
    to_gen = cur if to_gen is None else int(to_gen)
    from_gen = int(from_gen)
    if from_gen > to_gen:
        raise ConfigException(
            f"diff_job: from_gen {from_gen} is after to_gen {to_gen}; "
            "swap the arguments (the changelog reads forward)"
        )
    old_lineage = table.lineage_at(from_gen)
    new_lineage = table.lineage_at(to_gen)
    schema = table.schema()
    names = [f.name for f in schema.fields]
    sel = list(columns) if columns is not None else names
    missing = [c for c in sel if c not in names]
    if missing:
        raise ConfigException(f"diff columns not in table schema: {missing}")
    if change_col in sel:
        raise ConfigException(
            f"change_col {change_col!r} collides with a diffed table column; "
            "pass a different change_col"
        )
    fields = {f.name: f.dataType for f in schema.fields}
    maps = [c for c in sel if isinstance(fields[c], T.MapType)]
    if maps:
        raise ConfigException(
            f"diff_job: map columns {maps} are not comparable in Spark's "
            "exceptAll; pass columns= excluding them"
        )
    removed = set(old_lineage) - set(new_lineage)
    added = set(new_lineage) - set(old_lineage)
    # merge-on-read mutations change a part's delete vector in place (same
    # part id, same bytes): decode those parts on BOTH sides, each under
    # its own generation's vector -- unchanged rows cancel in exceptAll,
    # newly vectored rows surface as deletes. Each side also applies its
    # generation's vector to its exclusive parts (a part removed by a
    # rewrite may have carried a vector at from_gen; re-reporting rows it
    # had already deleted would be wrong).
    old_dv = table.part_dv(gen=from_gen)
    new_dv = table.part_dv(gen=to_gen)
    dv_changed = {
        p
        for p in set(old_lineage) & set(new_lineage)
        if old_dv.get(p) != new_dv.get(p)
    }

    def _rows(parts: set[int], dv: dict) -> DataFrame:
        if not parts:
            return spark.createDataFrame([], _prune(schema, sel))
        return decode_table_scan(spark, table, columns=sel, parts=parts, dv=dv)

    def _prune(s: T.StructType, cols: list[str]) -> T.StructType:
        return T.StructType([f for f in s.fields if f.name in cols])

    old_rows = _rows(removed | dv_changed, old_dv)
    new_rows = _rows(added | dv_changed, new_dv)
    return new_rows.exceptAll(old_rows).withColumn(
        change_col, F.lit("insert")
    ).unionAll(
        old_rows.exceptAll(new_rows).withColumn(change_col, F.lit("delete"))
    )


def vacuum_job(
    table_path: str,
    dry_run: bool = False,
    stale_after_s: float | None = None,
    expire_older_than: float | str | None = None,
) -> dict:
    """Maintenance cleanup (the remove-orphan-files + expire-snapshots
    analogue of Iceberg's maintenance actions): delete part dirs no
    RETAINED generation's lineage claims (leftovers of killed pre-commit
    waves, and data of expired snapshots), stale ``.staging-*`` dirs both
    inside and beside the table, and lineage-shard dirs of generations past
    the ``snapshot-retention`` window. Committed data of the current and
    retained generations is NEVER touched -- readers ignore everything
    vacuum removes, so this only reclaims space.

    ``expire_older_than`` (epoch seconds or ISO-8601; Iceberg's
    ``expire_snapshots(older_than=...)``) additionally expires retained
    generations whose commit wall clock is BEFORE the cutoff -- the
    current generation and tagged ones are always kept, and a generation
    whose flip predates commit timestamps (no ``gen-ts`` entry) is kept
    fail-safe: an undatable snapshot is never silently deleted.

    Returns {"orphan_parts": [...], "staging_dirs": n, "stale_shard_dirs": n,
    "expired_generations": [...]}; ``dry_run`` reports without deleting."""
    import glob as _glob
    import os
    import re
    import shutil

    table = EncodedTable(table_path)

    # live = every part id any RETAINED generation still references: with
    # snapshot-retention on, an expired gen's exclusive parts become
    # sweepable here while parts shared with retained gens stay.
    # FAIL-SAFE, not fail-open: a retained generation whose lineage can't
    # be read must ABORT the sweep -- treating it as contributing zero
    # live ids would classify that generation's committed data as orphans
    # and delete it. One retry absorbs a rewrite flipping mid-computation.
    expired_report: list[int] = []
    cutoff = None
    if expire_older_than is not None:
        # parsed OUTSIDE the retry below: a malformed cutoff is user error
        # and must fail with its own message, not the concurrent-rewrite one
        from .sources.tables import parse_ts

        cutoff = parse_ts(expire_older_than)

    def _live_ids() -> tuple[set, set, int]:
        expired_report.clear()  # the retry path recomputes from scratch
        gens = set(table.retained_generations())
        cur = table._core_manifest().get("parts_gen", 0)
        if cur not in gens:
            # a writer flipped between the two manifest reads above: the
            # expiry filter below could otherwise drop EVERY generation
            # (cur moved past the stale retained set), emptying `live`
            # and classifying the whole table as orphans. Abort into the
            # caller's retry instead.
            raise ConfigException(
                f"generation flipped mid-plan ({sorted(gens)} vs current "
                f"{cur})"
            )
        if cutoff is not None:
            rec = table.gen_timestamps()
            keep = {cur} | table.tagged_generations()
            dropped = {
                g for g in gens
                if g not in keep and g in rec and rec[g] < cutoff
            }
            gens -= dropped
            gens.add(cur)  # belt and braces: the live table never expires
            expired_report.extend(sorted(dropped))
        ids: set[int] = set()
        for g in sorted(gens):
            ids |= set(table.lineage_at(g))  # raises if a shard dir is gone
        return gens, ids, cur

    try:
        retained, live, cur_gen = _live_ids()
    except ConfigException:
        try:
            retained, live, cur_gen = _live_ids()
        except ConfigException as e:
            raise ConfigException(
                f"vacuum aborted: a retained generation's lineage is "
                f"unreadable ({e}); nothing was deleted -- retry once the "
                "concurrent rewrite settles"
            ) from e
    if cur_gen > 0 and not live and not os.path.isdir(table.parts_dir):
        # a table with committed history whose CURRENT shard dir is gone is
        # damaged, not empty: sweeping "orphans" now would delete whatever
        # data is left. Refuse loudly.
        raise ConfigException(
            f"vacuum aborted: {table_path} records generation {cur_gen} but "
            "its lineage dir is missing; refusing to treat committed parts "
            "as orphans"
        )
    report = {
        "orphan_parts": [],
        "staging_dirs": 0,
        "stale_shard_dirs": 0,
        "expired_generations": expired_report,
    }
    if os.path.isdir(table.data_dir):
        for name in os.listdir(table.data_dir):
            if not name.startswith("part_id="):
                continue
            pid = int(name.split("=", 1)[1])
            if pid not in live:
                report["orphan_parts"].append(pid)
                if not dry_run:
                    shutil.rmtree(os.path.join(table.data_dir, name), ignore_errors=True)
    from .sources.tables import STAGING_STALE_S, staging_is_live

    if stale_after_s is None:
        stale_after_s = STAGING_STALE_S
    report["live_staging_skipped"] = 0
    for name in os.listdir(table.path):
        stale_staging = name.startswith(".staging-")
        m = re.fullmatch(r"parts-(\d+)", name)
        stale_gen = m is not None and int(m.group(1)) not in retained
        if stale_staging:
            # never sweep a LIVE writer's staging from under it (ADVICE r3):
            # a concurrent vacuum must not fail an in-flight commit
            if staging_is_live(os.path.join(table.path, name), stale_after_s):
                report["live_staging_skipped"] += 1
                continue
            report["staging_dirs"] += 1
        elif stale_gen:
            # parts-<g> ABOVE the current pointer is an in-flight rewrite's
            # next-generation build, not an expired snapshot: gutting it
            # mid-build would commit a generation missing its hard-linked
            # shards (the builder's makedirs silently recreates the dir).
            # Builders drop a .writer-lock; honor it like staging liveness.
            if int(m.group(1)) > cur_gen and staging_is_live(
                os.path.join(table.path, name), stale_after_s
            ):
                report["live_staging_skipped"] += 1
                continue
            report["stale_shard_dirs"] += 1
        else:
            continue
        if not dry_run:
            shutil.rmtree(os.path.join(table.path, name), ignore_errors=True)
    for stale in _glob.glob(f"{table.path.rstrip('/')}.staging-*"):
        if staging_is_live(stale, stale_after_s):
            report["live_staging_skipped"] += 1
            continue
        report["staging_dirs"] += 1
        if not dry_run:
            shutil.rmtree(stale, ignore_errors=True)
    report["orphan_parts"].sort()
    if not dry_run and (
        report["orphan_parts"] or report["staging_dirs"] or report["stale_shard_dirs"]
    ):
        # space was reclaimed: record it like every other state change
        # (dry runs and no-op sweeps stay out of the history)
        table.log_op("vacuum", dict(report))
    return report


def table_stats(spark: SparkSession, table_path: str) -> DataFrame:
    """ANALYZE-style per-column stats from chunk metadata only: rows, null
    count, and the zone-map [min, max] aggregated across chunks -- the
    payload column is never read (parquet column pruning), so this costs
    metadata IO regardless of table size.

    zmin/zmax are exact for integer columns (every non-all-null chunk
    records a zone); NULL for types whose zones are absent or non-numeric.
    The numbers a cost-based planner would want from a catalog.

    Rows/nulls are the PHYSICAL stored counts -- like Parquet footer
    statistics, they include rows masked by merge-on-read delete vectors
    until compaction materializes them (exact live counts: count_job)."""
    table = EncodedTable(table_path)
    enc = table.read_encoded(spark).select("col", "n", "meta")
    aliases = table.stored_aliases()
    if aliases:
        # pre-rename parts store historical spellings: fold them into the
        # current logical name so one column reports as one row
        mapping = F.create_map(*[F.lit(x) for kv in aliases.items() for x in kv])
        enc = enc.withColumn(
            "col", F.coalesce(mapping[F.col("col")], F.col("col"))
        )
    parsed = enc.select(
        "col",
        F.col("n").cast("long").alias("n"),
        F.get_json_object("meta", "$.z").cast("long").alias("z"),
        F.get_json_object("meta", "$.mm[0]").try_cast("long").alias("zmin_c"),
        F.get_json_object("meta", "$.mm[1]").try_cast("long").alias("zmax_c"),
    )
    return (
        parsed.groupBy("col")
        .agg(
            F.sum("n").alias("rows"),
            F.sum("z").alias("nulls"),
            F.min("zmin_c").alias("zmin_long"),
            F.max("zmax_c").alias("zmax_long"),
        )
        .orderBy("col")
    )


def table_metrics(table: EncodedTable) -> dict:
    lin = table.lineage()
    return {
        "parts": len(lin),
        "rows": sum(v["rows"] for v in lin.values()),
        "raw_bytes": sum(v["raw_bytes"] for v in lin.values()),
        "enc_bytes": sum(v["enc_bytes"] for v in lin.values()),
    }
