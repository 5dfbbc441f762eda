"""Decode operator: encoded-chunk rows -> original DataFrame, bit-identical.

The inverse data path; correctness contract mirrors the reference's
round-trip tests, which read the written file back with a *different* reader
and assert cell-by-cell equality against the input (reference
TestS3ParquetOutputPlugin.scala:61-83, EmbulkPluginTestHelper.scala:222-245).
Chunks are reassembled by (part_id, chunk_seq) via ``applyInArrow``; each
column decodes through the codec registry using its recorded meta.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..codecs import decode_array, meta_from_json


def decode_chunks(
    encoded: DataFrame,
    out_schema: T.StructType,
    columns: list[str] | None = None,
    aliases: dict[str, str] | None = None,
    dv: dict | None = None,
    fillable: frozenset | set | None = None,
) -> DataFrame:
    """Group encoded rows by chunk and rebuild original rows.

    ``columns`` prunes the decode to a projection: the filter on the chunk
    table's ``col`` column pushes down to the parquet scan, so unrequested
    columns' payloads are never read -- the encoded format's equivalent of
    columnar projection pushdown. ``aliases`` maps historical stored
    chunk-column names to logical (EncodedTable.stored_aliases,
    rename_column): parts committed before a rename keep the old spelling
    on disk. ``dv`` is EncodedTable.part_dv(): merge-on-read-deleted
    positions are filtered out of every rebuilt chunk. ``fillable``
    (EncodedTable.added_columns) names columns that legitimately have no
    stored chunks in parts committed before their ADD COLUMN -- they
    rebuild as nulls; a chunk missing for any OTHER column still fails
    loudly (that's corruption, not evolution)."""
    aliases = aliases or {}
    dv = dv or {}
    fillable = frozenset(fillable or ())
    full_fields = list(out_schema.fields)
    if columns is not None:
        missing = set(columns) - {f.name for f in out_schema.fields}
        if missing:
            raise ValueError(f"unknown columns: {sorted(missing)}")
        out_schema = T.StructType([f for f in out_schema.fields if f.name in columns])
        from pyspark.sql import functions as F

        want = set(columns)
        spellings = want | {s for s, l in aliases.items() if l in want}
        if want and want <= fillable:
            # projection of ONLY post-ADD columns: pre-addition parts have
            # no chunks for any requested column, so keep one stored anchor
            # column in the scan purely to carry each chunk's row count
            anchor = next(
                (f.name for f in full_fields if f.name not in fillable), None
            )
            if anchor is not None:
                spellings |= {anchor} | {
                    s for s, l in aliases.items() if l == anchor
                }
        encoded = encoded.filter(F.col("col").isin(sorted(spellings)))
    arrow_schema = to_arrow_schema(out_schema)
    names = [f.name for f in out_schema.fields]

    def dec(table: pa.Table) -> pa.Table:
        from ..sources.chunkscan import dv_masks

        metas = table.column("meta").to_pylist()
        cols = table.column("col").to_pylist()
        payloads = table.column("payload").to_pylist()
        by_name = {}
        for c, m, p in zip(cols, metas, payloads):
            by_name[aliases.get(c, c)] = decode_array(p, meta_from_json(m))
        n_rows = len(next(iter(by_name.values())))
        arrays = []
        for name, field in zip(names, arrow_schema):
            arr = by_name.get(name)
            if arr is None:
                if name in fillable:  # part predates this column's ADD
                    arrays.append(pa.nulls(n_rows, type=field.type))
                    continue
                raise KeyError(name)
            if arr.type != field.type:
                arr = arr.cast(field.type)
            arrays.append(arr)
        out = pa.table(dict(zip(names, arrays)), schema=arrow_schema)
        if dv:  # the group key columns identify this chunk's vector
            pid = table.column("part_id")[0].as_py()
            seq = table.column("chunk_seq")[0].as_py()
            keep = dv_masks(dv.get(int(pid))).get(int(seq))
            if keep is not None:
                out = out.filter(pa.array(keep[: out.num_rows]))
        return out

    return encoded.groupBy("part_id", "chunk_seq").applyInArrow(dec, schema=out_schema)


def _prune_schema(
    out_schema: T.StructType, columns: list[str] | None
) -> T.StructType:
    if columns is None:
        return out_schema
    missing = set(columns) - {f.name for f in out_schema.fields}
    if missing:
        raise ValueError(f"unknown columns: {sorted(missing)}")
    return T.StructType([f for f in out_schema.fields if f.name in columns])


SCAN_COUNTER_KEYS = ("chunks_total", "chunks_skipped", "rg_total", "rg_read")


def scan_counters(spark) -> dict:
    """Accumulators for decode_table_scan observability: pass the returned
    dict as ``counters=`` and read ``counters[k].value`` after an action to
    see how many chunks / payload row groups the scan actually skipped --
    the per-job visibility a 100-TB operator needs to confirm zone maps and
    projections are biting (pyreader exposes the same numbers via
    ``scan_stats``).

    Under sub-part slicing (parts < cores), rg_read counts READS: a row
    group straddling two slices' chunk ranges is read by both tasks, so
    rg_read can slightly exceed rg_total. chunks_total/chunks_skipped/
    rg_total stay file-level (recorded once per file by slice 0)."""
    return {k: spark.sparkContext.accumulator(0) for k in SCAN_COUNTER_KEYS}


def pack_units(
    weights: list[int], cores: int, max_split_bytes: int, open_cost: int
) -> list[list[int]]:
    """Each task's unit indexes (ascending). A unit weighs its bytes plus
    ``open_cost``; the task count is Spark's file-split rule
    (``FilePartition.maxSplitBytes``, bytes per core rounded up so a small
    table gets at most ``cores`` tasks):

        maxSplit = min(maxPartitionBytes, max(openCost, ceil(total / cores)))
        n = min(units, 2 * cores, ceil(total / maxSplit))

    Units go largest first to the least-loaded task, ties to the lower
    index: deterministic, and no task carries more than the mean plus the
    largest unit."""
    import heapq

    if not weights:
        return []
    w = [max(int(x), 0) + open_cost for x in weights]
    total = sum(w)
    max_split = min(max_split_bytes, max(open_cost, -(-total // cores)))
    n = max(1, min(len(w), 2 * cores, -(-total // max(max_split, 1))))
    tasks: list[list[int]] = [[] for _ in range(n)]
    heap = [(0, t) for t in range(n)]
    for i in sorted(range(len(w)), key=lambda i: (-w[i], i)):
        load, t = heapq.heappop(heap)
        tasks[t].append(i)
        heapq.heappush(heap, (load + w[i], t))
    return [sorted(t) for t in tasks]


def map_units(
    spark, units: list, weights: list[int], fn, schema, arrow: bool = False
) -> DataFrame:
    """Run ``fn`` -- one task's units in, output batches out (Arrow record
    batches with ``arrow``, else pandas frames) -- as a Python pass over
    ``units`` (JSON-able: part dirs, sub-part slices, ...) packed into tasks
    by :func:`pack_units` under the session's ``spark.sql.files`` split
    sizes. The pass maps over ``spark.range(n, numPartitions=n)``: no
    Exchange, no Python stage of its own (Python tasks pay a fixed start-up
    each), one task per packed task. Each task's units ride in the closure
    as one JSON string, so the plan stays small and a task parses only its
    own."""
    import json

    conf = spark._jsparkSession.sessionState().conf()
    tasks = [
        json.dumps([units[i] for i in t])
        for t in pack_units(
            weights,
            spark.sparkContext.defaultParallelism,
            int(conf.filesMaxPartitionBytes()),
            int(conf.filesOpenCostInBytes()),
        )
    ]

    def task_units(it):
        for b in it:
            for i in b.column(0).to_pylist() if arrow else b["id"]:
                yield from json.loads(tasks[int(i)])

    def run(it):
        yield from fn(task_units(it))

    frame = spark.range(len(tasks), numPartitions=len(tasks))
    return frame.mapInArrow(run, schema) if arrow else frame.mapInPandas(run, schema)


def part_slices(
    pids: list[int], lineage: dict[int, dict], cores: int
) -> list[tuple[int, int, int, int]]:
    """``(pid, slice_i, n_slices, weight)`` units of a part scan. With fewer
    parts than cores (small tables, or a heavily part-pruned scan) each
    part's chunk list splits into contiguous slices so parallelism tracks
    the cluster; a slice re-reads only the tiny metadata columns, then just
    the payload row groups its own chunks admit. A slice weighs its share
    of the part's lineage ``enc_bytes``; a part with no row in ``lineage``
    (another generation's, in snapshot and diff reads) weighs nothing."""
    n = max(1, min(-(-cores // len(pids)), 16)) if len(pids) < cores else 1
    return [
        (p, i, n, int(lineage.get(p, {}).get("enc_bytes", 0)) // n)
        for p in pids
        for i in range(n)
    ]


def decode_table_scan(
    spark,
    table,
    columns: list[str] | None = None,
    where: tuple | None = None,
    counters: dict | None = None,
    parts: set[int] | None = None,
    sample: tuple[float, int] | None = None,
    dv: dict | None = None,
) -> DataFrame:
    """Shuffle-free decode of a committed EncodedTable.

    ``decode_chunks`` re-shuffles every encoded payload through a
    groupBy(part_id, chunk_seq) even though encode_job already co-located
    each part's chunks in one parquet dir. This path instead distributes the
    committed part *dirs* (tiny strings) and lets each task read + decode its
    parts with pyarrow directly -- the ``sources/pyreader.py`` logic run
    Spark-side. No Exchange at all; file listing happens in the tasks, not
    on the driver. The parts (or, with fewer parts than cores, sub-part
    slices) are packed into tasks by their lineage ``enc_bytes``
    (:func:`map_units`): at most cores tasks for a small table, up to
    2 x cores once it outgrows ``spark.sql.files.maxPartitionBytes`` per
    core.

    ``where=(col, op, literal)`` or a list of such conjuncts (ANDed; op in
    ==, >=, <=, >, <, in, startswith, isnull, notnull -- the last two take
    literal None and prune on per-chunk null counts) enables zone-map chunk
    skipping with REAL payload-IO pruning: the shared scanner (sources/chunkscan.py) first reads only the
    chunk metadata columns, then fetches payload bytes solely from parquet
    row groups that hold a wanted column AND a surviving chunk -- excluded
    chunks' payloads are never read from disk. The filter column must be in
    the projection; the result contains rows that MAY match (callers apply
    the exact filter on the decoded frame, which is what a query does
    anyway)."""
    import glob
    import os
    from collections.abc import Iterator

    from ..sources.chunkscan import normalize_where
    from ..sources.tables import SHARD_SIZE

    out_schema = _prune_schema(table.schema(), columns)
    arrow_schema = to_arrow_schema(out_schema)
    names = [f.name for f in out_schema.fields]
    fields = [(f.name, f.type) for f in arrow_schema]
    conjuncts = normalize_where(where, names)  # fail fast on the driver
    # schema-evolution columns read as nulls in parts predating add_column
    fillable = frozenset(table.added_columns()) & set(names)
    # pre-rename parts' stored chunk names translate to current logical
    aliases = table.stored_aliases()
    # merge-on-read delete vectors: mask deleted positions per chunk.
    # None = current generation's vectors; callers reading a SNAPSHOT pass
    # table.part_dv(gen=...) explicitly
    if dv is None:
        dv = table.part_dv()

    # driver-side part pruning from the lineage zone summaries: excluded
    # parts never even get a task (at 10^6 parts the scheduler, not the
    # IO, would otherwise be the bottleneck of a selective query).
    # ``parts`` restricts to an EXPLICIT part set instead (delete_job's
    # full rewrite decode of zone-admitted parts: every row, no pruning).
    # The lineage rows read here also weigh the parts for task packing.
    if parts is not None:
        pids = sorted(parts)
        lineage = table.lineage_shards({p // SHARD_SIZE for p in pids})
    else:
        lineage = table.lineage()
        pids = sorted(
            table.surviving_parts(conjuncts, spark=spark) if conjuncts else lineage
        )
    if not pids and (parts is not None or lineage):
        # every part provably excluded: empty frame, no job at all
        return spark.createDataFrame([], out_schema)
    if not pids:
        from ..plans.policy import ConfigException

        raise ConfigException(f"table {table.path} has no committed partitions")
    slices = part_slices(pids, lineage, spark.sparkContext.defaultParallelism)
    units = [
        (os.path.join(table.data_dir, f"part_id={p}"), i, n, dv.get(p) or None)
        for p, i, n, _ in slices
    ]

    def dec(units: Iterator[list]) -> Iterator[pa.RecordBatch]:
        from ..sources.chunkscan import iter_part_tables

        for d, slice_i, n_slices, part_dv in units:
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            if not files:
                raise FileNotFoundError(f"committed part missing: {d}")
            st: dict | None = {} if counters is not None else None
            sl = (slice_i, n_slices) if n_slices > 1 else None
            for tbl in iter_part_tables(
                files, fields, conjuncts, st, slice_of=sl,
                fillable=fillable, aliases=aliases, sample=sample,
                dv=part_dv,
            ):
                yield from tbl.to_batches()
            if counters is not None:
                for k, acc in counters.items():
                    acc.add(st.get(k, 0))

    weights = [w for *_, w in slices]
    return map_units(spark, units, weights, dec, out_schema, arrow=True)


def decode_inline(encoded: DataFrame, out_schema: T.StructType) -> DataFrame:
    """Shuffle-free decode of task-local encoded chunks.

    Valid whenever every chunk's column rows live in ONE input partition in
    emission order (true for ``encode_map``/``encode_local`` output that has
    not been re-shuffled): a mapInArrow pass buffers rows per
    (part_id, chunk_seq) until all columns arrived, then decodes -- no
    groupBy exchange. For arbitrary layouts use ``decode_chunks``."""
    from collections.abc import Iterator

    arrow_schema = to_arrow_schema(out_schema)
    names = [f.name for f in out_schema.fields]
    want = set(names)

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: dict[tuple[int, int], dict[str, tuple]] = {}
        for b in batches:
            # columnar access: to_pylist() copied every payload into Python
            # bytes for the whole batch up front (round-3 VERDICT #6); the
            # per-cell .as_py() below copies one payload exactly when its
            # chunk completes, same as chunkscan's payload pass
            b_part = b.column(b.schema.get_field_index("part_id"))
            b_seq = b.column(b.schema.get_field_index("chunk_seq"))
            b_col = b.column(b.schema.get_field_index("col"))
            b_meta = b.column(b.schema.get_field_index("meta"))
            b_payload = b.column(b.schema.get_field_index("payload"))
            for i in range(b.num_rows):
                cname = b_col[i].as_py()
                if cname not in want:
                    continue
                key = (b_part[i].as_py(), b_seq[i].as_py())
                cols = pending.setdefault(key, {})
                cols[cname] = (b_payload[i], b_meta[i].as_py())
                if len(cols) == len(names):
                    del pending[key]
                    arrays = []
                    for name, field in zip(names, arrow_schema):
                        payload, meta = cols[name]
                        arr = decode_array(payload.as_py(), meta_from_json(meta))
                        if arr.type != field.type:
                            arr = arr.cast(field.type)
                        arrays.append(arr)
                    yield from pa.table(
                        dict(zip(names, arrays)), schema=arrow_schema
                    ).to_batches()
        if pending:
            raise ValueError(
                f"incomplete chunks in partition (not task-local layout?): "
                f"{sorted(pending)[:5]}"
            )

    return encoded.mapInArrow(dec, schema=out_schema)


def roundtrip_direct(
    spark,
    parquet_path: str,
    policy=None,
    n_target_tasks: int | None = None,
) -> DataFrame:
    """encode -> decode round-trip of a parquet-backed table with
    executor-side pyarrow scans (r6).

    ``roundtrip`` ships every raw byte JVM->Python over the Arrow IPC
    socket before the kernels see it; measured at sf1.0 that input hop +
    the JVM columnar->row->Arrow transpose is ~60% of rt_lineitem's wall
    (bench_extra.py: scan 0.66 s vs scan+passthrough-IPC 3.68 s). Here
    only (file, row-group, slice) strings are distributed; each task reads
    its row groups with pyarrow, runs the chunk kernels, decodes the
    chunks back, and yields ORIGINAL rows -- the decoded output is the
    only payload that ever crosses to the JVM. Values are bit-identical
    to ``roundtrip(spark.read.parquet(path), policy)`` (same kernels, same
    chunking) -- asserted by test_e2e_roundtrip and the rt_* oracles.

    The encode runs with ``checksum=False`` and one codec selection per
    (task, column): nothing consumes the commit-manifest sha or per-8-chunk
    reselection in an in-memory round-trip (see _encode_slices).

    Row groups are sub-sliced toward ``n_target_tasks`` (default
    defaultParallelism) so a file with few large row groups still fans out
    across cores; a slice re-decompresses its row group, which is why
    slices never go finer than needed."""
    from ..operators.encode import (
        _effective_chunk_rows,
        _encode_slices,
        _resolve_policy,
    )
    from ..plans.policy import CodecPolicy

    policy = policy or CodecPolicy()
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    if _os.path.isdir(parquet_path):
        files = sorted(
            p
            for p in _glob.glob(_os.path.join(parquet_path, "*"))
            if _os.path.isfile(p) and not _os.path.basename(p).startswith(("_", "."))
        )
    else:
        files = [parquet_path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {parquet_path}")
    n_target = n_target_tasks or spark.sparkContext.defaultParallelism
    rgs: list[tuple[str, int, int]] = []  # (file, rg, rows)
    total_rows = 0
    for f in files:
        md = _pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            r = md.row_group(rg).num_rows
            rgs.append((f, rg, r))
            total_rows += r
    splits: list[tuple[str, int, int, int]] = []  # (file, rg, slice_i, n_slices)
    for f, rg, r in rgs:
        k = max(1, round(n_target * r / max(total_rows, 1)))
        for i in range(k):
            splits.append((f, rg, i, k))
    schema = from_arrow_schema(
        _pq.ParquetFile(files[0]).schema_arrow, prefer_timestamp_ntz=True
    )
    policy.validate(schema)
    colmap = _resolve_policy(schema, policy)
    arrow_schema = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]
    chunk_rows = policy.chunk_rows
    ncols = len(colmap)
    rows = [(i, f, rg, si, ns) for i, (f, rg, si, ns) in enumerate(splits)]
    n_tasks = min(len(rows), spark.sparkContext.defaultParallelism)
    split_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_tasks),
        "part_id long, file string, rg int, slice_i int, n_slices int",
    )

    def rt(batches):
        from ..codecs import decode_array, meta_from_json

        sticky: dict = {}
        pfs: dict = {}
        for b in batches:
            for part_id, fname, rg, si, ns in zip(
                b.column(0).to_pylist(),
                b.column(1).to_pylist(),
                b.column(2).to_pylist(),
                b.column(3).to_pylist(),
                b.column(4).to_pylist(),
            ):
                pf = pfs.get(fname)
                if pf is None:
                    pf = pfs[fname] = _pq.ParquetFile(fname)
                t = pf.read_row_group(rg, use_threads=False)
                if ns > 1:
                    per = -(-t.num_rows // ns)
                    t = t.slice(si * per, per)
                if t.num_rows == 0:
                    continue
                eff = _effective_chunk_rows(t, chunk_rows, policy.chunk_bytes)
                enc = _encode_slices(
                    int(part_id), t, colmap, eff, sticky=sticky,
                    checksum=False, reselect_every=1 << 30,
                )
                metas = enc.column("meta").to_pylist()
                cols = enc.column("col").to_pylist()
                payloads = enc.column("payload")
                for off in range(0, enc.num_rows, ncols):
                    by = {
                        cols[j]: decode_array(
                            payloads[j].as_py(), meta_from_json(metas[j])
                        )
                        for j in range(off, off + ncols)
                    }
                    arrays = []
                    for nm, fld in zip(names, arrow_schema):
                        arr = by[nm]
                        if arr.type != fld.type:
                            arr = arr.cast(fld.type)
                        arrays.append(arr)
                    yield from pa.table(
                        dict(zip(names, arrays)), schema=arrow_schema
                    ).to_batches()

    return split_df.mapInArrow(rt, schema=schema)


def roundtrip(df: DataFrame, policy=None) -> DataFrame:
    """encode -> decode in one plan (no table IO); used by correctness
    queries: the driver's oracle compares this against ``SELECT *``.
    encode_map emits each chunk's column rows task-locally, so the decode
    side is the shuffle-free ``decode_inline`` -- the whole round-trip is one
    narrow pipeline."""
    from ..plans.policy import CodecPolicy
    from .encode import encode_map

    policy = policy or CodecPolicy()
    encoded = encode_map(df, policy)
    return decode_inline(encoded, df.schema)
