"""Encode operator: DataFrame -> encoded-chunk rows, fully vectorized.

The Spark replacement for the reference's per-task data path
``open() -> add(page)* -> commit()`` (reference S3ParquetPageOutput.scala:
24-67): instead of a row-at-a-time visitor into parquet-mr column writers
(ParquetFileWriteSupport.scala:155-185), each task receives Arrow batches
and runs the engine's numpy/pyarrow codec kernels per column chunk -- no
per-row Python anywhere.

Two entry points sharing one kernel:

* ``encode_grouped``   -- one task per planned ``part_id`` via
  ``groupBy(part_id).applyInArrow``, which writes the whole part (rows mode
  and z-order; a group is ~target_partition_bytes, the analogue of the
  reference's one-file-per-task).
* ``encode_map``       -- shuffle-free ``mapInArrow`` using the physical
  partition id (for in-memory round-trips and benchmarks).

Every table-writing path ends in ``write_part``: the task that holds a whole
part writes its chunk file and returns its lineage row (``stage_parts``
after ``encode_local``'s chunk shuffle; ``encode_grouped`` and ``stage=`` on
``encode_direct``, whose tasks already hold whole parts).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..codecs import encode_array, meta_to_json
from ..plans.policy import CodecPolicy
from ..sources.chunkscan import merge_sum, merge_zone, summable

ENCODED_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.LongType(), False),
        T.StructField("chunk_seq", T.LongType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("meta", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("payload_sha", T.StringType(), False),
    ]
)

_ENC_ARROW = pa.schema(
    [
        ("part_id", pa.int64()),
        ("chunk_seq", pa.int64()),
        ("col", pa.string()),
        ("codec", pa.string()),
        ("n", pa.int32()),
        ("meta", pa.string()),
        ("payload", pa.binary()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("payload_sha", pa.string()),
    ]
)


# Part files are laid out for the two-pass pruning scan
# (sources/chunkscan.py): rows sorted by (col, chunk_seq) make parquet
# row-group min/max stats on those two columns tight, so a projected or
# zone-filtered read skips whole row groups' payload BYTES -- not just their
# decode CPU. Row groups are kept small (4 MiB vs the 128 MiB default) so a
# skipped column/chunk range actually maps to skippable row groups; the
# footer overhead at 64 MiB parts is noise.
_CHUNK_ROW_GROUP_BYTES = 4 * 1024 * 1024
# one file per part dir under a DETERMINISTIC name: a retried or
# speculative writer replaces it instead of adding a second file
PART_FILE = "part-00000.parquet"
STAGED_SCHEMA = "part_id long, lineage string"
_STAGED_ARROW = pa.schema([("part_id", pa.int64()), ("lineage", pa.string())])


def manifest_sha(seqs, cols, shas) -> str:
    """A part's order-canonical sha256 chunk manifest: payload shas
    concatenated in (chunk_seq, col) order. Shared by the writers
    (:func:`lineage_row_from_chunks`) and the auditor (``verify_table``),
    so the two can never drift."""
    return hashlib.sha256(
        "".join(s for _, _, s in sorted(zip(seqs, cols, shas))).encode()
    ).hexdigest()


def files_manifest_sha(files) -> str | None:
    """:func:`manifest_sha` of the chunk rows stored in a part's files,
    reading only ``chunk_seq``, ``col`` and ``payload_sha``; None when they
    hold no chunk rows."""
    import pyarrow.parquet as pq

    keys = ["chunk_seq", "col", "payload_sha"]
    ts = [pq.read_table(f, columns=keys) for f in files]
    seqs, cols, shas = ([v for t in ts for v in t.column(k).to_pylist()] for k in keys)
    return manifest_sha(seqs, cols, shas) if seqs else None


def lineage_row_from_chunks(
    seqs, cols, metas_json, shas, raw_bytes, enc_bytes, ns, first_col: str
) -> dict:
    """Build one part's lineage row (rows/chunks/bytes, order-canonical
    sha256 chunk manifest, per-column zone summaries) from parallel chunk
    metadata sequences. The ONE canonicalization: every table-writing path
    builds its rows through :func:`write_part`."""
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
        if e["sm"] is None and e["z"] >= e["n"] and summable(e["t"]):
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
    from ..codecs import bloom as _bloom

    for col, bfs in chunk_bfs.items():
        src = part_bfs.get(col) or bfs
        merged = _bloom.merge_groups(src)
        budget = _bloom.PART_BF_MAX_BYTES
        if merged is not None and sum(g["m"] // 8 for g in merged) <= budget:
            zones[col]["bf"] = merged[0] if len(merged) == 1 else merged
    # part-level NDV sketch: register-wise union of the call-level "phl"
    # sketches (an all-null call records none and contributes no values,
    # so merging whatever is present is exact for the part's support)
    from ..codecs import hll as _hll

    for col, hls in part_hlls.items():
        merged_hl = _hll.merge(hls)
        if merged_hl is not None and col in zones:
            zones[col]["hl"] = merged_hl
    return {
        "rows": rows,
        "chunks": len(set(seqs)),
        "raw_bytes": int(sum(raw_bytes)),
        "enc_bytes": int(sum(enc_bytes)),
        "sha256_manifest": manifest_sha(seqs, cols, shas),
        "codecs": sorted(codecs),
        "zones": zones,
    }


def write_part(staging: str, pid: int, enc: pa.Table, first_col: str) -> dict:
    """Write one part's encoded chunks (``_ENC_ARROW``) to
    ``<staging>/part_id=<pid>/`` and return its lineage row: the task that
    holds a part writes it (the reference's per-task file + TaskReport,
    S3ParquetPageOutput.scala:61-67). Statistics only on ``col`` and
    ``chunk_seq`` (all ``chunkscan._rg_prunable`` reads), no embedded Arrow
    schema, dictionaries only on the small columns: pyarrow's defaults
    store ~21% more bytes than parquet-mr. The file lands through a temp
    name and ``os.replace``; a failed attempt removes its temp file. Chunks
    already in ``(col, chunk_seq)`` order (``stage_parts`` sorts on the JVM
    side) are written without a second copy of the payload bytes."""
    import os
    import uuid

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    enc = enc.drop_columns(["part_id"])
    order = pc.sort_indices(enc, sort_keys=[("col", "ascending"), ("chunk_seq", "ascending")])
    if not np.array_equal(order.to_numpy(), np.arange(len(order))):
        enc = enc.take(order)
    part_dir = os.path.join(staging, f"part_id={int(pid)}")
    os.makedirs(part_dir, exist_ok=True)
    tmp = os.path.join(part_dir, f".tmp-{uuid.uuid4().hex[:12]}")
    rg_rows = max(1, _CHUNK_ROW_GROUP_BYTES * enc.num_rows // max(enc.nbytes, 1))
    try:
        pq.write_table(
            enc, tmp, row_group_size=rg_rows, compression="none",
            use_dictionary=["col", "codec", "n", "chunk_seq"],
            write_statistics=["col", "chunk_seq"],
            store_schema=False,
        )
        os.replace(tmp, os.path.join(part_dir, PART_FILE))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    cols = ("chunk_seq", "col", "meta", "payload_sha", "raw_bytes", "enc_bytes", "n")
    return lineage_row_from_chunks(*(enc.column(c).to_pylist() for c in cols), first_col)


def _staged_row(pid: int, row: dict) -> pa.RecordBatch:
    import json

    return pa.RecordBatch.from_pydict(
        {"part_id": [int(pid)], "lineage": [json.dumps(row)]}, schema=_STAGED_ARROW
    )


def stage_parts(encoded: DataFrame, staging: str, first_col: str) -> DataFrame:
    """Gather encoded chunks (``ENCODED_SCHEMA``, a part's chunks possibly
    from many tasks) by part and write each part with :func:`write_part`.
    Returns ``STAGED_SCHEMA`` rows, one per part, for the driver to collect:
    no Catalyst writer job and no staging re-read. A task holds one part's
    encoded chunks at a time."""
    import itertools

    import numpy as np

    def slices(batches):  # (part_id, batch slice) runs, in stream order
        for b in batches:
            pids = b.column(0).to_numpy(zero_copy_only=False)
            cuts = np.flatnonzero(pids[1:] != pids[:-1]) + 1
            for s, e in zip([0, *cuts], [*cuts, len(pids)]):
                if e > s:
                    yield int(pids[s]), b.slice(int(s), int(e - s))

    def write(batches):
        for pid, run in itertools.groupby(slices(batches), key=lambda x: x[0]):
            enc = pa.Table.from_batches([b for _, b in run])
            yield _staged_row(pid, write_part(staging, pid, enc, first_col))

    return (
        encoded.repartition("part_id")
        .sortWithinPartitions("part_id", "col", "chunk_seq")
        .mapInArrow(write, schema=STAGED_SCHEMA)
    )


def _resolve_policy(schema: T.StructType, policy: CodecPolicy) -> dict[str, str]:
    return {
        f.name: policy.resolve(f.name, f.dataType)
        for f in schema.fields
        if f.name != "part_id"
    }


_RESELECT_EVERY = 8


def _effective_chunk_rows(table: pa.Table, chunk_rows: int, chunk_bytes: int) -> int:
    """Byte-targeted chunk sizing: rows = chunk_bytes / avg_row_bytes, capped
    by chunk_rows. Fat-row text lands near ~1.3k rows (cache-resident
    chunks encode 1.5x / decode 3x faster at equal compressed size); skinny
    numeric rows keep the cap (per-chunk overhead dominates tiny chunks)."""
    if not chunk_bytes or table.num_rows == 0:
        return chunk_rows
    avg = max(table.nbytes // table.num_rows, 1)
    return max(1, min(chunk_rows, int(chunk_bytes // avg)))


def _encode_slices(
    part_id: int,
    table: pa.Table,
    colmap: dict[str, str],
    chunk_rows: int,
    seq0: int = 0,
    sticky: dict[str, str] | None = None,
    bloom_cols: frozenset[str] = frozenset(),
    ndv_cols: frozenset[str] = frozenset(),
    checksum: bool = True,
    reselect_every: int | None = None,
) -> pa.Table:
    """Encode a table as column chunks.

    ``sticky`` caches the auto-selector's last choice per column across
    chunks (re-sampled every ``reselect_every`` chunks, default
    _RESELECT_EVERY): within a planned partition the data distribution is
    homogeneous (the partitioner groups by lang/repo), so re-running
    sampled trials per chunk pays pure overhead. Pass a fresh dict per
    task.

    ``checksum=False`` skips the per-payload sha256 (r6): the sha exists
    for the COMMIT lineage manifest (verify_table integrity); an in-memory
    round-trip that never commits pays ~0.36 s/M-row for a hash nothing
    reads. Every table-writing path keeps the default True."""
    cols: dict[str, list] = {name: [] for name in _ENC_ARROW.names}
    n_rows = table.num_rows
    # chunk blooms are sized for the CHUNK (~10 bits/row: row-group pruning
    # inside a part scan); the PART-level filter is a separate, ONE-PER-CALL
    # bloom over every row this call covers ("pbf", attached to the first
    # chunk's meta per column). A part union OR-ed from chunk-sized filters
    # holds C*chunk_rows values in chunk_rows*10 bits -- saturated (and
    # density-dropped at commit) for any multi-chunk part with
    # high-cardinality keys, which is exactly the point-lookup case part
    # blooms exist for. The call-level bloom stays at ~10 bits/row; its m
    # is QUANTIZED to a power of two so the batch-sized calls of
    # encode_local / the direct scan land on few distinct geometries
    # (bloom.merge_groups unions per geometry at commit) and CAPPED by the
    # part-bloom byte budget.
    from ..codecs import bloom as _bloom

    bloom_m = max(64, chunk_rows * 10)
    part_m = min(
        1 << max(6, (max(n_rows, 1) * 10).bit_length()),
        _bloom.PART_BF_MAX_BYTES * 8,
    )
    pbf_pending = {
        name: _bloom.build(table.column(name).combine_chunks(), m_bits=part_m)
        for name in bloom_cols
        if name in colmap
    } if n_rows else {}
    # NDV sketches follow the same one-per-call shape ("phl" on the first
    # chunk's meta): commit merges them register-wise into the part row
    from ..codecs import hll as _hll

    phl_pending = {
        name: _hll.build(table.column(name).combine_chunks())
        for name in ndv_cols
        if name in colmap
    } if n_rows else {}
    seq = seq0
    sticky = sticky if sticky is not None else {}
    resel = _RESELECT_EVERY if reselect_every is None else reselect_every
    for off in range(0, max(n_rows, 1), chunk_rows):
        chunk = table.slice(off, chunk_rows)
        if chunk.num_rows == 0 and n_rows > 0:
            break
        for name, codec in colmap.items():
            arr = chunk.column(name)
            use = codec
            if codec == "auto":
                prev, uses, excl = sticky.get(name, (None, 0, frozenset()))
                if prev is not None and uses % resel != 0:
                    use = prev
                payload, meta = encode_array(
                    arr, use, exclude=excl, bloom=name in bloom_cols,
                    bloom_m=bloom_m,
                )
                if use == "auto":
                    # hopeless-loser memo: trial-expensive codecs that lost
                    # decisively never get re-trialed within this task
                    excl = excl | frozenset(meta.get("s", {}).pop("hopeless", []))
                    chosen = meta["c"]
                else:
                    chosen = prev
                sticky[name] = (chosen, uses + 1, excl)
            else:
                payload, meta = encode_array(
                    arr, codec, bloom=name in bloom_cols, bloom_m=bloom_m
                )
            pbf = pbf_pending.pop(name, None)
            if pbf is not None:
                # the call-level part bloom rides the FIRST chunk's meta
                # once per column (not every chunk: a part-sized filter on
                # each chunk would multiply metadata bytes by chunk count)
                meta["pbf"] = pbf
            phl = phl_pending.pop(name, None)
            if phl is not None:
                meta["phl"] = phl
            cols["part_id"].append(part_id)
            cols["chunk_seq"].append(seq)
            cols["col"].append(name)
            cols["codec"].append(meta["c"])
            cols["n"].append(chunk.num_rows)
            cols["meta"].append(meta_to_json(meta))
            cols["payload"].append(payload)
            cols["raw_bytes"].append(arr.nbytes)
            cols["enc_bytes"].append(len(payload))
            cols["payload_sha"].append(
                hashlib.sha256(payload).hexdigest() if checksum else ""
            )
        seq += 1
        if n_rows == 0:
            break
    return pa.table(cols, schema=_ENC_ARROW)


_ZORDER_BITS = 12  # per-column rank resolution: 4096 buckets


def _zorder_take(data: "pa.Table", cols: tuple[str, ...]) -> "pa.Table":
    """Reorder a part's rows along a Z-curve (Morton order) over ``cols``.

    Per column, rows are RANK-normalized within this part (pc.sort_indices
    -> inverse permutation -> bucket in [0, 2^_ZORDER_BITS)) and the bucket
    bits are interleaved into one sort key. Rank normalization is exact,
    needs no global quantiles, works for any orderable arrow type (strings,
    timestamps, decimals; nulls rank last), and is TASK-LOCAL -- no extra
    shuffle or driver pass, which is what lets Z-ordering ride the existing
    encode pipeline at 100 TB. Because the partition planner assigns rows
    to parts content-independently, per-part ranks approximate the global
    distribution, so per-chunk zone maps become tight multi-dimensional
    boxes: range predicates on ANY clustered column skip chunks, where a
    lexicographic sort only tightens the leading column (Iceberg/Delta's
    OPTIMIZE ZORDER rationale)."""
    import numpy as np
    import pyarrow.compute as pc

    n = data.num_rows
    if n <= 1 or not cols:
        return data
    z = np.zeros(n, dtype=np.uint64)
    ncols = len(cols)
    # the interleaved key must fit uint64: numpy shifts of >= 64 silently
    # yield 0, which would drop every column's MOST significant rank bits
    # and degrade the layout to noise -- trade per-column resolution for
    # column count instead (6 cols -> 10 bits each, still 1024 buckets)
    bits = min(_ZORDER_BITS, 64 // ncols)
    if bits == 0:
        raise ValueError(f"zorder supports at most 64 columns, got {ncols}")
    for ci, c in enumerate(cols):
        arr = data[c].combine_chunks()
        order = pc.sort_indices(arr).to_numpy(zero_copy_only=False)
        rank = np.empty(n, dtype=np.uint64)
        rank[order] = np.arange(n, dtype=np.uint64)
        code = (rank * (1 << bits)) // n
        for b in range(bits):
            z |= ((code >> np.uint64(b)) & np.uint64(1)) << np.uint64(
                b * ncols + ci
            )
    perm = np.argsort(z, kind="stable")
    return data.take(pa.array(perm))


def encode_grouped(
    df_with_part: DataFrame,
    policy: CodecPolicy,
    stage: tuple[str, str],
    cluster_by: tuple[str, ...] = (),
    zorder: bool = False,
) -> DataFrame:
    """Encode and write a partition-planned DataFrame (must carry
    ``part_id``), one whole part per ``applyInArrow`` group.

    ``cluster_by`` sorts each part's rows by the named columns before
    slicing into chunks, so those columns' per-chunk zone maps become tight
    disjoint ranges -- the sort-order/clustering-key analogue of Iceberg
    write ordering, bought at one in-memory Arrow sort per part.

    ``stage=(staging, first_col)``: the task already holds the whole part,
    so it writes it (:func:`write_part`) and returns its ``STAGED_SCHEMA``
    row."""

    schema = T.StructType([f for f in df_with_part.schema.fields if f.name != "part_id"])
    policy.validate(schema)
    colmap = _resolve_policy(df_with_part.schema, policy)
    chunk_rows = policy.chunk_rows
    bloom_cols = frozenset(policy.bloom_columns)
    ndv_cols = frozenset(getattr(policy, "ndv_columns", ()) or ())

    def enc(key: tuple, table: pa.Table) -> pa.Table:
        k = key[0]
        part_id = k.as_py() if hasattr(k, "as_py") else int(k)
        data = table.drop_columns(["part_id"])
        if cluster_by and zorder:
            data = _zorder_take(data, cluster_by)
        elif cluster_by:
            data = data.sort_by([(c, "ascending") for c in cluster_by])
        eff = _effective_chunk_rows(data, chunk_rows, policy.chunk_bytes)
        out = _encode_slices(part_id, data, colmap, eff, bloom_cols=bloom_cols, ndv_cols=ndv_cols)
        return pa.Table.from_batches(
            [_staged_row(part_id, write_part(stage[0], part_id, out, stage[1]))]
        )

    return df_with_part.groupBy("part_id").applyInArrow(enc, schema=STAGED_SCHEMA)


def encode_local(
    df_with_part: DataFrame,
    policy: CodecPolicy,
    cluster_by: tuple[str, ...] = (),
) -> DataFrame:
    """Shuffle-free encode of a partition-planned DataFrame.

    ``cluster_by`` extends the task-local sort to (part_id, *cluster_by):
    chunks then cover tight disjoint value ranges of the cluster columns, so
    their zone maps actually exclude chunks under range predicates (an
    unsorted column's zones all span ~the full domain and never skip).

    Instead of shuffling RAW rows to co-locate each planned part
    (``encode_grouped``), rows are sorted by ``part_id`` *within* each scan
    partition and encoded as part-aligned segments -- every chunk still
    belongs to exactly one part_id, but the only thing that ever crosses the
    network afterwards is the encoded chunks (~10x smaller). At 100 TB this
    turns the job's dominant shuffle from raw bytes into compressed bytes;
    on the single-box bench it removes the disk-bound raw shuffle entirely.

    chunk_seq is made globally unique per task via a 2^20 namespace, so a
    part assembled from many tasks never collides."""
    schema = T.StructType([f for f in df_with_part.schema.fields if f.name != "part_id"])
    policy.validate(schema)
    colmap = _resolve_policy(df_with_part.schema, policy)
    chunk_rows = policy.chunk_rows
    bloom_cols = frozenset(policy.bloom_columns)
    ndv_cols = frozenset(getattr(policy, "ndv_columns", ()) or ())

    import numpy as np

    def enc(batches):
        task = TaskContext.get().partitionId()
        base = task << 20
        seq = 0
        sticky: dict[str, str] = {}
        # byte-targeted chunk rows, fixed per task from the first batch so
        # flush() cut points and seq accounting stay consistent
        chunk_rows = policy.chunk_rows
        # per-part accumulation across Arrow batches: a scan partition
        # intersects many planned parts, so without buffering every batch
        # boundary would fragment chunks (measured: 2x chunk count, +4%
        # encoded bytes). Buffered rows are bounded by the scan partition.
        pending: dict[int, list[pa.Table]] = {}
        pending_rows: dict[int, int] = {}

        def flush(pid: int, tail_too: bool):
            nonlocal seq
            table = pa.concat_tables(pending[pid])
            full = (table.num_rows // chunk_rows) * chunk_rows
            cut = table.num_rows if tail_too else full
            if cut:
                out = _encode_slices(
                    pid, table.slice(0, cut), colmap, chunk_rows,
                    seq0=base + seq, sticky=sticky, bloom_cols=bloom_cols, ndv_cols=ndv_cols,
                )
                seq += max(1, -(-cut // chunk_rows))
                rest = table.slice(cut)
                if rest.num_rows:
                    pending[pid] = [rest]
                    pending_rows[pid] = rest.num_rows
                else:
                    del pending[pid], pending_rows[pid]
                return out
            return None

        for batch in batches:
            t = pa.Table.from_batches([batch])
            pids = t.column("part_id").to_numpy(zero_copy_only=False)
            data = t.drop_columns(["part_id"])
            if seq == 0 and not pending:
                chunk_rows = _effective_chunk_rows(
                    data, policy.chunk_rows, policy.chunk_bytes
                )
            bounds = np.concatenate(
                ([0], np.flatnonzero(pids[1:] != pids[:-1]) + 1, [len(pids)])
            )
            for s, e in zip(bounds[:-1], bounds[1:]):
                pid = int(pids[s])
                pending.setdefault(pid, []).append(data.slice(int(s), int(e - s)))
                pending_rows[pid] = pending_rows.get(pid, 0) + int(e - s)
                if pending_rows[pid] >= chunk_rows:
                    out = flush(pid, tail_too=False)
                    if out is not None:
                        yield from out.to_batches()
        for pid in sorted(pending):
            out = flush(pid, tail_too=True)
            if out is not None:
                yield from out.to_batches()

    # part_id must lead the sort (segment detection). Z-order is NOT
    # offered here: a task only holds scan-partition FRAGMENTS of each
    # part, and rank-interleaving a fragment gives fragment-sized zone
    # boxes (measured 0.65x-domain vs 0.23 with whole parts) -- zorder
    # callers route through encode_grouped, which co-locates whole parts.
    return df_with_part.sortWithinPartitions("part_id", *cluster_by).mapInArrow(
        enc, schema=ENCODED_SCHEMA
    )


def plan_parquet_splits(parquet_path: str, policy: CodecPolicy):
    """Driver-side split plan for a parquet input: flat files only (a
    Hive-partitioned layout is rejected loudly -- partition-column values
    live in dir names, which the direct scan would silently drop; use the
    DataFrame path / encode_job for those).

    Returns (splits, spark_schema, fingerprint): splits are
    (file, rg_lo, rg_hi) targeting ``policy.target_partition_bytes`` from
    footer metadata (threaded reads -- at 10^6 files this is the same
    listing cost Spark's own FileSourceScan pays); the schema comes from
    the first footer (NTZ timestamps, matching spark.read.parquet);
    the fingerprint pins (file names, row-group counts, target) so a
    RESUMED encode_parquet_job can refuse a changed input whose split
    indices no longer mean the same data."""
    import glob as _glob
    import hashlib as _h
    import json as _json
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as _pq

    if os.path.isdir(parquet_path):
        entries = sorted(
            p for p in _glob.glob(os.path.join(parquet_path, "*"))
            if not os.path.basename(p).startswith(("_", "."))
        )
        files = [p for p in entries if os.path.isfile(p)]
        subdirs = [p for p in entries if os.path.isdir(p)]
        if subdirs:
            raise ValueError(
                f"{parquet_path} contains subdirectories "
                f"({os.path.basename(subdirs[0])}, ...): partitioned "
                "layouts are not supported by the direct scan (partition "
                "values live in dir names); use encode_job over "
                "spark.read.parquet instead"
            )
    else:
        files = [parquet_path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {parquet_path}")
    target = max(policy.target_partition_bytes, 1 << 20)

    def file_splits(f: str) -> list[tuple[str, int, int]]:
        md = _pq.ParquetFile(f).metadata
        out, lo, acc = [], 0, 0
        for rg in range(md.num_row_groups):
            acc += md.row_group(rg).total_byte_size
            if acc >= target:
                out.append((f, lo, rg + 1))
                lo, acc = rg + 1, 0
        if lo < md.num_row_groups:
            out.append((f, lo, md.num_row_groups))
        return out

    with ThreadPoolExecutor(min(16, max(len(files), 1))) as pool:
        per_file = list(pool.map(file_splits, files))
    splits = [s for file_s in per_file for s in file_s]
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(
        _pq.ParquetFile(files[0]).schema_arrow, prefer_timestamp_ntz=True
    )
    def _stat_sig(f: str) -> list:
        # size + NANOSECOND mtime (what Spark's own file-index invalidation
        # keys on): a same-shape content rewrite (same names, same
        # row-group layout, same size) still changes these, so a resumed
        # job can't silently encode different bytes under the old split
        # indices -- whole-second truncation would let a same-second
        # regeneration slip through. Restoring the original files
        # byte-for-byte still changes mtime -> still refused; that is the
        # conservative side of the trade.
        st = os.stat(f)
        return [st.st_size, st.st_mtime_ns]

    fingerprint = _h.sha256(
        _json.dumps(
            [target] + [
                [os.path.basename(f), _stat_sig(f), [s[1:] for s in fs]]
                for f, fs in zip(files, per_file)
            ],
            separators=(",", ":"),
        ).encode()
    ).hexdigest()
    return splits, schema, fingerprint


def encode_direct(
    spark,
    parquet_path: str,
    policy: CodecPolicy,
    parallelism: int | None = None,
    skip_parts: frozenset[int] = frozenset(),
    max_parts: int | None = None,
    cluster_by: tuple[str, ...] = (),
    plan: tuple[list, "object"] | None = None,
    zorder: bool = False,
    stage: tuple[str, str] | None = None,
) -> DataFrame:
    """Encode a parquet-backed corpus with executor-side pyarrow scans.

    The DataFrame paths ship every raw byte JVM->Python over the Arrow IPC
    socket before the kernels ever see it -- on this box that double-hop
    caps encode at ~0.55 GB/s aggregate regardless of kernel speed (measured
    round 4: a no-op mapInArrow over the corpus costs 0.55s of
    encode_map's 0.66s). For file-backed input the hop is pure waste: only
    (file, row-group range) SPLIT STRINGS are distributed; each task opens
    its split with pyarrow and streams batches straight into the chunk
    kernels. This is also the 100 TB shape: executors read object-store
    parquet directly, the JVM never touches payload bytes, and the scan
    scales with executors, not with one driver.

    Split planning is driver-side metadata only (file footer row-group
    sizes), targeting ``policy.target_partition_bytes`` per split; part_id =
    split index, so resume/commit semantics match encode_map's task-parts.
    Columns/predicates stay with the DataFrame paths -- this entry point is
    for the full-table encode job (reference parity: the plugin encodes
    every configured column of every page, S3ParquetPageOutput.scala:24-67).

    ``stage=(staging, first_col)``: a split is a whole part, so its task
    writes it (:func:`write_part`) and returns ``STAGED_SCHEMA`` rows instead
    of the encoded chunks -- one Python stage, no Exchange, no writer job.
    """
    if plan is not None:
        # caller (encode_parquet_job) already planned: reusing its splits
        # keeps part_id = split index consistent with the fingerprint it
        # recorded -- replanning here would let an input change between the
        # two plans slip past the resume guard
        splits, schema = plan
    else:
        splits, schema, _fp = plan_parquet_splits(parquet_path, policy)
    policy.validate(schema)
    names = {f.name for f in schema.fields}
    for c in cluster_by:
        if c not in names:
            raise ValueError(f"cluster_by: unknown column {c!r}")
    colmap = _resolve_policy(schema, policy)
    chunk_rows = policy.chunk_rows
    bloom_cols = frozenset(policy.bloom_columns)
    ndv_cols = frozenset(getattr(policy, "ndv_columns", ()) or ())
    cpus = parallelism or spark.sparkContext.defaultParallelism

    # part_id = split index: DETERMINISTIC for a fixed input file set, so a
    # resumed job (skip_parts = completed part_ids from the manifest) maps
    # the remaining splits back to the same ids without re-reading anything
    rows = [
        (i, f, a, b)
        for i, (f, a, b) in enumerate(splits)
        if i not in skip_parts
    ]
    if max_parts is not None:
        rows = rows[:max_parts]
    out_schema = ENCODED_SCHEMA if stage is None else STAGED_SCHEMA
    if not rows:
        return spark.createDataFrame([], out_schema)
    # ONE python stage, no repartition shuffle: parallelize slices the
    # split list round-robin across numSlices, and each task loops over its
    # splits (task-launch overhead is per-task, so fewer, fatter tasks win
    # until kernel wall dominates -- measured round 4 on local[32])
    n_tasks = min(len(rows), max(cpus, 1))
    split_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_tasks),
        "part_id long, file string, rg0 int, rg1 int",
    )

    def enc(batches):
        import pyarrow.parquet as _pq

        sticky: dict[str, str] = {}
        for b in batches:
            for part_id, fname, rg0, rg1 in zip(
                b.column(0).to_pylist(),
                b.column(1).to_pylist(),
                b.column(2).to_pylist(),
                b.column(3).to_pylist(),
            ):
                pf = _pq.ParquetFile(fname)
                # use_threads=False: every worker slot is already one core;
                # letting each task spin up arrow's full thread pool
                # oversubscribes 32x32 and thrashes the box
                t = pf.read_row_groups(list(range(rg0, rg1)), use_threads=False)
                if cluster_by and zorder:
                    t = _zorder_take(t, cluster_by)
                elif cluster_by:
                    # per-part write ordering: zones of these columns become
                    # tight disjoint ranges (same semantics as encode_grouped)
                    t = t.sort_by([(c, "ascending") for c in cluster_by])
                eff = _effective_chunk_rows(t, chunk_rows, policy.chunk_bytes)
                out = _encode_slices(
                    int(part_id), t, colmap, eff, sticky=sticky,
                    bloom_cols=bloom_cols, ndv_cols=ndv_cols,
                )
                if stage is None:
                    yield from out.to_batches()
                else:
                    yield _staged_row(
                        part_id, write_part(stage[0], part_id, out, stage[1])
                    )

    return split_df.mapInArrow(enc, schema=out_schema)


def encode_map(df: DataFrame, policy: CodecPolicy) -> DataFrame:
    """Shuffle-free encode: chunk = Arrow batch, part_id = physical partition."""
    policy.validate(df.schema)
    colmap = _resolve_policy(df.schema, policy)
    chunk_rows = policy.chunk_rows
    bloom_cols = frozenset(policy.bloom_columns)
    ndv_cols = frozenset(getattr(policy, "ndv_columns", ()) or ())

    def enc(batches):
        pid = TaskContext.get().partitionId()
        seq = 0
        sticky: dict[str, str] = {}
        eff = chunk_rows
        for batch in batches:
            t = pa.Table.from_batches([batch])
            if seq == 0:
                eff = _effective_chunk_rows(t, chunk_rows, policy.chunk_bytes)
            out = _encode_slices(
                pid, t, colmap, eff, seq0=seq, sticky=sticky, bloom_cols=bloom_cols, ndv_cols=ndv_cols
            )
            seq += max(1, -(-t.num_rows // eff))
            yield from out.to_batches()

    return df.mapInArrow(enc, schema=ENCODED_SCHEMA)
