"""Traced run: spans around the calls into each layer and the per-layer
ledger (``--trace 1``).

Spans are recorded from the benchmark's own files only: one span per
operation (``op``) and one per call into a program layer (``layer``), each
with a start, an end, its parent and the operation id; they are kept in
memory and written to ``.perfbench_work/trace-<workload>-<seed>.json`` when
the run ends. Each operation also runs under its own Spark job group
(``perfbench:<op>:<id>``); the event log of the traced run attributes
Spark jobs, tasks, busy time and shuffle bytes to the operation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from embulk_output_s3_parquet_spark import jobs
from embulk_output_s3_parquet_spark.codecs import decode_array, encode_array, selector
from embulk_output_s3_parquet_spark.codecs.base import drop_nulls_with_mask
from embulk_output_s3_parquet_spark.operators.decode import decode_table_scan, scan_counters
from embulk_output_s3_parquet_spark.operators.encode import encode_direct, encode_map
from embulk_output_s3_parquet_spark.plans.partitioning import assign_partitions, assign_partitions_generic
from embulk_output_s3_parquet_spark.sources.tables import EncodedTable
from workloads import expect


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = 0
        self.spark = None

    @contextlib.contextmanager
    def _span(self, kind: str, name: str):
        sid = len(self.spans)
        span = {"id": sid, "kind": kind, "name": name, "op_id": self.op_id,
                "parent": self.stack[-1] if self.stack else None, "start": time.time()}
        self.spans.append(span)
        self.stack.append(sid)
        try:
            yield span
        finally:
            self.stack.pop()
            span["end"] = time.time()

    @contextlib.contextmanager
    def op(self, name: str):
        if not self.enabled:
            yield None
            return
        self.op_id += 1
        group = f"perfbench:{name}:{self.op_id}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            with self._span("op", name) as s:
                s["group"] = group
                yield s
        finally:
            if sc is not None:
                sc.setJobGroup("perfbench:idle", "idle")

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._span("layer", name) as s:
            yield s


# -- per-layer probes ----------------------------------------------------------

CATEGORIES = ("string", "int", "float", "temporal")
SCALAR_CODECS = ("alp", "bitpack", "bsplit", "delta", "dict", "for", "fsst", "raw", "rle")
# bytes of each column the codecs ledger times: bounds the traced run's length
CODEC_BYTES_PER_COLUMN = 6 << 20


def _category(t) -> str | None:
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
        return "string"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "temporal"
    return None


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def codecs_ledger(wl) -> dict:
    """``encode_array``/``decode_array``/``selector.select`` on the
    workload's own columns, sliced at the policy's chunk size, single
    threaded; every chunk must decode back equal."""
    table = wl.spec.input
    pol = wl.policy()
    avg = max(table.nbytes // max(table.num_rows, 1), 1)
    rows = max(1, min(pol.chunk_rows, pol.chunk_bytes // avg)) if pol.chunk_bytes else pol.chunk_rows
    acc = {c: {"raw": 0, "out": 0, "enc": 0.0, "dec": 0.0} for c in CATEGORIES}
    chunks = {c: 0 for c in SCALAR_CODECS}
    sel_s, sel_bytes = 0.0, 0
    for name in table.column_names:
        cat = _category(table.schema.field(name).type)
        col = table.column(name).combine_chunks()
        done = 0
        for off in range(0, len(col), rows):
            if done >= CODEC_BYTES_PER_COLUMN:
                break
            chunk = col.slice(off, rows)
            raw = gen.raw_bytes(_one_col(chunk))
            t0 = time.perf_counter()
            payload, meta = encode_array(chunk, bloom=name in pol.bloom_columns)
            t1 = time.perf_counter()
            back = decode_array(payload, meta)
            t2 = time.perf_counter()
            expect(back.equals(chunk), f"codec round trip of {name} chunk at row {off} ({meta['c']})")
            values = drop_nulls_with_mask(chunk)[0]
            t3 = time.perf_counter()
            selector.select(values)
            sel_s += time.perf_counter() - t3
            sel_bytes += raw
            done += raw
            if meta["c"] in chunks:
                chunks[meta["c"]] += 1
            if cat:
                a = acc[cat]
                a["raw"] += raw
                a["out"] += len(payload)
                a["enc"] += t1 - t0
                a["dec"] += t2 - t1
    out = {}
    for c, a in acc.items():
        mb = a["raw"] / 1e6
        out[f"codecs.encode_mb_s.{c}"] = (mb / a["enc"] if a["enc"] else 0.0, "MB/s")
        out[f"codecs.decode_mb_s.{c}"] = (mb / a["dec"] if a["dec"] else 0.0, "MB/s")
        out[f"codecs.bytes_out_per_in.{c}"] = (a["out"] / a["raw"] if a["raw"] else 0.0, "ratio")
    out["codecs.select_s_per_mb"] = (sel_s / (sel_bytes / 1e6) if sel_bytes else 0.0, "s/MB")
    for c, n in chunks.items():
        out[f"codecs.chunks.{c}"] = (n, "count")
    return out


def _one_col(arr):
    return pa.table({"c": arr})


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _timed(fn, n: int = 2) -> float:
    ds = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ds.append(time.perf_counter() - t0)
    return _median(ds)


def operators_ledger(spark, wl) -> dict:
    """Each operator stage into a noop sink, on the workload's input."""
    df = wl.input_df()
    pol = wl.policy()
    return {
        "operators.scan_only_s": (_timed(lambda: _noop(df)), "s"),
        "operators.ipc_passthrough_s": (_timed(lambda: _noop(df.mapInArrow(_identity, df.schema))), "s"),
        "operators.encode_direct_s": (_timed(lambda: _noop(encode_direct(spark, wl.input_path, pol))), "s"),
        "operators.encode_map_s": (_timed(lambda: _noop(encode_map(df, pol))), "s"),
        "operators.decode_scan_s": (_timed(lambda: _noop(decode_table_scan(spark, EncodedTable(wl.file_table)))), "s"),
    }


def _raw_bytes_expr(df):
    """Spark twin of gen.raw_bytes for one row."""
    parts = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            parts.append(F.coalesce(F.octet_length(c), F.lit(0)))
        else:
            width = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
                     T.BooleanType: 1}.get(type(f.dataType), 8)
            parts.append(F.when(c.isNull(), 0).otherwise(width))
    return sum(parts[1:], parts[0]).cast("long")


def plans_ledger(spark, wl) -> dict:
    """The public planner the job would pick for this input: the corpus
    planner when the corpus key columns are present, else the generic one."""
    df = wl.input_df()
    corpus = {"lang", "repo", "path", "commit", "content"} <= set(df.columns)
    planner = assign_partitions if corpus else assign_partitions_generic
    target = wl.policy().target_partition_bytes
    res = {}

    def plan():
        res["out"], res["plan"] = planner(df, target_bytes=target)

    s = _timed(plan)
    sizes = [int(r["b"]) for r in res["out"].groupBy("part_id").agg(F.sum(_raw_bytes_expr(df)).alias("b")).collect()]
    return {
        "plans.assign_partitions_s": (s, "s"),
        "plans.parts_planned": (int(res["plan"].n_parts), "count"),
        "plans.part_skew": (max(sizes) / _median(sizes, 1) if sizes else 0.0, "ratio"),
    }


def _peak_rss_mb(spark) -> float:
    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                return next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        except (OSError, StopIteration, ValueError):
            return 0


    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm(os.getpid()) + hwm(jvm_pid)) / 1024


def sources_ledger(spark, wl) -> dict:


    t = EncodedTable(wl.table)
    load = _timed(lambda: t.lineage(), 3)
    lineage = t.lineage()
    (k,) = wl._pick_keys(1)
    point = [(wl.spec.point_col, "==", k)]
    rng = [wl.spec.range_pred] if isinstance(wl.spec.range_pred, tuple) else list(wl.spec.range_pred)
    res = {}
    s_point = _timed(lambda: res.__setitem__("p", t.surviving_parts(point, spark=spark)))
    s_range = _timed(lambda: res.__setitem__("r", t.surviving_parts(rng, spark=spark)))
    counters = scan_counters(spark)
    jobs.decode_job(spark, wl.table, where=point, counters=counters).count()
    total = counters["chunks_total"].value
    meta_bytes = os.path.getsize(t.manifest_path)
    for d, _dirs, files in os.walk(t.parts_dir):
        meta_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return {
        "sources.lineage_load_s": (load, "s"),
        "sources.surviving_parts_s.point": (s_point, "s"),
        "sources.surviving_parts_s.range": (s_range, "s"),
        "sources.parts_total": (len(lineage), "count"),
        "sources.parts_surviving.point": (len(res["p"]), "count"),
        "sources.parts_surviving.range": (len(res["r"]), "count"),
        "sources.chunks_total": (total, "count"),
        "sources.chunks_read": (total - counters["chunks_skipped"].value, "count"),
        "sources.manifest_bytes_per_part": (meta_bytes / max(len(lineage), 1), "B"),
        "sources.driver_peak_rss_mb": (_peak_rss_mb(spark), "MB"),
    }


def layer_probes(spark, wl, tracer) -> dict:
    out = {}
    for name, probe in (("codecs", lambda: codecs_ledger(wl)), ("operators", lambda: operators_ledger(spark, wl)),
                        ("plans", lambda: plans_ledger(spark, wl)), ("sources", lambda: sources_ledger(spark, wl))):
        with tracer.op("ledger." + name):
            out.update(probe())
    return out


def trace_overhead(traced: dict, baseline: dict, baseline_runs: int) -> dict:
    """Traced wall of the timed operations minus their untraced median."""
    ops = [op for op in baseline if op in traced]
    t = sum(_median(traced[op]) for op in ops)
    b = sum(_median(baseline[op]) for op in ops)
    return {
        "trace.overhead_s": (t - b, "s"),
        "trace.overhead_share": ((t - b) / b if b else 0.0, "ratio"),
        "trace.baseline_runs": (baseline_runs, "count"),
    }


def write_spans(tracer, path: str) -> None:

    with open(path, "w") as f:
        json.dump(tracer.spans, f)


# -- Spark jobs per operation, from the event log --------------------------------

# an operation's wall is spark_busy_s + driver_only_s
JOB_FIELDS = ("spark_jobs", "tasks", "spark_busy_s", "driver_only_s", "shuffle_bytes")


def _event_log(work: str) -> list[dict]:

    events = []
    for path in sorted(glob.glob(os.path.join(work, "eventlog", "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                if e.get("Event") in ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"):
                    events.append(e)
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_ledger(tracer, work: str, ops: list[str]) -> dict:
    """Per operation: Spark jobs, tasks, the union of job intervals
    (spark_busy_s), wall minus that union (driver_only_s), shuffle bytes
    written. Operations that ran more
    than once in the traced pass report the mean of their instances."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in _event_log(work):
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"] / 1e3, "end": None,
                                 "tasks": 0, "shuffle": 0}
            for st in e.get("Stage IDs", []):
                stage_job.setdefault(st, e["Job ID"])
        elif e["Event"] == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        else:
            j = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            if j is not None:
                j["tasks"] += 1
                sw = (e.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                j["shuffle"] += int(sw.get("Shuffle Bytes Written", 0))
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    per_op: dict[str, list[dict]] = {}
    for span in tracer.spans:
        if span["kind"] != "op" or span["name"] not in ops:
            continue
        js = by_group.get(span["group"], [])
        wall = span["end"] - span["start"]
        busy = _union_s([(j["start"], j["end"] or j["start"]) for j in js])
        per_op.setdefault(span["name"], []).append({
            "spark_jobs": len(js), "tasks": sum(j["tasks"] for j in js), "spark_busy_s": busy,
            "driver_only_s": max(wall - busy, 0.0), "shuffle_bytes": sum(j["shuffle"] for j in js),
        })
    units = {"spark_jobs": "count", "tasks": "count", "shuffle_bytes": "B"}
    out = {}
    for op in ops:
        inst = per_op.get(op, [])
        for k in JOB_FIELDS:
            v = sum(i[k] for i in inst) / len(inst) if inst else 0.0
            out[f"jobs.{op}.{k}"] = (v, units.get(k, "s"))
    return out
