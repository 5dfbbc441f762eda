"""The workloads: inputs, the table each operation runs on, the operations
themselves, and the benchmark's own model of every result.

Every workload runs the same operations against its own input; what differs
is the shape of the data (see README.md). Each operation returns its
raw-byte divisor (or None) and checks its result against a model kept apart
from the program:

* encode, scan and export compare an order-independent digest (row count
  plus sums of Spark's ``xxhash64`` and ``hash`` over every column) of the
  input, read by Spark's own parquet reader, with the same digest of the
  decoded table and of the export;
* the small operations keep a pyarrow copy of the table and apply every
  mutation to it; counts, aggregates and the program's ``rows_*`` reports
  must equal the copy, and the final row count must equal the copy's.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from embulk_output_s3_parquet_spark import jobs
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

APPEND_ROWS = 64


class CheckFailed(AssertionError):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class Spec:
    """Shape of one workload: generated input, encode options, and the
    predicates its small operations use."""

    input: pa.Table
    target_partition_bytes: int
    key: list[str]                 # unique row key (merge)
    point_col: str                 # point read / keyed DML column
    range_pred: object             # (col, op, literal) for the range read
    agg_pred: tuple                # predicate of the predicated aggregates
    sum_cols: list[str]
    minmax_cols: list[str]
    scatter_col: str               # column of the scattered delete
    update_set: dict               # update_job set_exprs
    bloom: tuple[str, ...] = ()
    make_batch: object = None      # step -> pa.Table of APPEND_ROWS rows


def text_spec(seed: int, rows: int) -> Spec:
    t = gen.text_table(seed, rows)
    return Spec(
        input=t, target_partition_bytes=max(1 << 20, gen.raw_bytes(t) // 6),
        key=["commit"], point_col="commit", range_pred=("repo", "startswith", "org1/"),
        agg_pred=("lang", "==", "python"), sum_cols=["size", "comment_ratio"],
        minmax_cols=["repo", "size"], scatter_col="size", update_set={"lang": "'updated'"},
        bloom=("commit",),
        make_batch=lambda step: gen.text_table(seed, APPEND_ROWS, stream=1000 + step),
    )


def numeric_spec(seed: int, rows: int) -> Spec:
    t = gen.numeric_table(seed, rows)
    top = int(pc.max(t.column("l_orderkey")).as_py())
    return Spec(
        input=t, target_partition_bytes=max(1 << 20, gen.raw_bytes(t) // 6),
        key=["l_orderkey", "l_linenumber"], point_col="l_orderkey",
        range_pred=[("l_orderkey", ">=", top // 3), ("l_orderkey", "<", top // 3 + top // 50)],
        agg_pred=("l_shipmode", "==", "MAIL"), sum_cols=["l_quantity", "l_extendedprice"],
        minmax_cols=["l_orderkey", "l_shipmode"], scatter_col="l_quantity",
        update_set={"l_quantity": "l_quantity + 100"},
        make_batch=lambda step: gen.numeric_table(seed, APPEND_ROWS, stream=1000 + step, key_base=top + 40 * (step + 1) * APPEND_ROWS),
    )


# rows of each generated input: sized so that one timed cycle stays near
# 7-9 s on 4 cores (README.md, "Why only these operations are timed")
SPECS = {
    "text_ingest_scan": (text_spec, 4000),
    "numeric_ingest_scan": (numeric_spec, 15_000),
}


# -- digests -----------------------------------------------------------------

def digest_exprs(columns: list[str]):
    cols = [F.col(c) for c in columns]
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h64"),
        F.sum(F.hash(*cols).cast("long")).alias("h32"),
    ]


def digest(df, columns: list[str]) -> tuple:
    r = df.agg(*digest_exprs(columns)).first()
    return (int(r["n"]), str(r["h64"]), int(r["h32"] or 0))


# -- the model ---------------------------------------------------------------

def _mask(t: pa.Table, pred) -> pa.Array:
    """Exact evaluation of (col, op, literal) conjuncts with pyarrow;
    SQL semantics: a null operand never matches."""
    conj = [pred] if isinstance(pred, tuple) else list(pred)
    m = pa.array(np.ones(t.num_rows, dtype=bool))
    for c, op, v in conj:
        col = t.column(c)
        if op == "==":
            x = pc.equal(col, v)
        elif op == ">=":
            x = pc.greater_equal(col, v)
        elif op == "<":
            x = pc.less(col, v)
        elif op == "in":
            x = pc.is_in(col, value_set=pa.array(v, col.type))
        elif op == "startswith":
            x = pc.starts_with(col, v)
        else:
            raise ValueError(op)
        m = pc.and_(m, pc.fill_null(x, False))
    return m


def _spark_filter(pred):
    conj = [pred] if isinstance(pred, tuple) else list(pred)
    e = F.lit(True)
    for c, op, v in conj:
        col = F.col(c)
        e = e & {
            "==": lambda: col == v,
            ">=": lambda: col >= v,
            "<": lambda: col < v,
            "in": lambda: col.isin(list(v)),
            "startswith": lambda: col.startswith(v),
        }[op]()
    return e


def _sum_model(t: pa.Table, col: str):
    return pc.sum(t.column(col)).as_py()


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _minmax_model(t: pa.Table, col: str) -> tuple:
    mm = pc.min_max(t.column(col)).as_py()
    return (mm["min"], mm["max"])


# -- the run -----------------------------------------------------------------

class Workload:
    """One workload's state inside one benchmark process."""

    def __init__(self, spark, spec: Spec, work: str, seed: int, tracer):
        self.spark, self.spec, self.work, self.seed, self.tr = spark, spec, work, seed, tracer
        self.rng = np.random.default_rng([seed, 99])
        self.columns = spec.input.column_names
        self.input_path = os.path.join(work, "input.parquet")
        pq.write_table(spec.input, self.input_path, row_group_size=4096)
        self.input_raw = gen.raw_bytes(spec.input)
        self.table = os.path.join(work, "table")          # encode_df's table; small operations mutate it
        self.file_table = os.path.join(work, "file_table")
        self.export_dir = os.path.join(work, "export")
        self.model: pa.Table = spec.input
        self.step = 0
        self.input_digest = None

    # policy and DataFrame construction ---------------------------------

    def policy(self):
        return CodecPolicy(target_partition_bytes=self.spec.target_partition_bytes, bloom_columns=self.spec.bloom)

    def input_df(self):
        return self.spark.read.parquet(self.input_path)

    def frame(self, t: pa.Table):
        return self.spark.createDataFrame(t.to_pandas(), schema=self.input_df().schema)

    def check_input_digest(self) -> None:
        self.input_digest = digest(self.input_df(), self.columns)
        expect(self.input_digest[0] == self.spec.input.num_rows, "input row count")

    # ingest operations --------------------------------------------------

    def op_encode_file(self):
        with self.tr.layer("jobs.encode_parquet_job"):
            jobs.encode_parquet_job(self.spark, self.input_path, self.file_table, policy=self.policy(),
                                    if_exists="delete")
        return self.input_raw

    def op_encode_df(self):
        with self.tr.layer("jobs.encode_job"):
            jobs.encode_job(self.spark, self.input_df(), self.table, policy=self.policy(), if_exists="delete")
        self.model = self.spec.input   # the small operations start over on the fresh table
        return self.input_raw

    def op_scan(self):
        with self.tr.layer("jobs.decode_job"):
            got = digest(jobs.decode_job(self.spark, self.table), self.columns)
        expect(got == self.input_digest, f"scan digest {got} != input {self.input_digest}")
        return self.input_raw

    def op_export(self):
        with self.tr.layer("jobs.export_job"):
            rep = jobs.export_job(self.spark, self.table, self.export_dir)
        expect(int(rep["rows"]) == self.model.num_rows, f"export rows {rep['rows']} != {self.model.num_rows}")
        return self.input_raw

    def check_export_digest(self) -> None:
        """Untimed: the exported parquet must hash like the input."""
        got = digest(self.spark.read.parquet(self.export_dir).select(*self.columns), self.columns)
        expect(got == self.input_digest, f"export digest {got} != input {self.input_digest}")

    def check_file_table(self) -> None:
        """Untimed (traced runs): the encode_parquet_job table decodes to the input."""
        got = digest(jobs.decode_job(self.spark, self.file_table), self.columns)
        expect(got == self.input_digest, f"file-table digest {got} != input {self.input_digest}")

    # small operations ---------------------------------------------------

    def _pick_keys(self, n: int) -> list:
        col = self.model.column(self.spec.point_col)
        idx = self.rng.integers(0, self.model.num_rows, n)
        return sorted({col[int(i)].as_py() for i in idx} - {None})

    def op_append(self):
        t = self.spec.make_batch(self.step)
        df = self.frame(t)
        with self.tr.layer("jobs.encode_job"):
            base = EncodedTable(self.table).next_part_base()
            jobs.encode_job(self.spark, df, self.table, policy=self.policy(), if_exists="skip", part_base=base)
        self.model = pa.concat_tables([self.model, t.cast(self.model.schema)])
        return gen.raw_bytes(t)

    def op_point_read(self):
        (k,) = self._pick_keys(1)
        pred = (self.spec.point_col, "==", k)
        with self.tr.layer("jobs.decode_job"):
            rows = jobs.decode_job(self.spark, self.table, where=pred).filter(_spark_filter(pred)).collect()
        want = int(pc.sum(_mask(self.model, pred)).as_py())
        expect(len(rows) == want, f"point read {len(rows)} rows != model {want}")

    def op_range_read(self):
        pred = self.spec.range_pred
        scol = self.spec.sum_cols[0]
        with self.tr.layer("jobs.decode_job"):
            r = (jobs.decode_job(self.spark, self.table, where=pred).filter(_spark_filter(pred))
                 .agg(F.count(F.lit(1)).alias("n"), F.sum(scol).alias("s")).first())
        sub = self.model.filter(_mask(self.model, pred))
        expect(int(r["n"]) == sub.num_rows, f"range read {r['n']} != model {sub.num_rows}")
        expect(_close(r["s"], _sum_model(sub, scol)), "range read sum")

    def op_metadata_agg(self):
        s, p = self.spec, self.spec.agg_pred
        sub = self.model.filter(_mask(self.model, p))
        with self.tr.layer("jobs.count_job"):
            n_all = jobs.count_job(self.spark, self.table)
            n_p = jobs.count_job(self.spark, self.table, where=p)
        with self.tr.layer("jobs.sum_job"):
            s_all = jobs.sum_job(self.spark, self.table, s.sum_cols)
            s_p = jobs.sum_job(self.spark, self.table, s.sum_cols, where=p)
        with self.tr.layer("jobs.minmax_job"):
            m_all = jobs.minmax_job(self.spark, self.table, s.minmax_cols)
            m_p = jobs.minmax_job(self.spark, self.table, s.minmax_cols, where=p)
        expect(n_all == self.model.num_rows, f"count {n_all} != {self.model.num_rows}")
        expect(n_p == sub.num_rows, f"count where {n_p} != {sub.num_rows}")
        for c in s.sum_cols:
            expect(_close(_num(s_all[c]["sum"]), _sum_model(self.model, c)), f"sum {c}")
            expect(_close(_num(s_p[c]["sum"]), _sum_model(sub, c)), f"sum where {c}")
        for c in s.minmax_cols:
            expect(tuple(m_all[c]) == _minmax_model(self.model, c), f"minmax {c}")
            expect(tuple(m_p[c]) == _minmax_model(sub, c), f"minmax where {c}")

    def _delete(self, pred, mode: str) -> None:
        m = _mask(self.model, pred)
        want = int(pc.sum(m).as_py())
        with self.tr.layer("jobs.delete_job"):
            rep = jobs.delete_job(self.spark, self.table, pred, mode=mode)
        expect(int(rep["rows_deleted"]) == want, f"{mode} delete {rep['rows_deleted']} != model {want}")
        self.model = self.model.filter(pc.invert(m))

    def _keyed(self):
        """Four existing keys: a delete that touches few parts."""
        return (self.spec.point_col, "in", self._pick_keys(4))

    def _scattered(self):
        """One existing value of ``scatter_col``: present in most parts."""
        col = self.model.column(self.spec.scatter_col).drop_null()
        return (self.spec.scatter_col, "==", col[int(self.rng.integers(0, len(col)))].as_py())

    def op_delete_cow(self):
        self._delete(self._keyed(), "cow")

    def op_delete_mor(self):
        self._delete(self._keyed(), "mor")

    def op_delete_cow_scattered(self):
        self._delete(self._scattered(), "cow")

    def op_delete_mor_scattered(self):
        self._delete(self._scattered(), "mor")

    def op_update(self):
        pred = (self.spec.point_col, "in", self._pick_keys(4))
        m = _mask(self.model, pred)
        with self.tr.layer("jobs.update_job"):
            rep = jobs.update_job(self.spark, self.table, pred, self.spec.update_set)
        want = int(pc.sum(m).as_py())
        expect(int(rep["rows_updated"]) == want, f"update {rep['rows_updated']} != model {want}")
        self.model = _apply_update(self.model, m, self.spec.update_set)

    def op_merge(self):
        keys = self._pick_keys(8)
        matched = self.model.filter(_mask(self.model, (self.spec.point_col, "in", keys)))
        matched = _apply_update(matched, pa.array(np.ones(matched.num_rows, dtype=bool)), self.spec.update_set)
        fresh = self.spec.make_batch(50_000 + self.step).slice(0, 8).cast(self.model.schema)
        src = pa.concat_tables([matched, fresh])
        with self.tr.layer("jobs.merge_job"):
            rep = jobs.merge_job(self.spark, self.table, self.frame(src), on=self.spec.key)
        expect(int(rep["rows_updated"]) == matched.num_rows, f"merge updated {rep['rows_updated']} != {matched.num_rows}")
        expect(int(rep["rows_inserted"]) == fresh.num_rows, f"merge inserted {rep['rows_inserted']} != {fresh.num_rows}")
        hit = _key_mask(self.model, matched, self.spec.key)
        self.model = pa.concat_tables([self.model.filter(pc.invert(hit)), src])

    def op_compact(self):
        sizes = sorted(int(r.get("enc_bytes", 0)) for r in EncodedTable(self.table).lineage().values())
        threshold = sizes[len(sizes) // 2] // 2 + 1
        with self.tr.layer("jobs.rewrite_small_parts"):
            rep = jobs.rewrite_small_parts(self.spark, self.table, min_part_bytes=threshold)
        with self.tr.layer("jobs.count_job"):
            n = jobs.count_job(self.spark, self.table)
        expect(n == self.model.num_rows, f"compact changed the row count: {n} != {self.model.num_rows}")
        expect(int(rep["parts_written"]) >= 1, f"compact rewrote nothing: {rep}")

    def finish(self) -> float:
        """Row conservation at the end: the table holds what the model
        holds. Returns the table's stored bytes per raw byte of its rows."""
        n = jobs.count_job(self.spark, self.table)
        expect(n == self.model.num_rows, f"final count {n} != model {self.model.num_rows}")
        stored = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.table) for f in fs)
        return stored / gen.raw_bytes(self.model)


def _num(v):
    return float(v) if isinstance(v, (float, Decimal)) else v


def _apply_update(t: pa.Table, m: pa.Array, set_exprs: dict) -> pa.Table:
    """The models of the two update expressions the workloads use."""
    for col, expr in set_exprs.items():
        i = t.column_names.index(col)
        cur = t.column(col)
        if expr.startswith("'"):
            new = pa.scalar(expr.strip("'"), cur.type)
        else:
            new = pc.add(cur, pa.scalar(int(expr.split("+")[1]), cur.type))
        t = t.set_column(i, col, pc.if_else(m, new, cur))
    return t


def _key_mask(t: pa.Table, keys: pa.Table, on: list[str]) -> pa.Array:
    want = set(zip(*(keys.column(c).to_pylist() for c in on)))
    got = zip(*(t.column(c).to_pylist() for c in on))
    return pa.array([k in want for k in got])


# the timed cycle of every untraced run: its medians are the end-to-end
# metrics (README.md, "Why these operations")
TIMED_OPS = ["encode_df", "scan", "append"]

# the traced run's pass: every operation once; the second append gives
# rewrite_small_parts an appended tail of at least two parts
TRACED_OPS = [
    "encode_file", "encode_df", "scan", "export", "append", "point_read", "range_read",
    "metadata_agg", "delete_mor", "delete_mor_scattered", "delete_cow", "delete_cow_scattered",
    "update", "merge", "append", "compact",
]


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
