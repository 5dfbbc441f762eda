"""Byte-balanced, skew-salted partition assignment (north_rule requirement).

The reference is embarrassingly parallel with whatever task split Embulk
hands it (reference S3ParquetOutputPlugin.scala:29-31,84-98) -- no balancing,
no skew handling. The engine plans its own partitions, two ways.

Corpus tables (``assign_partitions``): the keys (repo, lang) are
Zipf-skewed at 10^12-file scale, so

1. aggregate bytes per (lang, repo) group -- a small shuffle of (group, sum)
   pairs, never the data;
2. per-lang running byte offsets via a window *partitioned by lang* (so the
   cumsum is distributed across langs, never a single global sort);
3. tiny per-lang totals collected to the driver (|langs| rows) for lang base
   offsets;
4. each group covers bins [start_bin, start_bin + splits): small groups
   bin-pack with their neighbors (same bin), hot groups (bytes > target)
   get `splits = ceil(bytes/target)` exclusive bins and rows are *salted*
   across them by xxhash64(path, commit) -- explicit hot-key salting;
5. rows get `part_id = lang_base + start_bin + pmod(hash, splits)` via a
   broadcast join of the (lang, repo) plan back onto the data.

Other tables are planned in *lanes* (``_assign_lanes``): a lane is the
first column's hash mod 16, or the bucket id, and splits into
``ceil(lane bytes / target)`` bins by a hash of the whole row -- one
aggregate of <= 16 (or N) totals, no group table, no join.

Everything is deterministic for a given input, which is what makes the
checkpoint manifest's part_ids stable across resume runs.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# group-count ceiling for the driver-side bin-packing fast path (r6): the
# plan input is ONE aggregated row per (k1, k2) group -- metadata, never
# data -- so up to this many groups the cumsum/bin layout runs in plain
# Python on the driver instead of two window passes + a collect. This
# removes two exchanges from every encode_job plan AND the single-partition
# WindowExec that Catalyst creates when a constant (foldable) group key is
# folded out of the window spec (BENCH_r05 "No Partition Defined for
# Window" warnings, VERDICT r5 #2). Above the ceiling the original
# distributed window path runs unchanged (the 10^8-group scale shape).
DRIVER_PLAN_MAX_GROUPS = int(
    os.environ.get("SPARK_GRAFT_PLAN_DRIVER_GROUPS", "262144")
)

LANE_LAYOUT = "lanes-v1"  # ``plan-layout`` table property of lane plans

# byte width of a non-null fixed-width value in the lane planners' weight
_FIXED_WIDTH = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
    T.TimestampType: 8, T.TimestampNTZType: 8,
}


@dataclass
class PartitionPlan:
    n_parts: int
    # corpus planner only: lang, repo, gbytes, start_part, splits
    groups: DataFrame | None = None
    # bucketed plans only: {bucket: (first_part_id, one_past_last)} -- part
    # ids within one bucket are contiguous, ranges across buckets disjoint
    bucket_ranges: dict[int, tuple[int, int]] | None = None
    # lane planners only: encode_job records it and refuses to resume a
    # wave planned under another layout (same ids, different rows)
    layout: str | None = None


def _contains_map(dt) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _hash_safe(df: DataFrame, name: str):
    """Column expression usable inside xxhash64: Spark prohibits hashing
    anything containing a MAP (undefined entry order), so map-bearing
    columns are rendered to JSON first -- entry order then only perturbs
    the salt distribution, never correctness."""
    dt = df.schema[name].dataType
    return F.to_json(F.col(name)) if _contains_map(dt) else F.col(name)


def assign_partitions(
    df: DataFrame,
    target_bytes: int = 64 * 1024 * 1024,
    group_keys: tuple[str, str] = ("lang", "repo"),
    salt_keys: tuple[str, ...] = ("path", "commit"),
    weight_col: str = "content",
) -> tuple[DataFrame, PartitionPlan]:
    """Return (df + part_id column, plan). Deterministic for a given input."""
    k1, k2 = group_keys
    g1 = F.coalesce(F.col(k1).cast("string"), F.lit("\x00null"))
    g2 = F.coalesce(F.col(k2).cast("string"), F.lit("\x00null"))
    weight = F.coalesce(F.length(F.col(weight_col)).cast("long"), F.lit(0)) + F.lit(64)

    sizes = (
        df.select(g1.alias(k1), g2.alias(k2), weight.alias("w"))
        .groupBy(k1, k2)
        .agg(F.sum("w").alias("gbytes"))
    )
    # bin layout per lang: small groups (gbytes <= target) pack by byte cumsum
    # into bins [0, B_small); hot groups get EXCLUSIVE bins [B_small + running
    # split count, +splits) -- hot ranges never overlap packed bins or each
    # other. A small group straddling a bin boundary may push one merged part
    # to < 2x target; that is the cost of packing without splitting groups.
    #
    # Fast path (r6): the group table is one aggregated row per (k1, k2) --
    # pure metadata. Up to DRIVER_PLAN_MAX_GROUPS rows the cumsum layout is
    # computed on the driver in plain Python (bit-identical to the window
    # formulas: Spark's `/` on long is double division, mirrored with float
    # ceil/floor; groups sort by UTF-8 binary order == Python's code-point
    # order). This removes two window exchanges from every encode plan and
    # never plans the single-partition WindowExec a foldable group key
    # produced. Past the ceiling, the distributed window path is unchanged.
    head = sizes.limit(DRIVER_PLAN_MAX_GROUPS + 1).collect()
    if len(head) <= DRIVER_PLAN_MAX_GROUPS:
        by_lang: dict[str, list[tuple[str, int]]] = {}
        for r in head:
            by_lang.setdefault(r[k1], []).append((r[k2], int(r["gbytes"])))
        plan_rows: list[tuple[str, str, int, int, int]] = []
        base = 0
        n_groups = len(head)
        for lang in sorted(by_lang):
            grps = sorted(by_lang[lang])  # k2 distinct per lang: key order
            total_small = sum(g for _, g in grps if g <= target_bytes)
            b_small = int(math.ceil(total_small / target_bytes))
            prev_small = 0
            prev_hot_splits = 0
            bins = 0
            for k2v, g in grps:
                splits = max(1, int(math.ceil(g / target_bytes)))
                if g > target_bytes:
                    start_bin = b_small + prev_hot_splits
                    prev_hot_splits += splits
                else:
                    start_bin = int(math.floor(prev_small / target_bytes))
                    prev_small += g
                plan_rows.append((lang, k2v, g, base + start_bin, splits))
                bins = max(bins, start_bin + splits)
            base += bins
        n_parts = max(base, 1)
        spark = df.sparkSession
        groups = spark.createDataFrame(
            plan_rows,
            T.StructType(
                [
                    T.StructField(k1, T.StringType()),
                    T.StructField(k2, T.StringType()),
                    T.StructField("gbytes", T.LongType()),
                    T.StructField("start_part", T.IntegerType()),
                    T.StructField("splits", T.IntegerType()),
                ]
            ),
        )
    else:
        w_prev = Window.partitionBy(k1).orderBy(k2).rowsBetween(Window.unboundedPreceding, -1)
        w_all = Window.partitionBy(k1)
        hot = F.col("gbytes") > F.lit(target_bytes)
        sizes = (
            sizes.withColumn(
                "splits",
                F.greatest(F.lit(1), F.ceil(F.col("gbytes") / F.lit(target_bytes))).cast("int"),
            )
            .withColumn(
                "prev_small",
                F.coalesce(F.sum(F.when(hot, 0).otherwise(F.col("gbytes"))).over(w_prev), F.lit(0)),
            )
            .withColumn(
                "prev_hot_splits",
                F.coalesce(F.sum(F.when(hot, F.col("splits"))).over(w_prev), F.lit(0)),
            )
            .withColumn(
                "b_small",
                F.ceil(
                    F.sum(F.when(hot, 0).otherwise(F.col("gbytes"))).over(w_all)
                    / F.lit(target_bytes)
                ).cast("int"),
            )
            .withColumn(
                "start_bin",
                F.when(hot, F.col("b_small") + F.col("prev_hot_splits"))
                .otherwise(F.floor(F.col("prev_small") / F.lit(target_bytes)))
                .cast("int"),
            )
            .drop("prev_small", "prev_hot_splits", "b_small")
        )

        # lang base offsets: |langs| rows -> driver
        lang_tot = (
            sizes.groupBy(k1)
            .agg(
                F.max(F.col("start_bin") + F.col("splits")).alias("bins"),
                F.count("*").alias("ng"),
            )
            .orderBy(k1)
            .collect()
        )
        base, bases, n_groups = 0, {}, 0
        for row in lang_tot:
            bases[row[k1]] = base
            base += row["bins"]
            n_groups += row["ng"]
        n_parts = max(base, 1)

        if bases:
            base_map = F.create_map(
                *[x for lang, b in sorted(bases.items()) for x in (F.lit(lang), F.lit(b))]
            )
            start_part = base_map[F.col(k1)] + F.col("start_bin")
        else:  # empty input: no groups at all
            start_part = F.col("start_bin")
        groups = sizes.withColumn("start_part", start_part).select(
            k1, k2, "gbytes", "start_part", "splits"
        )

    salt = F.pmod(
        F.xxhash64(*[_hash_safe(df, c) for c in salt_keys]),
        F.col("splits").cast("long"),
    ).cast("int")
    # broadcast the (lang, repo) plan when it's small; beyond ~2M groups let
    # AQE pick a shuffled join (broadcasting 10^8 groups would OOM executors)
    plan_side = groups.withColumnRenamed(k1, "__g1").withColumnRenamed(k2, "__g2")
    if n_groups <= 2_000_000:
        plan_side = F.broadcast(plan_side)
    joined = df.withColumn("__g1", g1).withColumn("__g2", g2).join(
        plan_side, on=["__g1", "__g2"], how="left"
    )
    out = (
        joined.withColumn("part_id", (F.col("start_part") + salt).cast("long"))
        .drop("__g1", "__g2", "gbytes", "start_part", "splits")
    )
    return out, PartitionPlan(n_parts=n_parts, groups=groups)


def _row_weight(df: DataFrame):
    """Per-row byte weight of the lane planners: fixed-width primitives
    count their width when non-null, string/binary their octet length, the
    rest (decimal, array, struct, map) its text or JSON rendering -- map
    casts to string are prohibited under ANSI; every row adds 16."""
    terms = []
    for f in df.schema.fields:
        c, width = F.col(f.name), _FIXED_WIDTH.get(type(f.dataType))
        if width is not None:
            terms.append(F.when(c.isNotNull(), F.lit(width)).otherwise(F.lit(0)))
            continue
        if not isinstance(f.dataType, (T.StringType, T.BinaryType)):
            c = F.to_json(c) if _contains_map(f.dataType) else c.cast("string")
        terms.append(F.coalesce(F.octet_length(c), F.lit(0)))
    return sum(terms, F.lit(16)).cast("long")


def _assign_lanes(
    df: DataFrame, lane, target_bytes: int
) -> tuple[DataFrame, int, dict[int, tuple[int, int]]]:
    """Lane plan: ONE aggregate collects each lane's byte total (a handful
    of rows, never data); lanes are laid out in string order of their id
    with ``max(1, ceil(total / target))`` bins each from a running base,
    and a row lands on ``base[lane] + pmod(xxhash64(row), bins[lane])``
    through literal maps -- no group table, no join. Returns the frame
    with ``part_id``, the part count and ``{lane: (first, one_past_last)}``."""
    totals = (
        df.groupBy(lane.alias("lane"))
        .agg(F.sum(_row_weight(df)).alias("b"))
        .collect()
    )
    ranges: dict[int, tuple[int, int]] = {}
    base = 0
    # string order: where every lane fits in one bin, tables keep the part
    # ids the (lane, row-hash) group packer gave them
    for r in sorted(totals, key=lambda r: str(r["lane"])):
        bins = max(1, -(-int(r["b"]) // target_bytes))
        ranges[int(r["lane"])] = (base, base + bins)
        base += bins
    part_id = F.lit(0)  # empty input: no lanes, no rows to place
    if ranges:
        def by_lane(f):  # literal {lane: f(range)} map, looked up per row
            return F.create_map(*[F.lit(x) for k, v in ranges.items() for x in (k, f(v))])[lane]

        salt = F.xxhash64(*[_hash_safe(df, c) for c in df.columns])
        part_id = by_lane(lambda v: v[0]) + F.pmod(salt, by_lane(lambda v: v[1] - v[0]))
    return df.withColumn("part_id", part_id.cast("long")), max(base, 1), ranges


def assign_partitions_bucketed(
    df: DataFrame,
    bucket_col: str,
    n_buckets: int,
    target_bytes: int = 64 * 1024 * 1024,
) -> tuple[DataFrame, PartitionPlan]:
    """Bucket-major partition plan (Iceberg ``bucket(N, col)`` transform):
    every row lands in bucket ``pmod(xxhash64(col), N)``, every part holds
    rows of exactly ONE bucket, and each bucket's part ids are a contiguous
    disjoint range (recorded in ``plan.bucket_ranges``). The bucket is the
    lane: a bucket gets ``ceil(bytes / target)`` parts and its rows salt
    across them by a hash of the whole row, so a skewed key column cannot
    produce a monster part -- it produces more parts in its bucket.

    The point of the layout is the shuffle-free bucketed equi-join
    (``operators.bucketjoin``): two tables bucketed ``(key, N)`` with the
    same N can be joined bucket-by-bucket reading only local parts --
    Spark's storage-partitioned join, expressed over the engine's own
    metadata."""
    # xxhash64 of a NULL key is the seed hash -> all null-key rows share one
    # deterministic bucket (equi-joins never match them anyway)
    bkt = F.pmod(F.xxhash64(_hash_safe(df, bucket_col)), F.lit(n_buckets)).cast("int")
    out, n_parts, ranges = _assign_lanes(df, bkt, target_bytes)
    return out, PartitionPlan(n_parts=n_parts, bucket_ranges=ranges, layout=LANE_LAYOUT)


def assign_partitions_generic(
    df: DataFrame, target_bytes: int = 64 * 1024 * 1024
) -> tuple[DataFrame, PartitionPlan]:
    """Partition planning for tables WITHOUT the corpus key columns: the
    lane is ``pmod(xxhash64(first column), 16)``, and each lane splits into
    byte-balanced bins by a hash of the whole row (see ``_assign_lanes``)."""
    lane = F.pmod(F.xxhash64(_hash_safe(df, df.columns[0])), F.lit(16)).cast("int")
    out, n_parts, _ranges = _assign_lanes(df, lane, target_bytes)
    return out, PartitionPlan(n_parts=n_parts, layout=LANE_LAYOUT)
