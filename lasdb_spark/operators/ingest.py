"""Ingest pipeline: quantize → Morton encode → head/tail split → layouts.

Spark-first re-expression of the reference's single-threaded ingest
(pipeline/import_data.py:38-56, pcsfc/point_processor.py:31-87):

- the per-point python loop becomes native Column expressions inside
  whole-stage codegen (zero Python on the executor hot path);
- the in-memory global sort + groupby becomes a shuffle-free write
  sorted by key (flat layout) or one hash aggregation (block layout);
- CSV staging + COPY + B-tree index (reference S5/S6/Q13) become a
  single distributed Parquet write, range-partitioned and sorted by
  ``sfc_key`` so row-group min/max stats give B-tree-like range pruning.

Scale notes (100 TB): the range partitioning on the layout's key
(``sfc_key`` flat, ``sfc_head`` block) is one shuffle and yields
globally range-ordered files → a bbox query touches only the few
files/row-groups whose key range intersects the window. Ingest and
compaction share one partition-count rule: a ``target_partitions`` hint
is capped at one partition per 300 000 points (at least 2); without a
hint, one partition per 500 000 points, at most 256.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pcsfc.columns import (
    merge_key_col,
    morton_decode_x_col,
    morton_decode_y_col,
    morton_encode_col,
    quantize_col,
    split_head_col,
    split_tail_col,
)
from ..pcsfc.morton import compute_split_length, quantize

METADATA_FILE = "_pc_metadata.json"


@dataclass
class DatasetMeta:
    """Per-dataset metadata (reference pc_metadata DDL, db/__init__.py:43-52).

    Always read back at query time — the reference hard-codes
    head_len/tail_len at query.py:27; we do not (SURVEY §2.6)."""

    name: str
    srid: int
    point_count: int
    head_length: int
    tail_length: int
    scales: list[float] = field(default_factory=lambda: [1.0, 1.0, 1.0])
    offsets: list[float] = field(default_factory=lambda: [0.0, 0.0, 0.0])
    bbox: list[float] = field(default_factory=list)  # x0,x1,y0,y1,z0,z1

    @property
    def grid_bits(self) -> int:
        """Per-axis bit width of the quantized grid (for decomposition)."""
        return math.ceil((self.head_length + self.tail_length) / 2)


def compute_metadata(
    points: DataFrame,
    name: str,
    srid: int = 28992,
    scales: tuple[float, float, float] = (1.0, 1.0, 1.0),
    offsets: tuple[float, float, float] = (0.0, 0.0, 0.0),
    ratio: float = 0.7,
) -> DatasetMeta:
    """One distributed agg for count + bbox union (reference S4/G5,
    pipeline/import_data.py:76-99) + the split-length rule (F8)."""
    row = _extent(points)
    # Planning maxima MUST use the same HALF_UP rule as the executor
    # quantization (quantize_col / F.round): Python round() is banker's
    # rounding, and a .5 max landing one cell low can shrink grid_bits
    # across a power of two — decompose_bbox would then clamp windows to
    # a grid that excludes the true max keys (boundary points lost).
    qx_max = quantize(row.x1, scales[0], offsets[0])
    qy_max = quantize(row.y1, scales[1], offsets[1])
    if qx_max < 0 or qy_max < 0 or (row.x0 - offsets[0]) < 0 or (row.y0 - offsets[1]) < 0:
        raise ValueError(
            "offsets must place the grid in the positive quadrant "
            f"(x0={row.x0}, y0={row.y0}, offsets={offsets})"
        )
    head_len, tail_len = compute_split_length(int(qx_max), int(qy_max), ratio)
    return DatasetMeta(
        name=name,
        srid=srid,
        point_count=row.n,
        head_length=head_len,
        tail_length=tail_len,
        scales=list(scales),
        offsets=list(offsets),
        bbox=[row.x0, row.x1, row.y0, row.y1, row.z0, row.z1],
    )


def _extent(points: DataFrame):
    """Row(n, x0, x1, y0, y1, z0, z1): count + bbox in one aggregation."""
    return points.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("x0"),
        F.max("x").alias("x1"),
        F.min("y").alias("y0"),
        F.max("y").alias("y1"),
        F.min("z").alias("z0"),
        F.max("z").alias("z1"),
    ).collect()[0]


def attach_sfc(points: DataFrame, meta: DatasetMeta) -> DataFrame:
    """Add qx, qy, sfc_key, sfc_head, sfc_tail columns (F5, F2, F6).

    All native Column bit arithmetic — one codegen stage, no UDFs."""
    sx, sy, _ = meta.scales
    ox, oy, _ = meta.offsets
    qx = quantize_col(F.col("x"), sx, ox)
    qy = quantize_col(F.col("y"), sy, oy)
    key = morton_encode_col(qx, qy)
    return (
        points.withColumn("sfc_key", key)
        .withColumn("sfc_head", split_head_col(F.col("sfc_key"), meta.tail_length))
        .withColumn("sfc_tail", split_tail_col(F.col("sfc_key"), meta.tail_length))
    )


def decode_sfc(df: DataFrame, meta: DatasetMeta) -> DataFrame:
    """Inverse transform: sfc_key → (x, y) on the original scale (F4, F7).

    Used by the block-layout query path after unpacking."""
    sx, sy, _ = meta.scales
    ox, oy, _ = meta.offsets
    key = F.col("sfc_key")
    return df.withColumn(
        "x", morton_decode_x_col(key).cast("double") * sx + ox
    ).withColumn("y", morton_decode_y_col(key).cast("double") * sy + oy)


def pack_blocks(df_sfc: DataFrame) -> DataFrame:
    """Block layout: one row per head, tails ascending, z co-sorted (G1–G3).

    ``sort_array(collect_list(struct(tail, z)))`` sorts by tail first
    (struct ordering), reproducing the reference's per-group co-sort
    (pcsfc/point_processor.py:61-81) in ONE hash aggregation. At scale
    this is a single shuffle on sfc_head; the head/tail split ratio
    bounds per-group size (the reference sweeps the same knob).

    ``z_min``/``z_max`` ride along in the SAME aggregation: the flat
    layout gets z pruning free from Parquet row-group stats, but block
    arrays hide z from the scanner — these two columns give z-slab
    queries a block-level prune before any unpack/explode."""
    return (
        df_sfc.groupBy("sfc_head")
        .agg(
            F.sort_array(F.collect_list(F.struct("sfc_tail", "z"))).alias("pts"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
        .select(
            "sfc_head",
            F.col("pts.sfc_tail").alias("sfc_tail"),
            F.col("pts.z").alias("z"),
            "z_min",
            "z_max",
        )
    )


def unpack_blocks(blocks: DataFrame, meta: DatasetMeta) -> DataFrame:
    """Inverse of pack_blocks: explode arrays, rebuild keys (Q4)."""
    exploded = blocks.select(
        "sfc_head", F.explode(F.arrays_zip("sfc_tail", "z")).alias("p")
    ).select(
        "sfc_head",
        F.col("p.sfc_tail").alias("sfc_tail"),
        F.col("p.z").alias("z"),
    )
    return decode_sfc(
        exploded.withColumn(
            "sfc_key",
            merge_key_col(F.col("sfc_head"), F.col("sfc_tail"), meta.tail_length),
        ),
        meta,
    )


def stored_points(df: DataFrame, meta: DatasetMeta, layout: str) -> DataFrame:
    """The stored table as (x, y, z, sfc_key) point rows, whatever the
    layout — the one place a block store is decoded for point work."""
    return unpack_blocks(df, meta) if layout == "block" else df


def _key_column(layout: str) -> str:
    """The column a stored layout is range-partitioned and sorted by."""
    if layout == "flat":
        return "sfc_key"
    if layout == "block":
        return "sfc_head"
    raise ValueError(f"unknown layout {layout!r}")


def _partition_count(n_points: int, target_partitions: int | None) -> int:
    """Output file count for a sorted write of ``n_points`` rows.

    The caller's value is a parallelism HINT capped by the data size
    (guide §2.2/§6): a core-count hint must not slice a small table
    into near-empty range partitions — every written file costs a task
    at write time and a footer+task at EVERY downstream query, which is
    pure scheduling overhead at bench scale and the many-small-files
    anti-pattern at any scale. At production row counts the data cap
    exceeds any sane hint, so the hint wins and sizes the shuffle to
    the cluster."""
    if target_partitions:
        data_cap = max(2, n_points // 300_000 + 1)
        return max(1, min(target_partitions, data_cap))
    return max(1, min(256, n_points // 500_000 + 1))


def _sorted_by_key(
    df: DataFrame, layout: str, n_points: int, target_partitions: int | None
) -> DataFrame:
    """Range-partition and sort by the layout's key: globally
    key-ordered files whose row-group stats prune window queries."""
    key = _key_column(layout)
    n = _partition_count(n_points, target_partitions)
    return df.repartitionByRange(n, key).sortWithinPartitions(key)


def block_histogram(df_sfc: DataFrame) -> DataFrame:
    """(sfc_head, num_tail) per block (G4; point_processor.py:74-79)."""
    return df_sfc.groupBy("sfc_head").agg(F.count(F.lit(1)).alias("num_tail"))


def ingest_points(
    points: DataFrame,
    name: str,
    base_path: str,
    srid: int = 28992,
    scales: tuple[float, float, float] = (1.0, 1.0, 1.0),
    offsets: tuple[float, float, float] = (0.0, 0.0, 0.0),
    ratio: float = 0.7,
    layout: str = "flat",
    target_partitions: int | None = None,
    write_histogram: bool = False,
    sink: str = "parquet",
    jdbc_url: str | None = None,
    jdbc_properties: dict | None = None,
) -> DatasetMeta:
    """Full ingest: metadata pass + encoded write, sorted by key.

    flat layout:  (x, y, z, sfc_key)  — primary; Parquet stats on the
                  sorted sfc_key column replace the reference's B-tree.
    block layout: (sfc_head, sfc_tail[], z[]) — faithful-schema mode.
    ``write_histogram`` also emits the per-block count side output the
    reference writes at ingest (histogram_<n>.csv,
    pcsfc/point_processor.py:74-79) as ``histogram_<name>`` Parquet.

    ``sink='jdbc'`` mirrors the reference's actual load target (the
    reference COPYs blocks into PostgreSQL, db/__init__.py:95-107):
    the same sorted batches go through ``df.write.jdbc`` into table
    ``pc_record_<name>`` at ``jdbc_url`` (one INSERT batch per
    partition — the driver jar must be on the Spark classpath; index
    creation stays on the DB side, e.g. the reference's B-tree DDL
    db/__init__.py:118-126). Metadata/histogram side outputs still
    land under ``base_path`` so the planner works identically."""
    meta = compute_metadata(points, name, srid, scales, offsets, ratio)
    df = attach_sfc(points, meta)
    out = record_path(base_path, name)
    rows = df.select("x", "y", "z", "sfc_key") if layout == "flat" else pack_blocks(df)
    sorted_df = _sorted_by_key(rows, layout, meta.point_count, target_partitions)
    if sink == "jdbc":
        if not jdbc_url:
            raise ValueError("sink='jdbc' requires jdbc_url")
        # block-layout arrays map to SQL ARRAY columns (PostgreSQL);
        # databases without array types need the flat layout
        sorted_df.write.mode("overwrite").jdbc(
            jdbc_url, f"pc_record_{name}", properties=jdbc_properties or {}
        )
    elif sink == "parquet":
        sorted_df.write.mode("overwrite").parquet(out)
    else:
        raise ValueError(f"unknown sink {sink!r}")
    if write_histogram:
        # Derive the histogram from the JUST-WRITTEN store when it is
        # local Parquet: the read-back scans one column of sorted
        # Parquet (block layout is even map-only — array sizes, no
        # shuffle) instead of re-running the quantize/encode pass over
        # source points, which at 100 TB is the difference between a
        # column scan and a second full ingest pass. A JDBC sink falls
        # back to aggregating the encode lineage.
        if sink == "parquet":
            stored = points.sparkSession.read.parquet(out)
            if layout == "block":
                hist = stored.select(
                    "sfc_head",
                    F.size("sfc_tail").cast("long").alias("num_tail"),
                )
            else:
                hist = block_histogram(
                    stored.select(
                        F.shiftright(
                            "sfc_key", meta.tail_length
                        ).alias("sfc_head")
                    )
                )
        else:
            hist = block_histogram(df)
        hist.write.mode("overwrite").parquet(
            os.path.join(base_path, f"histogram_{name}")
        )
    save_metadata(meta, base_path, layout)
    return meta


def save_metadata(meta: DatasetMeta, base_path: str, layout: str = "flat") -> None:
    """Persist the metadata row (reference S7, db/__init__.py:82-93)."""
    meta_path = os.path.join(base_path, f"pc_metadata_{meta.name}.json")
    with open(meta_path, "w") as f:
        json.dump({**asdict(meta), "layout": layout}, f, indent=2)


def record_path(base_path: str, name: str) -> str:
    return os.path.join(base_path, f"pc_record_{name}")


def compact_dataset(
    spark: SparkSession,
    base_path: str,
    name: str,
    target_partitions: int | None = None,
) -> None:
    """Re-establish the global key range order after streaming or
    incremental appends (the maintenance half of continuous ingest:
    appended micro-batch files are each key-sorted but overlap, so
    row-group pruning degrades until a compaction pass).

    Writes to a side directory and swaps, so a crash mid-compaction
    leaves the original data intact. At scale this runs per key-range
    slice (only rewrite slices whose file count exceeds a threshold)."""
    import shutil

    path = record_path(base_path, name)
    df = spark.read.parquet(path)
    layout = _stored_layout(base_path, name)
    # the count on a bare parquet scan is footer-stats-only (no column
    # reads), so sizing by ingest_points' rule costs milliseconds
    sorted_df = _sorted_by_key(df, layout, df.count(), target_partitions)
    tmp = path + "_compacting"
    sorted_df.write.mode("overwrite").parquet(tmp)
    old = path + "_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    # appended data may have extended the extent: re-derive planning
    # metadata from what is actually stored (bbox, count, grid width).
    # A bare key-sorted table with no metadata row compacts fine and
    # simply has nothing to refresh.
    try:
        refresh_metadata(spark, base_path, name)
    except FileNotFoundError:
        pass


def refresh_metadata(
    spark: SparkSession, base_path: str, name: str
) -> DatasetMeta:
    """Recompute count/bbox from the STORED layout and rewrite the
    metadata row — the maintenance step streaming appends need.

    Appends encoded with the original scales/offsets stay
    key-consistent, but points beyond the original extent (a) leave
    the recorded bbox stale — breaking kNN's coverage-exit test and
    density seeding — and (b) can carry Morton keys wider than the
    planning grid, which the window decomposition would clamp away
    (silently missing them). The refresh recomputes the bbox and, if
    the new max corner needs more bits, GROWS head_length (tail_length
    is frozen: stored block heads/tails depend on it; flat layout
    stores full keys so only the derived grid width matters)."""
    meta, layout = load_metadata(base_path, name)
    df = spark.read.parquet(record_path(base_path, name))
    row = _extent(stored_points(df, meta, layout))
    meta.point_count = row.n
    meta.bbox = [row.x0, row.x1, row.y0, row.y1, row.z0, row.z1]
    from ..pcsfc.morton import encode_morton_2d

    qx_max = quantize(row.x1, meta.scales[0], meta.offsets[0])
    qy_max = quantize(row.y1, meta.scales[1], meta.offsets[1])
    needed_bits = encode_morton_2d(int(qx_max), int(qy_max)).bit_length()
    if needed_bits > meta.head_length + meta.tail_length:
        meta.head_length = needed_bits - meta.tail_length
    save_metadata(meta, base_path, layout)
    return meta


def load_metadata(base_path: str, name: str) -> tuple[DatasetMeta, str]:
    """Read back (meta, layout) — fixes the reference's hard-coded
    head/tail at query.py:27."""
    with open(os.path.join(base_path, f"pc_metadata_{name}.json")) as f:
        d = json.load(f)
    layout = d.pop("layout", "flat")
    return DatasetMeta(**d), layout


def _stored_layout(base_path: str, name: str) -> str:
    """Layout recorded in the metadata row; a bare key-sorted table
    without one is flat."""
    try:
        return load_metadata(base_path, name)[1]
    except FileNotFoundError:
        return "flat"


def load_dataset(spark: SparkSession, base_path: str, name: str) -> tuple[DataFrame, DatasetMeta, str]:
    meta, layout = load_metadata(base_path, name)
    df = spark.read.parquet(record_path(base_path, name))
    return df, meta, layout


def layout_report(
    spark: SparkSession,
    base_path: str,
    name: str,
    small_file_bytes: int = 4 * 1024 * 1024,
) -> dict:
    """Storage-layout QA for a stored dataset — the compaction
    PLANNING half next to :func:`compact_dataset`'s execution half:

    returns {n_files, n_small_files, total_bytes, overlap_files,
    overlap_fraction, clustered} where ``overlap_files`` counts files
    whose key range (``sfc_key`` flat, ``sfc_head`` block) intersects
    any earlier file's (in lo-sorted order — a globally range-sorted
    layout has zero; every overlap forces row-group pruning to read
    multiple files for keys in the intersection) and ``clustered`` is
    the publishable verdict (no overlaps AND no small files).

    Scale: per-file key ranges come from ONE distributed groupBy on
    input_file_name() (a metadata column — no extra scan state); the
    pairwise overlap check runs driver-side on the |files|-sized
    range list (files per dataset slice is a bounded planning set,
    the same argument as the quadtree range decomposition). File
    sizes come from the directory listing, not from reading data."""
    path = record_path(base_path, name)
    df = spark.read.parquet(path)
    key = _key_column(_stored_layout(base_path, name))
    ranges = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    sizes = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                sizes[os.path.basename(p)] = os.path.getsize(p)
    spans = sorted((r.lo, r.hi) for r in ranges)
    overlap_pairs = 0
    max_hi = None
    for lo, hi in spans:
        if max_hi is not None and lo <= max_hi:
            overlap_pairs += 1
        max_hi = hi if max_hi is None else max(max_hi, hi)
    n_files = len(spans)
    n_small = sum(1 for b in sizes.values() if b < small_file_bytes)
    possible = max(1, n_files - 1)
    return {
        "n_files": n_files,
        "n_rows": int(sum(r.n_rows for r in ranges)),
        "n_small_files": n_small,
        "total_bytes": int(sum(sizes.values())),
        "overlap_files": overlap_pairs,
        "overlap_fraction": round(overlap_pairs / possible, 6),
        "clustered": overlap_pairs == 0 and n_small == 0,
    }
