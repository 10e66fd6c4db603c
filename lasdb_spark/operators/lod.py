"""Level-of-detail operators: voxel downsampling and deterministic
hash thinning over the stored SFC layout.

The reference stores and returns full-resolution points only (its
query surface is scripts/query_*.json → exact point sets;
pipeline/retrieve_data.py never subsamples). Every interactive
viewer / coarse-analytics pass over a national-scale cloud needs the
opposite: a small, spatially uniform representative subset. Both
operators here derive it from the ALREADY-STORED ``sfc_key`` — no
re-encode, no new columns at rest.

- :func:`voxel_downsample` — one representative point + occupancy per
  level-L Morton cell. The cell id is a single shift of the stored key
  (Morton prefix property), then ONE hash aggregation with map-side
  partial min/count. The representative is the lexicographic min of
  (sfc_key, z, x, y): deterministic under any partitioning, so the
  DuckDB oracle (a row_number window with the same ordering)
  hash-matches exactly.
- :func:`thin_points` — keep cells where md5(sfc_key) lands in bucket
  0 of ``denom``: a map-only reproducible 1/denom spatial sample (the
  point-cloud analog of the corpus sampler in
  :func:`lasdb_spark.operators.text.stratified_sample` — same
  cross-engine MD5 primitive, same auditability contract). Hashing the
  CELL key (not per-point floats) keeps the predicate
  engine-portable: integer→string casts are identical everywhere,
  float formatting is not.

At scale: ``voxel_downsample`` is one shuffle whose output is bounded
by occupied-cell count (≪ point count at any level > 0);
``thin_points`` is shuffle-free and composes with any downstream scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60_col, md5_int60_sql
from .ingest import DatasetMeta, stored_points


def voxel_downsample(
    df: DataFrame, meta: DatasetMeta, level: int, layout: str = "flat"
) -> DataFrame:
    """(cell, n_points, x, y, z) — one representative point per
    occupied level-``level`` Morton cell (cell side = 2**level grid
    units), plus the cell's occupancy count."""
    if level < 0:
        raise ValueError(f"level must be >= 0, got {level}")
    pts = stored_points(df, meta, layout)
    return (
        pts.withColumn("cell", F.shiftright(F.col("sfc_key"), 2 * level))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(F.struct("sfc_key", "z", "x", "y")).alias("rep"),
        )
        .select(
            "cell",
            "n_points",
            F.col("rep.x").alias("x"),
            F.col("rep.y").alias("y"),
            F.col("rep.z").alias("z"),
        )
    )


def voxel_downsample_sql(sfc_cte: str, level: int) -> str:
    """Oracle twin over a CTE ending in ``k(x, y, z, sfc_key)`` (the
    entry module's ``_SFC_CTE``): row_number window ordered exactly
    like the Spark struct-min."""
    return f"""
{sfc_cte},
c AS (SELECT x, y, z, sfc_key, (sfc_key >> {2 * level}) AS cell FROM k),
r AS (SELECT cell, x, y, z,
             row_number() OVER (PARTITION BY cell ORDER BY sfc_key, z, x, y) AS rn,
             count(*) OVER (PARTITION BY cell) AS n_points
      FROM c)
SELECT cell, n_points, x, y, z FROM r WHERE rn = 1
""".strip()


def lod_pyramid(
    df: DataFrame,
    meta: DatasetMeta,
    levels: list[int],
    layout: str = "flat",
) -> DataFrame:
    """(level, cell, n_points, x, y, z) — a whole LOD pyramid in one
    lazy plan, computed HIERARCHICALLY: the finest requested level
    aggregates the cloud once; every coarser level aggregates the
    PREVIOUS level's representatives, a geometrically smaller input
    (occupied-cell count shrinks ~4× per level for 2D Morton cells).
    A viewer materializes this once and picks a level by point budget.

    Exactness: the representative rule (struct-min of
    (sfc_key, z, x, y)) and the occupancy count are both ASSOCIATIVE,
    and a level-L cell id is a further right-shift of any finer cell
    id (Morton prefix property) — so min-of-mins and sum-of-counts
    over level L−k reps equal the direct level-L aggregation of the
    raw cloud. The oracle computes every level DIRECTLY from the
    cloud, so the driver gate proves the hierarchical rollup exact,
    not just plausible.

    Scale: one full-cloud shuffle for the finest level, then one
    shuffle per coarser level over shrinking rep tables — vs one full
    scan+shuffle PER level if each were computed independently."""
    if not levels:
        raise ValueError("need at least one level")
    lv = sorted(set(int(l) for l in levels))
    if lv[0] < 0:
        raise ValueError(f"levels must be >= 0, got {levels}")
    pts = stored_points(df, meta, layout)
    cur = (
        pts.withColumn("cell", F.shiftright(F.col("sfc_key"), 2 * lv[0]))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(F.struct("sfc_key", "z", "x", "y")).alias("rep"),
        )
    )
    out = None
    prev_level = lv[0]
    for i, l in enumerate(lv):
        if i > 0:
            cur = (
                cur.withColumn(
                    "cell", F.shiftright(F.col("cell"), 2 * (l - prev_level))
                )
                .groupBy("cell")
                .agg(
                    F.sum("n_points").alias("n_points"),
                    F.min("rep").alias("rep"),
                )
            )
            prev_level = l
        tier = cur.select(
            F.lit(l).cast("int").alias("level"),
            "cell",
            "n_points",
            F.col("rep.x").alias("x"),
            F.col("rep.y").alias("y"),
            F.col("rep.z").alias("z"),
        )
        out = tier if out is None else out.unionByName(tier)
    return out


def lod_pyramid_sql(sfc_cte: str, levels: list[int]) -> str:
    """Oracle twin — every level computed DIRECTLY from the cloud (the
    hierarchical shortcut is the Spark side's claim under test)."""
    lv = sorted(set(int(l) for l in levels))
    tiers = []
    for l in lv:
        tiers.append(f"""
SELECT {l} AS level, cell, n_points, x, y, z FROM (
  SELECT (sfc_key >> {2 * l}) AS cell, x, y, z,
         row_number() OVER (PARTITION BY (sfc_key >> {2 * l})
                            ORDER BY sfc_key, z, x, y) AS rn,
         count(*) OVER (PARTITION BY (sfc_key >> {2 * l})) AS n_points
  FROM k) WHERE rn = 1""".strip())
    union = "\nUNION ALL\n".join(tiers)
    return f"{sfc_cte}\n{union}".strip()


def thin_points(
    df: DataFrame, meta: DatasetMeta, denom: int, layout: str = "flat"
) -> DataFrame:
    """Deterministic 1/``denom`` spatial thinning: keep every point
    whose cell key hashes to bucket 0. Map-only (no shuffle); the same
    cut is reproduced by any engine with MD5."""
    if denom < 1:
        raise ValueError(f"denom must be >= 1, got {denom}")
    pts = stored_points(df, meta, layout)
    keep = md5_int60_col(F.col("sfc_key").cast("string")) % denom == 0
    return pts.filter(keep).select("x", "y", "z")


def thin_points_sql(sfc_cte: str, denom: int) -> str:
    """Oracle twin; stages the VARCHAR cast in a CTE because the MD5
    polynomial duplicates its argument 15x."""
    return f"""
{sfc_cte},
s AS (SELECT x, y, z, CAST(sfc_key AS VARCHAR) AS ks FROM k)
SELECT x, y, z FROM s WHERE {md5_int60_sql('ks')} % {denom} = 0
""".strip()
