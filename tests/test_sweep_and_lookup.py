"""Storage-parameter sweep harness + Q12 head lookup."""

import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stored(spark, sf_dir):
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_lookup_")
    ingest_points(points_df(spark, sf_dir), "p", base)
    return load_dataset(spark, base, "p")


@pytest.mark.spark
def test_head_lookup_flat(spark, stored):
    from lasdb_spark.operators.window_query import head_lookup
    from lasdb_spark.pcsfc.columns import split_head_col

    df, meta, layout = stored
    heads = [
        r.h
        for r in df.select(
            split_head_col(F.col("sfc_key"), meta.tail_length).alias("h")
        )
        .distinct()
        .orderBy("h")
        .limit(3)
        .collect()
    ]
    got = head_lookup(df, heads, meta, layout)
    expected = df.filter(
        split_head_col(F.col("sfc_key"), meta.tail_length).isin(heads)
    ).count()
    assert got.count() == expected > 0
    # the key-range predicates must reach the Parquet scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "sfc_key" in plan.split("PushedFilters")[1][:400]
    # 300 non-adjacent heads (300 separate key ranges) must not overflow
    # the planner: the lookup shares the window queries' range filter
    many = [
        r.h
        for r in df.select(
            split_head_col(F.col("sfc_key"), meta.tail_length).alias("h")
        )
        .distinct()
        .collect()
    ]
    many = sorted(many)[::2][:300]
    many += [many[-1] + 2 * i for i in range(1, 301 - len(many))]
    assert len(many) == 300
    expected = df.filter(
        split_head_col(F.col("sfc_key"), meta.tail_length).isin(many)
    ).count()
    assert head_lookup(df, many, meta, layout).count() == expected > 0


@pytest.mark.spark
def test_head_lookup_empty(spark, stored):
    from lasdb_spark.operators.window_query import head_lookup

    df, meta, layout = stored
    assert head_lookup(df, [], meta, layout).count() == 0


@pytest.mark.spark
def test_head_lookup_block(spark, sf_dir):
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import head_lookup
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_lookup_blk_")
    ingest_points(points_df(spark, sf_dir), "b", base, layout="block")
    df, meta, layout = load_dataset(spark, base, "b")
    heads = [r.sfc_head for r in df.select("sfc_head").orderBy("sfc_head").limit(2).collect()]
    n = head_lookup(df, heads, meta, layout).count()
    expected = (
        df.filter(F.col("sfc_head").isin([int(h) for h in heads]))
        .select(F.explode("sfc_tail"))
        .count()
    )
    assert n == expected > 0


@pytest.mark.spark
def test_block_zslab_prunes_and_preserves_answer(spark, sf_dir):
    """Block-layout z-slab queries must return exactly the unpruned
    block answer post-filtered by z (pruning is an optimization, never
    a semantics change), and must skip non-intersecting blocks before
    unpacking."""
    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_zslab_blk_")
    ingest_points(points_df(spark, sf_dir), "bz", base, layout="block")
    dfb, metab, layb = load_dataset(spark, base, "bz")
    qb = WindowQuerier(dfb, metab, layb)

    bbox = [85100.0, 85900.0, 446100.0, 447400.0]
    baseline = [tuple(r) for r in qb.bbox(bbox).collect()]
    for kw, keep in (
        ({"maxz": 2.0}, lambda z: z <= 2.0),
        ({"minz": 30.0}, lambda z: z >= 30.0),
        ({"minz": 5.0, "maxz": 10.0}, lambda z: 5.0 <= z <= 10.0),
    ):
        got = sorted(tuple(r) for r in qb.bbox(bbox, **kw).collect())
        want = sorted(t for t in baseline if keep(t[2]))
        assert got == want and len(want) > 0
    # pruning really skips blocks: a slab far above the data unpacks none
    assert (
        qb._pruned(bbox[0], bbox[1], bbox[2], bbox[3], minz=1e6).count() == 0
    )


@pytest.mark.spark
def test_storage_sweep(spark, sf_dir):
    from lasdb_spark.cli.sweep import sweep_storage_params
    from lasdb_spark.sources.points import points_df

    pts = points_df(spark, sf_dir)
    rows = sweep_storage_params(
        pts,
        ratios=(0.5, 0.8),
        probe_bbox=[85200.0, 85400.0, 446300.0, 446800.0],
    )
    assert [r["ratio"] for r in rows] == [0.5, 0.8]
    lo, hi = rows
    # longer head (higher ratio) => strictly more, smaller blocks
    assert hi["head_length"] > lo["head_length"]
    assert hi["blocks"] > lo["blocks"]
    assert hi["avg_points_per_block"] < lo["avg_points_per_block"]
    # identical probe answers regardless of layout ratio
    assert lo["probe_rows"] == hi["probe_rows"] > 0
    total = pts.count()
    for r in rows:
        assert r["blocks"] * r["avg_points_per_block"] == pytest.approx(total, rel=0.01)


@pytest.mark.spark
def test_multi_window_matches_per_window_bbox(spark, sf_dir):
    """Batch multi-window stats must equal independent bbox() queries
    per window — overlapping windows count shared points in each,
    empty windows are absent."""
    import tempfile

    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_mw_")
    pts = points_df(spark, sf_dir)
    ingest_points(pts, "mw", base)
    df, meta, layout = load_dataset(spark, base, "mw")
    q = WindowQuerier(df, meta, layout)
    wins = [
        (1, 85200.005, 85399.995, 446300.005, 446799.995),
        (2, 85300.005, 85499.995, 446500.005, 446999.995),  # overlaps 1
        (3, 10.0, 20.0, 10.0, 20.0),  # empty
    ]
    got = {r.win_id: r.n_points for r in q.multi_bbox(wins).collect()}
    want = {w[0]: q.bbox(list(w[1:])).count() for w in wins}
    assert got == {k: v for k, v in want.items() if v > 0}
    # block layout: coordinates decode to the quantized grid, so its
    # baseline is the block-layout bbox() (boundary points differ from
    # flat by design — same contract as the pc_bbox_block oracle)
    ingest_points(pts, "mwb", base, layout="block")
    dfb, metab, layb = load_dataset(spark, base, "mwb")
    qb = WindowQuerier(dfb, metab, layb)
    got_b = {r.win_id: r.n_points for r in qb.multi_bbox(wins).collect()}
    want_b = {w[0]: qb.bbox(list(w[1:])).count() for w in wins}
    assert got_b == {k: v for k, v in want_b.items() if v > 0}


@pytest.mark.spark
def test_point_knn_join_matches_per_query_knn(spark, sf_dir):
    """Batch kNN join must equal an independent radius-bounded kNN per
    query point; out-of-range queries are absent."""
    import tempfile

    from pyspark.sql import functions as F

    from lasdb_spark.operators.ingest import (
        ingest_points,
        load_dataset,
        stored_points,
    )
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_knnj_")
    pts = points_df(spark, sf_dir)
    queries = [(1, 85250.0, 446450.0), (2, 85790.0, 447210.0), (9, 50.0, 50.0)]
    k, r = 7, 45.0
    for layout in ("flat", "block"):
        ingest_points(pts, f"kj{layout}", base, layout=layout)
        q = WindowQuerier(*load_dataset(spark, base, f"kj{layout}"))
        # block coordinates decode to the quantized grid, so its
        # baseline is the block store's own decoded points
        cloud = pts if layout == "flat" else stored_points(q.df, q.meta, layout)
        got = q.knn_join(queries, k, r).collect()
        by_q: dict = {}
        for row in got:
            by_q.setdefault(row.q_id, []).append((row.d2, row.x, row.y, row.z))
        assert 9 not in by_q  # far outside: no in-radius candidates
        for qid, qx, qy in queries[:2]:
            d2 = (F.col("x") - qx) * (F.col("x") - qx) + (F.col("y") - qy) * (
                F.col("y") - qy
            )
            want = [
                (row.d2, row.x, row.y, row.z)
                for row in cloud.withColumn("d2", d2)
                .filter(F.col("d2") <= r * r)
                .orderBy("d2", "x", "y", "z")
                .limit(k)
                .collect()
            ]
            assert sorted(by_q[qid]) == want, (layout, qid)
            assert all(d <= r * r for d, *_ in by_q[qid])


@pytest.mark.spark
def test_point_knn_join_plan(spark, sf_dir):
    """Hash join on the shared cell key + q_id-partitioned window —
    never a nested loop, never a global sort."""
    import tempfile

    from lasdb_spark.operators.ingest import ingest_points, load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_knnjp_")
    ingest_points(points_df(spark, sf_dir), "kjp", base)
    q = WindowQuerier(*load_dataset(spark, base, "kjp"))
    plan = q.knn_join([(1, 85250.0, 446450.0), (2, 85500.0, 446700.0)], 5, 50.0)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "Sort [q_id" in s  # window sort is q_id-partitioned...
    assert "Exchange rangepartitioning" not in s  # ...never global
    assert "PushedFilters" in s and "sfc_key" in s.split("PushedFilters")[1][:400]


@pytest.mark.spark
def test_zonal_stats_match_per_polygon_queries(spark, sf_dir):
    """Zonal statistics must equal the independent single-polygon
    window query per zone (count AND exact centi-unit z range), and
    the plan must be the broadcast-hash-join shape with the coarse key
    range pushed to the scan."""
    import tempfile

    from pyspark.sql import functions as F

    from lasdb_spark.functions.geometry import _contains_numpy, wkt_rings
    from lasdb_spark.operators.ingest import (
        ingest_points,
        load_dataset,
        stored_points,
    )
    from lasdb_spark.operators.window_query import WindowQuerier
    from lasdb_spark.sources.points import points_df

    base = tempfile.mkdtemp(prefix="lasdb_zonal_")
    pts = points_df(spark, sf_dir)
    zones = [
        (1, "POLYGON ((85150.005 446150.005, 85649.995 446150.005, "
            "85649.995 446649.995, 85150.005 446649.995, "
            "85150.005 446150.005))"),
        (2, "POLYGON ((85400.005 446400.005, 85899.995 446400.005, "
            "85899.995 446899.995, 85400.005 446899.995, "
            "85400.005 446400.005), (85500.005 446500.005, "
            "85799.995 446500.005, 85799.995 446799.995, "
            "85500.005 446799.995, 85500.005 446500.005))"),  # hole
        (3, "POLYGON ((10.0 10.0, 20.0 10.0, 20.0 20.0, 10.0 20.0, "
            "10.0 10.0))"),  # empty (outside extent)
    ]
    for layout in ("flat", "block"):
        ingest_points(pts, f"zn{layout}", base, layout=layout)
        q = WindowQuerier(*load_dataset(spark, base, f"zn{layout}"))
        got = {r.zone_id: r for r in q.zonal(zones).collect()}
        assert set(got) == {1, 2}, layout
        for zid, wkt in zones[:2]:
            if layout == "flat":
                ref = q.polygon(wkt)
                n = ref.count()
                zmin, zmax = ref.agg(F.min("z"), F.max("z")).first()
            else:
                # block coordinates decode to the quantized grid, so the
                # baseline is a brute-force even-odd test over the block
                # store's own decoded points (polygon() with a hole on a
                # block store outgrows strict codegen: the x/y decode is
                # inlined into every edge test)
                cloud = stored_points(q.df, q.meta, q.layout).toPandas()
                inside = _contains_numpy(
                    wkt_rings(wkt), cloud.x.to_numpy(), cloud.y.to_numpy()
                )
                n = int(inside.sum())
                zmin, zmax = cloud.z[inside].min(), cloud.z[inside].max()
            assert got[zid].n_points == n > 0, (layout, zid)
            assert abs(got[zid].z_min - zmin) < 1e-9
            assert abs(got[zid].z_max - zmax) < 1e-9
        plan = (
            q.zonal(zones)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "PushedFilters" in plan
