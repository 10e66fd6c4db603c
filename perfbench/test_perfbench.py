"""Tests of the benchmark itself: input determinism, oracle/engine
agreement on a tiny store, and the printed metric names.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402

TINY = {
    "tiles_x": 2,
    "tiles_y": 1,
    "tile_m": 60.0,
    "pts_per_tile": 3000,
    "resurvey_count": 3,
    "resurvey_pts": 800,
}


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, **TINY)
    b = gen.generate(str(tmp_path / "b"), 5, **TINY)
    c = gen.generate(str(tmp_path / "c"), 6, **TINY)
    da, db, dc = (_digests(str(tmp_path / n)) for n in "abc")
    assert da == db and len(da) == 2 + 3
    assert da != dc
    rng_a, rng_b = np.random.default_rng(9), np.random.default_rng(9)
    for kind in ("bbox_s", "circle", "polygon", "thin_h", "thin_v", "zslab", "knn", "batch"):
        assert gen.make_query(rng_a, a, kind) == gen.make_query(rng_b, b, kind)


def test_las_tiles_decode_to_the_oracle_points(tmp_path):
    from lasdb_spark.sources.las import read_las_file

    inputs = gen.generate(str(tmp_path), 3, **TINY)
    decoded = np.concatenate([read_las_file(p) for p in inputs.las_paths])
    assert np.array_equal(decoded, inputs.las_points)


def test_oracle_shapes_on_hand_made_points():
    pts = np.array([[0.5, 0.5, 1.0], [2.5, 2.5, 2.0], [5.0, 5.0, 3.0], [1.0, 1.0, 9.0]])
    assert len(oracle.window(pts, {"shape": "bbox", "bbox": [0, 3, 0, 3]})) == 3
    assert len(oracle.window(pts, {"shape": "bbox", "bbox": [0, 3, 0, 3],
                                   "minz": 1.5, "maxz": 5.0})) == 1
    # square ring with a hole around (2.5, 2.5): even-odd excludes the hole
    rings = [[(0.1, 0.1), (4.1, 0.1), (4.1, 4.1), (0.1, 4.1)],
             [(2.0, 2.0), (3.0, 2.0), (3.0, 3.0), (2.0, 3.0)]]
    got = oracle.window(pts, {"shape": "polygon", "rings": rings})
    assert oracle.same_points(got, pts[[0, 3]])
    # kNN ties on d2 are ordered by x, then y, then z
    tied = np.array([[1.0, 0.0, 5.0], [0.0, 1.0, 1.0], [0.0, -1.0, 2.0], [-1.0, 0.0, 0.0]])
    order = oracle.knn(tied, {"point": [0.0, 0.0], "k": 4})
    assert order[:, 0].tolist() == [-1.0, 0.0, 0.0, 1.0]
    assert order[1:3, 1].tolist() == [-1.0, 1.0]
    assert oracle.batch(pts, [(7, 0, 3, 0, 3), (8, 10, 11, 10, 11)]) == {7: (3, 1.0, 9.0)}
    keys = oracle.morton_keys(np.array([[3.0, 5.0, 0.0]]), (1, 1, 1), (0, 0, 0))
    from lasdb_spark.pcsfc.morton import encode_morton_2d

    assert int(keys[0]) == encode_morton_2d(3, 5)


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from lasdb_spark.cli.runner import build_session

    import workloads
    from tracing import Tracer

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    spark = build_session("perfbench_tests", cpus=2)
    inputs = gen.generate(os.path.join(work, "inputs"), 4, **TINY)
    yield workloads.Ctx(spark, work, inputs, Tracer(spark.sparkContext, True), 1.0, 4, 2)


def test_oracle_agrees_with_engine_on_tiny_store(ctx):
    import workloads

    base = workloads.setup_bulk(ctx)
    assert ctx.failed == 0 and len(ctx.setup_s) == workloads.SETUPS
    querier = workloads.open_store(ctx, base)
    pts = ctx.inputs.las_points
    rng = np.random.default_rng(1)
    for kind in ("bbox_s", "bbox_m", "bbox_l", "circle", "polygon", "thin_h", "thin_v", "zslab", "batch"):
        for _ in range(2):
            q = gen.make_query(rng, ctx.inputs, kind)
            pdf = workloads.run_query(ctx, querier, q)
            assert workloads.result_ok(q, pdf, pts), q
    q = gen.make_query(rng, ctx.inputs, "knn")
    q["k"] = 50
    pdf = workloads.run_query(ctx, querier, q)
    assert len(pdf) == 50 and workloads.result_ok(q, pdf, pts)
    # a result missing one point is caught
    q = {"kind": "bbox_l", "shape": "bbox", "bbox": [gen.off_grid(v) for v in ctx.inputs.tile_scheme]}
    pdf = workloads.run_query(ctx, querier, q)
    assert workloads.result_ok(q, pdf, pts)
    assert not workloads.result_ok(q, pdf.iloc[1:], pts)


def test_stream_append_is_checked_against_the_oracle(ctx):
    import workloads

    store = workloads.StreamStore(ctx, os.path.join(ctx.work, "stream"))
    store.land_las()
    store.start(ctx.spark.read.parquet(store.src))
    store.resume()
    store.drop(ctx.inputs.resurvey_paths[0])
    querier = workloads._append(ctx, store)
    pts = np.concatenate([ctx.inputs.las_points, ctx.inputs.resurvey_points[0]])
    assert querier.df.count() == len(pts)
    rect = ctx.inputs.tile_rect(ctx.inputs.resurvey_tiles[0])
    q = gen.make_query(np.random.default_rng(2), ctx.inputs, "bbox_m", rect)
    assert workloads.result_ok(q, workloads.run_query(ctx, querier, q), pts)
    spans = {s["name"] for s in ctx.tracer.spans}
    assert {"sources.las", "operators.ingest", "streaming.ingest"} <= spans


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace,section", [
    ("window_mix", "0", "end_to_end"),
    ("append_query", "1", "per_layer"),
])
def test_printed_metrics_match_benchmark_json(workload, trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "window_mix", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
