"""The workloads and the traced layer probe.

Every workload is a closed loop with one client (this process): it
sends the next op only after the previous one returned and was checked
against the numpy oracle. Only the calls into the library are timed;
result checks, file drops and clean-up run between ops.

- ``window_mix``: a fixed cycle of window shapes with seeded geometry
  against one store bulk-loaded from the LAS tiles during set-up (read
  path only; the set-up is the write path: three bulk loads, timed).
- ``append_query``: re-survey tiles stream into the store between
  window queries over their footprint, then one compaction and more
  queries (writes beside reads).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from time import perf_counter

import numpy as np

import gen
import oracle
from tracing import Tracer, job_counts

DATASET = "bench"
SETUPS = 3  # set-ups per run; setup_s is their median

# Input sizes, scaled so that one run takes about a minute on 4 cores and
# a full round of 48 runs stays under an hour; see README.md.
SIZES = {
    "tiles_x": 4,
    "tiles_y": 2,
    "tile_m": 250.0,
    "pts_per_tile": 50_000,
    "resurvey_count": 24,
    "resurvey_pts": 40_000,
}

# window_mix sends whole cycles of these shapes, in this order; only the
# geometry comes from the seed, so every run gets the same shape mix
WINDOW_CYCLE = [
    "bbox_s", "circle", "bbox_m", "polygon", "zslab", "knn",
    "bbox_l", "thin_h", "bbox_s", "circle", "batch", "bbox_m", "thin_v",
]
WARMUP_KINDS = ["bbox_m", "polygon", "knn", "batch"]
APPEND_QUERIES = ["bbox_s", "bbox_m", "circle", "zslab"]
PROBE_KINDS = ["bbox_s", "bbox_m", "bbox_l", "circle", "polygon", "thin_h", "thin_v", "zslab"]
PLAN_REPS = 20  # planning is pure Python and fast: time it this many times
# ops whose latency the read percentiles cover: single windows; kNN and
# the 36-window batch count in ops_per_s only, as their latencies sit
# far from those of single windows
READ_KINDS = {"bbox_s", "bbox_m", "bbox_l", "circle", "polygon", "thin_h", "thin_v",
              "zslab", "query"}


@dataclass
class Op:
    kind: str
    seconds: float
    traced: bool
    jobs: int = 0
    tasks: int = 0


@dataclass
class Ctx:
    spark: object
    work: str
    inputs: gen.Inputs
    tracer: Tracer
    seconds: float
    seed: int
    nproc: int
    ops: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    named: dict = field(default_factory=dict)  # workload figures for the summary
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    bytes_per_point: float = 0.0
    known_defect: tuple | None = None  # (ok, outcome) of the append after compaction
    _seen: dict = field(default_factory=dict)

    @property
    def sc(self):
        return self.spark.sparkContext

    @property
    def las_glob(self) -> str:
        return os.path.join(os.path.dirname(self.inputs.las_paths[0]), "*.las")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"wrong result: {what}")

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.notes.append(f"error in {what}: {type(exc).__name__}: {str(exc)[:300]}")

    def traced_next(self, kind: str) -> bool:
        """In a traced run every second op of each kind is traced, so
        traced and untraced ops of one kind interleave."""
        n = self._seen.get(kind, 0)
        self._seen[kind] = n + 1
        return self.tracer.enabled and n % 2 == 1

    def timed(self, kind: str, fn, record: bool = True, traced: bool | None = None):
        """Run one op; record its wall time (and job counts if traced)."""
        if traced is None:
            traced = self.traced_next(kind) if record else False
        if traced:
            with self.tracer.op(kind) as op_id:
                t0 = perf_counter()
                out = fn()
                dt = perf_counter() - t0
            jobs, tasks = job_counts(self.sc, op_id)
        else:
            t0 = perf_counter()
            out = fn()
            dt = perf_counter() - t0
            jobs = tasks = 0
        if record:
            self.ops.append(Op(kind, dt, traced, jobs, tasks))
        return out, dt


# ---------------------------------------------------------------------------
# library calls (each inside a span named after its layer)
# ---------------------------------------------------------------------------
def _scales():
    return (gen.SCALE, gen.SCALE, gen.SCALE)


def ingest_las(ctx: Ctx, base: str):
    from lasdb_spark.operators.ingest import ingest_points
    from lasdb_spark.sources.las import las_to_df

    tr = ctx.tracer
    with tr.span("sources.las"):
        pts = las_to_df(ctx.spark, ctx.las_glob)
    with tr.span("operators.ingest"):
        return ingest_points(
            pts, DATASET, base, scales=_scales(), offsets=gen.OFFSETS,
            layout="flat", target_partitions=ctx.nproc,
        )


def open_store(ctx: Ctx, base: str):
    from lasdb_spark.operators.ingest import load_dataset
    from lasdb_spark.operators.window_query import WindowQuerier

    with ctx.tracer.span("operators.ingest"):
        df, meta, layout = load_dataset(ctx.spark, base, DATASET)
    return WindowQuerier(df, meta, layout)


def run_query(ctx: Ctx, querier, q: dict):
    """Send one query and fetch its result to the driver as pandas."""
    from lasdb_spark.operators.multi_window import multi_bbox_stats

    tr = ctx.tracer
    shape = q["shape"]
    if shape == "batch":
        with tr.span("operators.multi_window"):
            res = multi_bbox_stats(querier.df, querier.meta, q["windows"], layout=querier.layout)
            return res.toPandas()
    with tr.span("operators.window_query"):
        if shape == "bbox":
            res = querier.bbox(q["bbox"], q.get("minz"), q.get("maxz"))
        elif shape == "circle":
            res = querier.circle(q["center"], q["radius"])
        elif shape == "polygon":
            res = querier.polygon(gen.rings_wkt(q["rings"]))
        else:
            res = querier.knn(q["point"], q["k"])
    with tr.span("operators.window_query.fetch"):
        return res.toPandas()


def result_ok(q: dict, pdf, pts: np.ndarray) -> bool:
    if q["shape"] == "batch":
        want = oracle.batch(pts, q["windows"])
        got = {int(r.win_id): (int(r.n_points), float(r.z_min), float(r.z_max))
               for r in pdf.itertuples()}
        return got == want
    got = pdf[["x", "y", "z"]].to_numpy(dtype=np.float64)
    if q["shape"] == "knn":
        return np.array_equal(got, oracle.knn(pts, q))
    return oracle.same_points(got, oracle.window(pts, q))


def query_op(ctx: Ctx, querier, q: dict, pts: np.ndarray, kind: str, record: bool = True):
    """Send, time and check one query. A traced run sends each query
    twice, traced and untraced in alternating order, so the pair gives
    the tracing overhead on identical work."""
    runs = [None]
    if record and ctx.tracer.enabled:
        first = ctx.traced_next(kind)
        runs = [first, not first]
    for traced in runs:
        try:
            pdf, _ = ctx.timed(kind, lambda: run_query(ctx, querier, q), record, traced)
        except Exception as exc:  # a failed op is counted, the loop goes on
            ctx.error(f"{q['kind']} query", exc)
            return
        ctx.check(result_ok(q, pdf, pts), f"{q['kind']} query {q}")


def data_files(base: str) -> list[str]:
    """Parquet data files of the stored dataset (no metadata logs)."""
    root = os.path.join(base, f"pc_record_{DATASET}")
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def store_bytes(base: str) -> int:
    return sum(os.path.getsize(p) for p in data_files(base))


def store_ok(base: str, meta, pts_sorted: np.ndarray) -> bool:
    """A bulk-loaded flat store holds exactly the input points, each with
    its oracle Morton key, and its files are key-sorted and disjoint."""
    import pyarrow.parquet as pq

    spans, parts = [], []
    for p in data_files(base):
        t = pq.read_table(p, columns=["x", "y", "z", "sfc_key"])
        if t.num_rows == 0:
            continue
        key = t.column("sfc_key").to_numpy()
        if np.any(np.diff(key) < 0):
            return False
        spans.append((key[0], key[-1]))
        parts.append((np.column_stack([t.column(c).to_numpy() for c in "xyz"]), key))
    spans.sort()
    if any(a[1] > b[0] for a, b in zip(spans, spans[1:])):
        return False
    xyz = np.concatenate([p[0] for p in parts])
    keys = np.concatenate([p[1] for p in parts])
    if not np.array_equal(keys, oracle.morton_keys(xyz, meta.scales, meta.offsets)):
        return False
    ext = [pts_sorted[:, 0].min(), pts_sorted[:, 0].max(), pts_sorted[:, 1].min(),
           pts_sorted[:, 1].max(), pts_sorted[:, 2].min(), pts_sorted[:, 2].max()]
    return (meta.point_count == len(pts_sorted) and list(meta.bbox) == ext
            and np.array_equal(oracle.sort_rows(xyz), pts_sorted))


def setup_bulk(ctx: Ctx) -> str:
    """SETUPS bulk loads of the LAS tiles, each into a fresh store and
    checked; returns the directory of the last one."""
    pts_sorted = oracle.sort_rows(ctx.inputs.las_points)
    base = ""
    for i in range(SETUPS):
        if base:
            shutil.rmtree(base, ignore_errors=True)
        base = os.path.join(ctx.work, f"bulk_setup{i}")
        meta, dt = ctx.timed("setup", lambda: ingest_las(ctx, base), record=False)
        ctx.setup_s.append(dt)
        ctx.check(store_ok(base, meta, pts_sorted), f"bulk load into {base}")
    return base


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def window_mix(ctx: Ctx) -> None:
    base = setup_bulk(ctx)
    querier = open_store(ctx, base)
    pts = ctx.inputs.las_points
    warm = np.random.default_rng([ctx.seed, 2])
    for kind in WARMUP_KINDS:
        query_op(ctx, querier, gen.make_query(warm, ctx.inputs, kind), pts, kind, record=False)
    rng = np.random.default_rng([ctx.seed, 1])
    start = perf_counter()
    while perf_counter() - start < ctx.seconds:
        for kind in WINDOW_CYCLE:
            query_op(ctx, querier, gen.make_query(rng, ctx.inputs, kind), pts, kind)
    ctx.bytes_per_point = store_bytes(base) / len(pts)
    window = [op.seconds * 1e3 for op in ctx.ops if op.kind in READ_KINDS]
    knn = [op.seconds * 1e3 for op in ctx.ops if op.kind == "knn"]
    batch = [op.seconds for op in ctx.ops if op.kind == "batch"]
    ctx.named.update({
        "ingest_s_p50": _pct(ctx.setup_s, 50),
        "ingest_mpts_per_s": len(pts) / _pct(ctx.setup_s, 50) / 1e6,
        "query_ms_p50": _pct(window, 50),
        "query_ms_p90": _pct(window, 90),
        "knn_ms_p50": _pct(knn, 50),
        "queries_per_s": len(window) / (sum(window) / 1e3) if window else 0.0,
        "batch_windows_per_s": 36 * len(batch) / sum(batch) if batch else 0.0,
    })
    if ctx.tracer.enabled:
        probe(ctx, querier, base, pts)


def scheme_meta(ctx: Ctx, landed):
    """Stream metadata: count and z range from the landed base tiles, the
    planning grid and x/y extent from the tile scheme, so every later
    re-survey tile lands inside the grid."""
    from lasdb_spark.operators.ingest import compute_metadata
    from lasdb_spark.pcsfc.morton import compute_split_length, quantize

    with ctx.tracer.span("operators.ingest"):
        meta = compute_metadata(landed, DATASET, scales=_scales(), offsets=gen.OFFSETS)
    x0, x1, y0, y1 = ctx.inputs.tile_scheme
    meta.head_length, meta.tail_length = compute_split_length(
        quantize(x1, gen.SCALE, gen.OFFSETS[0]), quantize(y1, gen.SCALE, gen.OFFSETS[1]), 0.7
    )
    meta.bbox[:4] = [x0, x1, y0, y1]
    return meta


class StreamStore:
    """A store fed by one resumable stream over a watched directory."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx = ctx
        self.src = os.path.join(root, "incoming")
        self.base = os.path.join(root, "store")
        self.ckpt = os.path.join(root, "checkpoint")
        self.meta = None

    def land_las(self) -> None:
        """Base tiles arrive as LAS and land as Parquet in the watched dir."""
        from lasdb_spark.sources.las import las_to_df

        with self.ctx.tracer.span("sources.las"):
            las_to_df(self.ctx.spark, self.ctx.las_glob).write.parquet(self.src)

    def drop(self, path: str) -> None:
        os.makedirs(self.src, exist_ok=True)
        shutil.copy(path, os.path.join(self.src, "drop_" + os.path.basename(path)))

    def start(self, landed) -> None:
        from lasdb_spark.operators.ingest import save_metadata

        os.makedirs(self.base, exist_ok=True)
        self.meta = scheme_meta(self.ctx, landed)
        with self.ctx.tracer.span("operators.ingest"):
            save_metadata(self.meta, self.base, layout="flat")

    def resume(self) -> str:
        """Drain everything new in the watched dir; returns the run id."""
        from lasdb_spark.streaming.ingest import read_point_stream, stream_ingest_points

        with self.ctx.tracer.span("streaming.ingest"):
            q = stream_ingest_points(
                read_point_stream(self.ctx.spark, self.src), self.meta, self.base, self.ckpt
            )
            q.awaitTermination()
        return str(q.runId)


def _count_ok(ctx: Ctx, querier, n: int, what: str) -> None:
    ctx.check(querier.df.count() == n, f"{what}: stored point count")


def append_query(ctx: Ctx) -> None:
    from lasdb_spark.operators.ingest import compact_dataset

    inputs = ctx.inputs
    base_pts = inputs.las_points
    for i in range(SETUPS):
        root = os.path.join(ctx.work, f"append_setup{i}")
        store = StreamStore(ctx, root)

        def setup(store=store):
            store.land_las()
            store.start(ctx.spark.read.parquet(store.src))
            store.resume()
            return open_store(ctx, store.base)

        querier, dt = ctx.timed("setup", setup, record=False)
        ctx.setup_s.append(dt)
        _count_ok(ctx, querier, len(base_pts), "stream set-up")
        if i < SETUPS - 1:
            shutil.rmtree(root, ignore_errors=True)
    warm = np.random.default_rng([ctx.seed, 2])
    for kind in APPEND_QUERIES:
        query_op(ctx, querier, gen.make_query(warm, inputs, kind), base_pts, kind, record=False)

    rng = np.random.default_rng([ctx.seed, 1])
    truth, pts = [base_pts], base_pts
    start = perf_counter()
    c = 0
    while perf_counter() - start < ctx.seconds and c < len(inputs.resurvey_paths) - 1:
        store.drop(inputs.resurvey_paths[c])
        truth.append(inputs.resurvey_points[c])
        pts = np.concatenate(truth)
        try:
            querier = _append(ctx, store)
        except Exception as exc:
            ctx.error("append", exc)
            break
        _count_ok(ctx, querier, len(pts), f"append {c}")
        rect = inputs.tile_rect(inputs.resurvey_tiles[c])
        for kind in APPEND_QUERIES:
            query_op(ctx, querier, gen.make_query(rng, inputs, kind, rect), pts, "query")
        c += 1
    loop_s = perf_counter() - start
    ctx.bytes_per_point = store_bytes(store.base) / len(pts)

    def compact():
        with ctx.tracer.span("operators.ingest"):
            compact_dataset(ctx.spark, store.base, DATASET, target_partitions=ctx.nproc)
        return open_store(ctx, store.base)

    querier, compact_s = ctx.timed("compact", compact)
    _count_ok(ctx, querier, len(pts), "compaction")
    for kind in APPEND_QUERIES:
        query_op(ctx, querier, gen.make_query(rng, inputs, kind), pts, "query")

    appends = [op.seconds for op in ctx.ops if op.kind == "append"]
    queries = [op.seconds * 1e3 for op in ctx.ops if op.kind == "query"]
    ctx.named.update({
        "append_s_p50": _pct(appends, 50),
        "compact_s": compact_s,
        "query_ms_p50": _pct(queries, 50),
        "query_ms_p90": _pct(queries, 90),
        "appends": len(appends),
        "loop_s": loop_s,
    })
    if ctx.tracer.enabled:
        probe(ctx, querier, store.base, pts)
    ctx.known_defect = _append_after_compaction(ctx, store, c, pts)


def _append(ctx: Ctx, store: StreamStore):
    """One append op: resume the stream, then reopen the store. A traced
    append also counts the jobs of the stream's own job group."""
    run = {}

    def op():
        run["id"] = store.resume()
        return open_store(ctx, store.base)

    querier, _ = ctx.timed("append", op)
    last = ctx.ops[-1]
    if last.traced:
        jobs, tasks = job_counts(ctx.sc, run["id"])
        last.jobs += jobs
        last.tasks += tasks
    return querier


def _append_after_compaction(ctx: Ctx, store: StreamStore, c: int, pts: np.ndarray) -> tuple:
    """Known defect: compact_dataset swaps the store directory and with it
    the file sink's metadata log, so the resumed stream starts a log whose
    earlier entries are missing and the store no longer loads. Reported,
    not counted as a workload op and not worked around. Returns (ok,
    outcome)."""
    store.drop(ctx.inputs.resurvey_paths[c])
    try:
        store.resume()
        querier = open_store(ctx, store.base)
        n = querier.df.count()
    except Exception as exc:
        lines = str(exc).strip().splitlines() or [""]
        msg = next((ln.strip() for ln in lines if "Exception:" in ln), lines[0])
        msg = msg.replace(ctx.work, "<work>")
        return False, f"failed ({type(exc).__name__}: {msg[:200]})"
    want = len(pts) + len(ctx.inputs.resurvey_points[c])
    return n == want, "ok" if n == want else f"wrong count {n} != {want}"


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def _pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def end_to_end(ctx: Ctx) -> dict:
    """Workload-neutral end-to-end figures.

    Read percentiles cover single-window queries; ``ops_per_s`` divides
    the count of all timed ops but compaction by the time the system
    spent on all of them, compaction included."""
    read = [op.seconds * 1e3 for op in ctx.ops if op.kind in READ_KINDS]
    n = sum(op.kind != "compact" for op in ctx.ops)
    busy = sum(op.seconds for op in ctx.ops)
    return {
        "setup_s": _pct(ctx.setup_s, 50),
        "read_ms_p50": _pct(read, 50),
        "read_ms_p75": _pct(read, 75),
        "ops_per_s": n / busy if busy else 0.0,
        "bytes_per_point": ctx.bytes_per_point,
    }


def trace_overhead(ctx: Ctx) -> float:
    """(traced − untraced) / untraced mean op time, weighted by op kind."""
    num = den = 0.0
    for kind in {op.kind for op in ctx.ops}:
        t = [op.seconds for op in ctx.ops if op.kind == kind and op.traced]
        u = [op.seconds for op in ctx.ops if op.kind == kind and not op.traced]
        if t and u:
            n = len(t) + len(u)
            num += n * (np.mean(t) - np.mean(u))
            den += n * np.mean(u)
    return num / den if den else 0.0


# ---------------------------------------------------------------------------
# traced layer probe
# ---------------------------------------------------------------------------
def _window_of(q: dict):
    if q["shape"] == "bbox":
        return q["bbox"]
    if q["shape"] == "circle":
        (cx, cy), r = q["center"], q["radius"]
        return [cx - r, cx + r, cy - r, cy + r]
    xs = [p[0] for ring in q["rings"] for p in ring]
    ys = [p[1] for ring in q["rings"] for p in ring]
    return [min(xs), max(xs), min(ys), max(ys)]


def row_group_spans(base: str) -> list[tuple[int, int]]:
    """sfc_key (min, max) of every row group, from the Parquet footers."""
    import pyarrow.parquet as pq

    out = []
    for p in data_files(base):
        md = pq.ParquetFile(p).metadata
        col = md.schema.names.index("sfc_key")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            if md.row_group(rg).num_rows and st is not None and st.has_min_max:
                out.append((st.min, st.max))
    return out


def _hits(spans, ranges) -> int:
    return sum(any(lo <= hi2 and lo2 <= hi for lo2, hi2 in ranges) for lo, hi in spans)


def probe(ctx: Ctx, querier, base: str, pts: np.ndarray) -> None:
    """One fixed pass over every layer, run after the loop of a traced
    run: the same calls on every workload, against this run's inputs and
    its current store (window queries), a fresh bulk load (ingest
    counters) and a small stream store (append and compaction)."""
    from lasdb_spark.operators.ingest import compute_metadata, layout_report
    from lasdb_spark.pcsfc.range_search import (
        apply_key_ranges, decompose_bbox, planning_grid_bounds,
    )
    from lasdb_spark.sources.las import las_to_df

    sc, spark, L = ctx.sc, ctx.spark, ctx.layer
    tr = ctx.tracer

    with tr.op("probe_las"):
        t0 = perf_counter()
        with tr.span("sources.las"):
            las_to_df(spark, ctx.las_glob).count()
        L["las.read_s"] = perf_counter() - t0
    L["las.bytes_read"] = ctx.inputs.las_bytes
    with tr.op("probe_metadata"):
        t0 = perf_counter()
        with tr.span("operators.ingest"):
            compute_metadata(las_to_df(spark, ctx.las_glob), DATASET,
                             scales=_scales(), offsets=gen.OFFSETS)
        L["ingest.metadata_s"] = perf_counter() - t0

    pbase = os.path.join(ctx.work, "probe_ingest")
    with tr.op("probe_ingest") as g:
        meta = ingest_las(ctx, pbase)
    L["ingest.spark_jobs"], L["ingest.spark_tasks"] = job_counts(sc, g)
    ctx.check(store_ok(pbase, meta, oracle.sort_rows(ctx.inputs.las_points)), "probe ingest")
    rep = layout_report(spark, pbase, DATASET)
    L["ingest.files"] = rep["n_files"]
    L["ingest.overlap_fraction"] = rep["overlap_fraction"]
    L["ingest.row_groups"] = len(row_group_spans(pbase))
    shutil.rmtree(pbase, ignore_errors=True)

    # window queries against the workload's own store
    rg_spans = row_group_spans(base)
    meta = querier.meta
    sx, sy, _ = meta.scales
    ox, oy, _ = meta.offsets
    rng = np.random.default_rng([ctx.seed, 3])
    plan_ms, n_ranges, cover, hits, cand, rows, jobs, tasks, fetch = ([] for _ in range(9))
    ms: dict[str, float] = {}
    for kind in PROBE_KINDS:
        q = gen.make_query(rng, ctx.inputs, kind)
        x0, x1, y0, y1 = _window_of(q)
        t0 = perf_counter()
        for _ in range(PLAN_REPS):
            with tr.span("pcsfc"):
                qx0, qx1 = planning_grid_bounds(x0, x1, sx, ox)
                qy0, qy1 = planning_grid_bounds(y0, y1, sy, oy)
                ranges = decompose_bbox(qx0, qx1, qy0, qy1, bits=meta.grid_bits,
                                        max_ranges=querier.max_ranges)
        plan_ms.append((perf_counter() - t0) * 1e3 / PLAN_REPS)
        n_ranges.append(len(ranges))
        gmax = (1 << meta.grid_bits) - 1
        cells = (max(0, min(qx1, gmax) - max(qx0, 0) + 1)
                 * max(0, min(qy1, gmax) - max(qy0, 0) + 1))
        cover.append(sum(hi - lo + 1 for lo, hi in ranges) / max(cells, 1))
        hits.append(_hits(rg_spans, ranges))
        with tr.op(f"probe_{kind}") as g:
            t0 = perf_counter()
            pdf = run_query(ctx, querier, q)
            ms[kind] = (perf_counter() - t0) * 1e3
        j, t = job_counts(sc, g)
        jobs.append(j)
        tasks.append(t)
        fetch.append(sum((s["end"] - s["start"]) * 1e3 for s in tr.spans
                         if s["op"] == g and s["name"] == "operators.window_query.fetch"))
        ctx.check(result_ok(q, pdf, pts), f"probe {kind}")
        with tr.op("probe_candidates"):
            cand.append(apply_key_ranges(querier.df, "sfc_key", ranges).count())
        rows.append(len(pdf))
    L["pcsfc.plan_ms"] = float(np.mean(plan_ms))
    L["pcsfc.ranges_per_query"] = float(np.mean(n_ranges))
    L["pcsfc.cover_ratio"] = float(np.mean(cover))
    L["wq.row_groups_hit_per_query"] = float(np.mean(hits))
    L["wq.candidates_per_result"] = sum(cand) / max(sum(rows), 1)
    L["wq.jobs_per_query"] = float(np.mean(jobs))
    L["wq.tasks_per_query"] = float(np.mean(tasks))
    L["wq.fetch_ms"] = float(np.mean(fetch))
    L["wq.bbox_ms_p50"] = float(np.median([ms["bbox_s"], ms["bbox_m"], ms["bbox_l"]]))
    L["wq.thin_ms_p50"] = float(np.median([ms["thin_h"], ms["thin_v"]]))
    for kind in ("circle", "polygon", "zslab"):
        L[f"wq.{kind}_ms_p50"] = ms[kind]

    q = gen.make_query(rng, ctx.inputs, "knn")
    with tr.op("probe_knn") as g:
        pdf = run_query(ctx, querier, q)
    L["wq.knn_jobs_per_query"] = job_counts(sc, g)[0]
    ctx.check(result_ok(q, pdf, pts), "probe knn")
    q = gen.make_query(rng, ctx.inputs, "batch")
    with tr.op("probe_batch") as g:
        t0 = perf_counter()
        pdf = run_query(ctx, querier, q)
        L["mw.batch_ms"] = (perf_counter() - t0) * 1e3
    L["mw.jobs_per_batch"] = job_counts(sc, g)[0]
    ctx.check(result_ok(q, pdf, pts), "probe batch")

    _probe_stream(ctx)
    L["trace.overhead_frac"] = trace_overhead(ctx)


def _probe_stream(ctx: Ctx) -> None:
    """Stream one re-survey tile into a fresh store, append two more,
    and compact: append time, files per append, compaction cost and the
    key-range overlap before and after."""
    from lasdb_spark.operators.ingest import compact_dataset, layout_report

    L, tr, inputs = ctx.layer, ctx.tracer, ctx.inputs
    store = StreamStore(ctx, os.path.join(ctx.work, "probe_stream"))
    store.drop(inputs.resurvey_paths[0])
    store.start(ctx.spark.read.parquet(store.src))
    store.resume()
    append_s, files = [], []
    for i in (1, 2):
        before = len(data_files(store.base))
        store.drop(inputs.resurvey_paths[i])
        t0 = perf_counter()
        store.resume()
        append_s.append(perf_counter() - t0)
        files.append(len(data_files(store.base)) - before)
    L["stream.append_s"] = float(np.mean(append_s))
    L["stream.files_per_append"] = float(np.mean(files))
    L["compact.overlap_before"] = layout_report(ctx.spark, store.base, DATASET)["overlap_fraction"]
    t0 = perf_counter()
    with tr.span("operators.ingest"):
        compact_dataset(ctx.spark, store.base, DATASET, target_partitions=ctx.nproc)
    L["compact.s"] = perf_counter() - t0
    L["compact.bytes_rewritten"] = store_bytes(store.base)
    L["compact.overlap_after"] = layout_report(ctx.spark, store.base, DATASET)["overlap_fraction"]
    n = sum(len(inputs.resurvey_points[i]) for i in range(3))
    _count_ok(ctx, open_store(ctx, store.base), n, "probe stream compaction")
    shutil.rmtree(os.path.join(ctx.work, "probe_stream"), ignore_errors=True)


WORKLOADS = {
    "window_mix": window_mix,
    "append_query": append_query,
}
