"""LAS point-cloud source & sink (ASPRS LAS 1.2 pf0-3 and 1.4 pf6-8;
waveform formats 4/5/9/10 read their point attributes too — the
waveform payload itself lives in VLRs and is skipped).

The reference shells out to ``laspy`` (pipeline/import_data.py:25-36,
pcsfc/point_processor.py:32-33, exporter.py:39-96). This container has
no laspy, so a minimal pure-numpy codec for the public LAS 1.2 spec is
included; ``laspy`` is used instead when importable. LAZ-compressed
tiles decode through laspy[lazrs] when present, else through the
in-repo pure-python LASzip codec (``laszip_codec.py``, legacy formats
0-3) — no hard stop either way.

Distributed read: Spark has no LAS datasource, so files arrive via
``spark.read.format("binaryFile")`` (one row per file: path + content)
and are parsed per-file inside ``mapInPandas`` — each executor task
decodes whole files from bytes with numpy, emitting x/y/z rows. At
scale the parallel unit is the file (LAS tiles are naturally
file-partitioned); oversized single files should be converted to
Parquet once at the edge.

Sinks: driver-side write for window-query-sized results (reference
exporter semantics: v1.2 / pf3 / scales 0.1 / offsets 0,
exporter.py:76-89); per-partition distributed export for large clouds.
"""

from __future__ import annotations

import glob as _glob
import os
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

try:  # optional, not in this container
    import laspy  # noqa: F401

    HAVE_LASPY = True
except Exception:  # pragma: no cover
    HAVE_LASPY = False


def laz_backend_available() -> bool:
    """True when laspy can decompress LAZ (lazrs or laszip backend
    installed) — the optional dependency that turns the LAZ read path
    on (`pip install laspy[lazrs]` in a real deployment)."""
    if not HAVE_LASPY:
        return False
    try:  # pragma: no cover - backend not in this container
        from laspy import LazBackend

        return any(b.is_available() for b in LazBackend)
    except Exception:  # pragma: no cover
        return False


class LazUnsupportedError(ValueError):
    """LAZ input hit a reader with no decompression backend."""


_LAZ_GUIDANCE = (
    "LAZ-compressed input: install laspy with a LAZ backend "
    "(`pip install laspy[lazrs]`) so the reader decompresses inline, "
    "or decompress first (`laszip -i tile.laz -o tile.las` / "
    "`las2las`) and import the .las files"
)

# LAS 1.2 public header block: signature, ids, guid, version, strings,
# dates, layout, counts, then 12 doubles (scales ×3, offsets ×3,
# max/min x y z interleaved) = 227 bytes exactly.
_HEADER_FMT = "<4sHHIHH8sBB32s32sHHHIIBHI5I12d"
_HEADER_SIZE = struct.calcsize(_HEADER_FMT)
assert _HEADER_SIZE == 227
# LAS 1.4 appends, after the 1.2-compatible 227-byte prefix:
# start-of-waveform u8, start-of-first-EVLR u8, EVLR count u4,
# 64-bit point count u8, points-by-return u8[15] — 375 bytes total.
_HEADER14_TAIL_FMT = "<QQIQ15Q"
_HEADER14_SIZE = _HEADER_SIZE + struct.calcsize(_HEADER14_TAIL_FMT)
assert _HEADER14_SIZE == 375

# LAS point record layouts (ASPRS spec). Legacy formats 0-3 share a
# 20-byte core; LAS 1.4 formats 6-8 share a 30-byte core (wider return
# byte, i2 scan angle, gps_time always present). X/Y/Z grid ints lead
# every record — which is why xyz extraction works for all. Record
# lengths: pf0=20, pf1=28, pf2=26, pf3=34, pf6=30, pf7=36, pf8=38.
# The reference reads any format via laspy (pipeline/import_data.py:
# 27-29); this codec matches that generality for uncompressed LAS.
_CORE_FIELDS = [
    ("X", "<i4"),
    ("Y", "<i4"),
    ("Z", "<i4"),
    ("intensity", "<u2"),
    ("flags", "u1"),
    ("classification", "u1"),
    ("scan_angle", "i1"),
    ("user_data", "u1"),
    ("point_source_id", "<u2"),
]
_CORE14_FIELDS = [
    ("X", "<i4"),
    ("Y", "<i4"),
    ("Z", "<i4"),
    ("intensity", "<u2"),
    ("returns", "u1"),
    ("flags", "u1"),
    ("classification", "u1"),
    ("user_data", "u1"),
    ("scan_angle", "<i2"),
    ("point_source_id", "<u2"),
    ("gps_time", "<f8"),
]
_RGB_FIELDS = [("red", "<u2"), ("green", "<u2"), ("blue", "<u2")]


#: waveform formats = a base format plus the appended waveform-packet
#: pointer fields (descriptor u1, byte offset u8, size u4, return-point
#: f4, Xt/Yt/Zt f4×3 — 29 bytes, ``_WAVE_FIELDS``). Per the LAS 1.4
#: spec: pf4 = pf1 + wave, pf5 = pf3 + wave, pf9 = pf6 + wave,
#: pf10 = pf8 + wave (RGB AND NIR — pf10 is pf9 + RGB + NIR). The
#: waveform sample payload itself lives in (E)VLRs / external .wdp.
_WAVEFORM_BASE = {4: 1, 5: 3, 9: 6, 10: 8}
_WAVE_FIELDS = [
    ("wp_descriptor", "u1"),
    ("wp_offset", "<u8"),
    ("wp_size", "<u4"),
    ("wp_return_point", "<f4"),
    ("wp_dx", "<f4"),
    ("wp_dy", "<f4"),
    ("wp_dz", "<f4"),
]


def point_dtype(point_format: int) -> np.dtype:
    """numpy dtype of the decoded attribute record for a LAS point
    record format (0-10; waveform formats 4/5/9/10 = their base
    format's fields + the 29-byte wavepacket tail, ``_WAVEFORM_BASE``)."""
    base = _WAVEFORM_BASE.get(point_format, point_format)
    if 0 <= base <= 3:
        fields = list(_CORE_FIELDS)
        if base in (1, 3):
            fields.append(("gps_time", "<f8"))
        if base in (2, 3):
            fields.extend(_RGB_FIELDS)
    elif 6 <= base <= 8:
        fields = list(_CORE14_FIELDS)
        if base in (7, 8):
            fields.extend(_RGB_FIELDS)
        if base == 8:
            fields.append(("nir", "<u2"))
    else:
        raise ValueError(
            f"unsupported LAS point format {point_format} (supported: 0-10)"
        )
    if point_format != base:
        fields.extend(_WAVE_FIELDS)
    return np.dtype(fields)


_PF3_DTYPE = point_dtype(3)
assert point_dtype(0).itemsize == 20
assert point_dtype(1).itemsize == 28
assert point_dtype(2).itemsize == 26
assert _PF3_DTYPE.itemsize == 34
assert point_dtype(6).itemsize == 30
assert point_dtype(7).itemsize == 36
assert point_dtype(8).itemsize == 38
# spec record lengths for the waveform formats (base + 29-byte tail)
assert point_dtype(4).itemsize == 57
assert point_dtype(5).itemsize == 63
assert point_dtype(9).itemsize == 59
assert point_dtype(10).itemsize == 67


def parse_las_header(buf: bytes) -> dict:
    """Header-only scan (reference S1, import_data.py:25-36): point
    count + scales/offsets + bbox without touching point data."""
    if len(buf) < _HEADER_SIZE:
        raise ValueError(f"not a LAS file: {len(buf)} bytes < header size")
    f = struct.unpack(_HEADER_FMT, buf[:_HEADER_SIZE])
    # tuple indices: 0 sig, 1 file_src, 2 global_enc, 3-6 guid, 7 vmaj,
    # 8 vmin, 9 sysid, 10 software, 11 doy, 12 year, 13 header_size,
    # 14 offset_to_points, 15 n_vlrs, 16 point_format, 17 record_len,
    # 18 n_points, 19-23 by_return, 24-26 scales, 27-29 offsets,
    # 30-35 max_x,min_x,max_y,min_y,max_z,min_z
    if f[0] != b"LASF":
        raise ValueError(f"bad LAS signature {f[0]!r}")
    max_x, min_x, max_y, min_y, max_z, min_z = f[30:36]
    version = (f[7], f[8])
    count = f[18]  # legacy u32 count; 0 in 1.4 files with pf>=6
    evlr_start, n_evlrs = 0, 0
    if version >= (1, 4):
        if len(buf) < _HEADER14_SIZE:
            raise ValueError("truncated LAS 1.4 header")
        tail = struct.unpack(
            _HEADER14_TAIL_FMT, buf[_HEADER_SIZE:_HEADER14_SIZE]
        )
        count = tail[3] or count  # 64-bit count supersedes legacy
        evlr_start, n_evlrs = tail[1], tail[2]
    return {
        "evlr_start": evlr_start,
        "n_evlrs": n_evlrs,
        "version": version,
        "header_size": f[13],
        "n_vlrs": f[15],
        "point_format": f[16] & 0x3F,  # high bits flag LAZ compression
        # LAZ convention: compressed files set bit 7 of the format id
        # (record layouts are otherwise identical to plain LAS)
        "compressed": bool(f[16] & 0x80),
        "point_record_length": f[17],
        "point_count": count,
        "offset_to_points": f[14],
        "scales": list(f[24:27]),
        "offsets": list(f[27:30]),
        "bbox": [min_x, max_x, min_y, max_y, min_z, max_z],
    }


def _scaled_xyz(pts: np.ndarray, hdr: dict) -> np.ndarray:
    """Grid ints X/Y/Z × scale + offset → (n, 3) float64 x/y/z."""
    out = np.empty((len(pts), 3), dtype=np.float64)
    for i, (s, o) in enumerate(zip(hdr["scales"], hdr["offsets"])):
        out[:, i] = pts["XYZ"[i]] * s + o
    return out


def read_las_bytes(buf: bytes) -> np.ndarray:
    """Full point scan from bytes → (n, 3) float64 of real-world x/y/z
    (reference S2: integer grid × scale + offset). LAZ payloads route
    through laspy when a decompression backend is installed (the
    reference reads AHN tiles via laspy, pipeline/import_data.py:27-29,
    which handles LAZ the same way); otherwise the error says exactly
    how to proceed."""
    hdr = parse_las_header(buf)
    if hdr["compressed"]:
        if laz_backend_available():  # pragma: no cover - no backend here
            import io

            las = laspy.read(io.BytesIO(buf))
            return np.vstack((las.x, las.y, las.z)).T
        if hdr["point_format"] in (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10):
            # dependency-free fallback: the in-repo LASzip codecs
            # (sources/laszip_codec.py for legacy pointwise LAZ,
            # sources/laszip_v3.py for LAS 1.4 layered LAZ — the
            # modern AHN4+ shape); slower than laspy[lazrs] but no
            # longer a hard stop on a bare container
            from .laszip_codec import decompress_laz_points

            try:
                pts = decompress_laz_points(buf, hdr)
            except ValueError as exc:
                raise LazUnsupportedError(
                    f"{exc}; {_LAZ_GUIDANCE}"
                ) from exc
            return _scaled_xyz(pts, hdr)
        raise LazUnsupportedError(_LAZ_GUIDANCE)
    n = hdr["point_count"]
    rl = hdr["point_record_length"]
    dt = point_dtype(hdr["point_format"])
    if rl < dt.itemsize:
        raise ValueError(
            f"record length {rl} too small for point format "
            f"{hdr['point_format']} (needs {dt.itemsize})"
        )
    # bound-check BEFORE the buffer view: a corrupt header's giant
    # count must fail as a clean ValueError, not an OverflowError deep
    # inside numpy
    need = hdr["offset_to_points"] + n * rl
    if hdr["offset_to_points"] < 0 or need > len(buf):
        raise ValueError(
            f"truncated LAS: header declares {n} x {rl}-byte points at "
            f"offset {hdr['offset_to_points']} but the file has only "
            f"{len(buf)} bytes"
        )
    raw = np.frombuffer(
        buf, dtype=np.uint8, count=n * rl, offset=hdr["offset_to_points"]
    ).reshape(n, rl)
    # spec allows extra bytes after the format's fields: slice them off
    pts = raw[:, : dt.itemsize].copy().view(dt).reshape(n)
    return _scaled_xyz(pts, hdr)


def read_las_file(path: str) -> np.ndarray:
    if HAVE_LASPY:  # pragma: no cover
        las = laspy.read(path)
        return np.vstack((las.x, las.y, las.z)).T
    with open(path, "rb") as fh:
        return read_las_bytes(fh.read())


def read_las_header_file(path: str) -> dict:
    with open(path, "rb") as fh:
        return parse_las_header(fh.read(_HEADER14_SIZE))


def _grid_records(xyz, point_format: int, scales, offsets):
    """(xyz as (n, 3) float64, zeroed ``point_format`` records with
    X/Y/Z = round((v - offset) / scale))."""
    xyz = np.asarray(xyz, dtype=np.float64).reshape(-1, 3)
    pts = np.zeros(len(xyz), dtype=point_dtype(point_format))
    for i, (s, o) in enumerate(zip(scales, offsets)):
        pts["XYZ"[i]] = np.round((xyz[:, i] - o) / s).astype(np.int64)
    return xyz, pts


def write_las(
    xyz: np.ndarray,
    path: str,
    scales: tuple[float, float, float] = (0.1, 0.1, 0.1),
    offsets: tuple[float, float, float] = (0.0, 0.0, 0.0),
    point_format: int = 3,
) -> None:
    """Write LAS: point formats 0-3 as v1.2 (reference exporter
    defaults: exporter.py:76-89 — pf3, scales 0.1, offsets 0) and
    formats 6-8 as v1.4 (375-byte header, 64-bit count)."""
    if point_format in _WAVEFORM_BASE:
        raise ValueError(
            f"point format {point_format} is read-only here: writing it "
            "requires waveform packets this engine does not produce — "
            f"export as format {_WAVEFORM_BASE[point_format]} instead"
        )
    v14 = point_format >= 6
    hdr_size = _HEADER14_SIZE if v14 else _HEADER_SIZE
    xyz, pts = _grid_records(xyz, point_format, scales, offsets)
    n = len(xyz)
    if n:
        mins = xyz.min(axis=0)
        maxs = xyz.max(axis=0)
    else:
        mins = maxs = np.zeros(3)
    header = struct.pack(
        _HEADER_FMT,
        b"LASF",
        0,  # file source id
        0,  # global encoding
        0, 0, 0, b"\x00" * 8,  # guid
        1, 4 if v14 else 2,
        b"lasdb_spark".ljust(32, b"\x00"),
        b"lasdb_spark exporter".ljust(32, b"\x00"),
        1, 2026,  # creation day/year
        hdr_size,
        hdr_size,  # offset to point data
        0,  # VLR count
        point_format,
        pts.dtype.itemsize,
        0 if v14 else n,  # legacy u32 count (0 for pf>=6 per spec)
        *((0, 0, 0, 0, 0) if v14 else (n, 0, 0, 0, 0)),  # legacy by-return
        float(scales[0]), float(scales[1]), float(scales[2]),
        float(offsets[0]), float(offsets[1]), float(offsets[2]),
        float(maxs[0]), float(mins[0]),
        float(maxs[1]), float(mins[1]),
        float(maxs[2]), float(mins[2]),
    )
    if v14:
        header += struct.pack(
            _HEADER14_TAIL_FMT, 0, 0, 0, n, n, *([0] * 14)
        )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(header)
        fh.write(pts.tobytes())


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------
POINT_SCHEMA = "x double, y double, z double"


def las_to_df(spark, path_or_glob: str):
    """Distributed LAS read: binaryFile rows → per-file numpy decode in
    mapInPandas (reference S2/S3; DirLoader's sequential per-file loop
    becomes task-parallel across files)."""
    df = spark.read.format("binaryFile").load(path_or_glob)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                xyz = read_las_bytes(bytes(content))
                yield pd.DataFrame({"x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]})

    return df.select("content").mapInPandas(_parse, schema=POINT_SCHEMA)


def scan_las_metadata(path_or_dir: str) -> list[dict]:
    """Driver-side header-only scan of a file or directory (S1/S3/S4 —
    headers are 227 bytes; reading them on the driver is cheap even for
    thousands of tiles)."""
    if os.path.isdir(path_or_dir):
        paths = sorted(
            p
            for p in _glob.glob(os.path.join(path_or_dir, "*"))
            if p.lower().endswith((".las", ".laz"))
        )
    else:
        paths = [path_or_dir]
    return [dict(read_las_header_file(p), path=p) for p in paths]


def union_metadata(headers: list[dict]) -> dict:
    """Multi-file metadata union (S4, import_data.py:76-99): sum counts,
    min/max-union bboxes."""
    if not headers:
        raise ValueError("no LAS files found")
    bboxes = np.array([h["bbox"] for h in headers])
    return {
        "point_count": int(sum(h["point_count"] for h in headers)),
        "bbox": [
            float(bboxes[:, 0].min()),
            float(bboxes[:, 1].max()),
            float(bboxes[:, 2].min()),
            float(bboxes[:, 3].max()),
            float(bboxes[:, 4].min()),
            float(bboxes[:, 5].max()),
        ],
    }


def write_laz(
    xyz: np.ndarray,
    path: str,
    scales=(0.1, 0.1, 0.1),
    offsets=(0.0, 0.0, 0.0),
    point_format: int = 0,
) -> None:
    """Compressed export: xyz → chunked LAZ via the in-repo LASzip
    codecs. ``point_format`` 0 (default) writes legacy pointwise LAZ;
    6 writes a LAS 1.4 layered tile (the modern AHN4+ exchange shape,
    non-spatial fields zeroed, single-return records). Same grid
    quantization as :func:`write_las`."""
    _, pts = _grid_records(xyz, point_format, scales, offsets)
    if point_format == 0:
        from .laszip_codec import compress_points_to_laz

        buf = compress_points_to_laz(pts, 0, scales, offsets)
    elif point_format in (6, 7, 8):
        from .laszip_v3 import compress_points_to_laz14

        pts["returns"] = 0x11  # first-of-one, the spec's minimum
        buf = compress_points_to_laz14(pts, point_format, scales, offsets)
    else:
        raise ValueError(
            f"LAZ export supports formats 0 and 6-8, got {point_format}"
        )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(buf)


def df_to_las(df, path: str, scales=(0.1, 0.1, 0.1), offsets=(0.0, 0.0, 0.0)) -> int:
    """Driver-side LAS/LAZ export for window-query-sized results
    (S10); a ``.laz`` path compresses through the in-repo codec.
    Returns point count."""
    pdf = df.select("x", "y", "z").toPandas()
    writer = write_laz if path.lower().endswith(".laz") else write_las
    writer(pdf.to_numpy(), path, scales, offsets)
    return len(pdf)


def df_to_las_partitioned(
    df,
    out_dir: str,
    scales=(0.1, 0.1, 0.1),
    offsets=(0.0, 0.0, 0.0),
    compress: bool = False,
):
    """Distributed export: one LAS (or LAZ, ``compress=True``) file
    per partition via mapInPandas (for clouds too large to collect).
    Returns DataFrame of written files (path, n_points). Compression
    runs per-task, so the pure-python codec's cost parallelizes
    across partitions like the read side."""
    os.makedirs(out_dir, exist_ok=True)
    ext, writer = ("laz", write_laz) if compress else ("las", write_las)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import uuid

        rows = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.{ext}")
            writer(pdf[["x", "y", "z"]].to_numpy(), p, scales, offsets)
            rows.append((p, len(pdf)))
        yield pd.DataFrame(rows, columns=["path", "n_points"])

    return df.select("x", "y", "z").mapInPandas(_write, schema="path string, n_points long")
