"""Seeded input generation for the three benchmark workloads.

Every generator takes the workload seed and writes parquet under the given
directory; the same seed always gives byte-identical tables. Sizes and
distributions are fixed per workload (only positions, shapes and text vary
with the seed) so that the work per run is comparable across seeds.
"""
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# pip_tile: points over a world-scale extent, a few dense "megacity" clusters
# centred on polygons, and a polygon layer whose vertex counts follow a fixed
# schedule (4..1024). Each polygon sits inside its own cell of the join's
# res-5 grid (32 x 32 cells over the globe), so which points become refine
# candidates, and against how many vertices, does not depend on the seed.
PIP_EXTENT = (-180.0, -60.0, 180.0, 75.0)
PIP_POLYGONS = 64
PIP_VERTEX_SCHEDULE = [4, 8, 16, 32, 64, 128, 256, 512, 1024]
PIP_CLUSTERS = 8
PIP_CLUSTER_SHARE = 0.25
PIP_CELL_W, PIP_CELL_H = 360.0 / 32, 180.0 / 32
PIP_CELL_ROWS = range(6, 29)  # rows wholly inside the extent's latitudes
PIP_FILES = 8

# extract_sorted: feature rows over Europe-like bounds; the CLI filter bbox
# below keeps roughly a third of them.
EXTRACT_EXTENT = (-10.0, 35.0, 30.0, 60.0)
EXTRACT_FILTER_BBOX = (0.5, 40.5, 18.5, 52.5)
EXTRACT_MIN_CONFIDENCE = 0.25
EXTRACT_COLUMNS = ["url", "text", "confidence", "lat", "lng"]
EXTRACT_FILES = 8

# curate_multijob: the catalog fixture tables the six queries read
# (documents, lineitem, region), with the fixtures' schema and vocabulary.
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

SIZES = {
    "full": {"pip_points": 2_000_000, "extract_rows": 200_000,
             "documents": 500, "orders": 15_000},
    "tiny": {"pip_points": 20_000, "extract_rows": 6_000,
             "documents": 60, "orders": 300},
}


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


# ---------------------------------------------------------------- polygons

def _ring(rng, cx, cy, r, n, jitter):
    """Closed star-shaped ring: n vertices at even angles, radius r*(1-jitter..1)."""
    ang = np.arange(n) * (2 * np.pi / n) + rng.uniform(0, 2 * np.pi / n)
    rad = r * (1.0 - jitter * rng.random(n))
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang) * 0.8
    pts = np.stack([xs, ys], axis=1)
    return np.vstack([pts, pts[:1]])


def _wkb_polygon_body(rings):
    out = [struct.pack("<I", len(rings))]
    for ring in rings:
        out.append(struct.pack("<I", len(ring)))
        out.append(np.ascontiguousarray(ring, dtype="<f8").tobytes())
    return b"".join(out)


def wkb_polygon(rings):
    return struct.pack("<BI", 1, 3) + _wkb_polygon_body(rings)


def wkb_multipolygon(polys):
    body = b"".join(struct.pack("<BI", 1, 3) + _wkb_polygon_body(p) for p in polys)
    return struct.pack("<BII", 1, 6, len(polys)) + body


def pip_polygons(seed):
    """64 polygons, one per seeded res-5 cell: vertex counts cycle through
    PIP_VERTEX_SCHEDULE, every 4th has a hole, every 8th is a two-part
    MultiPolygon. Rows are (poly_id, theme, wkb, centre x, centre y)."""
    rng = _rng(seed, 1)
    cells = [(gx, gy) for gy in PIP_CELL_ROWS for gx in range(32)]
    rows = []
    for i, c in enumerate(rng.choice(len(cells), PIP_POLYGONS, replace=False)):
        gx, gy = cells[c]
        n = PIP_VERTEX_SCHEDULE[i % len(PIP_VERTEX_SCHEDULE)]
        r = 1.0 + 1.5 * ((i * 37) % 64) / 64.0
        multi = i % 8 == 3
        # the shape's bbox is 2r x 1.6r (3.05r wide with the second part);
        # keep it inside the cell, off-centre by at most half the slack
        width, height = (3.05 * r if multi else 2.0 * r), 1.6 * r
        slack_x = (PIP_CELL_W - width) / 4
        slack_y = (PIP_CELL_H - height) / 4
        bx = -180.0 + (gx + 0.5) * PIP_CELL_W + rng.uniform(-slack_x, slack_x)
        cy = -90.0 + (gy + 0.5) * PIP_CELL_H + rng.uniform(-slack_y, slack_y)
        cx = bx - (0.525 * r if multi else 0.0)
        rings = [_ring(rng, cx, cy, r, n, 0.3)]
        if i % 4 == 1:
            rings.append(_ring(rng, cx, cy, 0.35 * r, max(4, n // 4), 0.2)[::-1])
        if multi:
            other = _ring(rng, cx + 1.6 * r, cy, 0.45 * r, max(4, n // 2), 0.3)
            geom = wkb_multipolygon([rings, [other]])
        else:
            geom = wkb_polygon(rings)
        rows.append((i, ["buildings", "places", "divisions", "base"][i % 4], geom, cx, cy))
    return rows


def gen_pip(seed, out, size):
    n = SIZES[size]["pip_points"]
    polys = pip_polygons(seed)
    pq.write_table(pa.table({
        "poly_id": pa.array([p[0] for p in polys], pa.int64()),
        "theme": pa.array([p[1] for p in polys], pa.string()),
        "geometry": pa.array([p[2] for p in polys], pa.binary()),
    }), os.path.join(out, "polygons.parquet"))
    rng = _rng(seed, 2)
    xmin, ymin, xmax, ymax = PIP_EXTENT
    lng = rng.uniform(xmin, xmax, n)
    lat = rng.uniform(ymin, ymax, n)
    # megacities: cluster c sits on polygon 8c, so which polygon (and how
    # many vertices) the dense points hit is the same for every seed
    nc = int(n * PIP_CLUSTER_SHARE)
    which = rng.integers(0, PIP_CLUSTERS, nc)
    cx = np.array([polys[8 * c][3] for c in range(PIP_CLUSTERS)])
    cy = np.array([polys[8 * c][4] for c in range(PIP_CLUSTERS)])
    idx = rng.choice(n, nc, replace=False)
    lng[idx] = np.clip(cx[which] + rng.normal(0, 0.4, nc), xmin, xmax)
    lat[idx] = np.clip(cy[which] + rng.normal(0, 0.3, nc), ymin, ymax)
    _write(pa.table({
        "page_id": pa.array(np.arange(n, dtype=np.int64)),
        "lat": pa.array(lat), "lng": pa.array(lng),
    }), os.path.join(out, "points"), PIP_FILES)


# ---------------------------------------------------------------- extract

def point_wkb(xs, ys):
    """Little-endian WKB Points as one binary array."""
    rec = np.zeros(len(xs), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, xs, ys
    fixed = pa.FixedSizeBinaryArray.from_buffers(pa.binary(21), len(xs), [None, pa.py_buffer(rec.tobytes())])
    return fixed.cast(pa.binary())


def _prefixed(prefix, values, width=0):
    s = pc.cast(pa.array(values), pa.string())
    if width:
        s = pc.utf8_lpad(s, width, "0")
    return pc.binary_join_element_wise(prefix, s, "")


def gen_extract(seed, out, size):
    n = SIZES[size]["extract_rows"]
    rng = _rng(seed, 3)
    xmin, ymin, xmax, ymax = EXTRACT_EXTENT
    lng = rng.uniform(xmin, xmax, n)
    lat = rng.uniform(ymin, ymax, n)
    ntok = rng.integers(4, 16, n)
    offsets = np.concatenate([[0], np.cumsum(ntok)]).astype(np.int32)
    toks = pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(VOCAB), int(offsets[-1])), pa.int32()),
        pa.array(VOCAB)).cast(pa.string())
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), toks), " ")
    ids = np.arange(n, dtype=np.int64)
    host = rng.integers(0, 1000, n)
    _write(pa.table({
        "id": _prefixed("f", ids, 8),
        "url": pc.binary_join_element_wise(_prefixed("https://host", host),
                                           _prefixed(".example/p/", ids), ""),
        "text": text,
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "confidence": pa.array(rng.random(n)),
        "lat": pa.array(lat), "lng": pa.array(lng),
        "bbox": pa.StructArray.from_arrays(
            [pa.array(lng), pa.array(lat), pa.array(lng), pa.array(lat)],
            ["xmin", "ymin", "xmax", "ymax"]),
        "geometry": point_wkb(lng, lat),
    }), os.path.join(out, "features"), EXTRACT_FILES)


def extract_cli_args():
    """The CLI arguments of extract_sorted after --input/--output."""
    return ["--geom-filter-bbox", ",".join(str(v) for v in EXTRACT_FILTER_BBOX),
            "--filter", f"confidence,>,{EXTRACT_MIN_CONFIDENCE}",
            "--columns", ",".join(EXTRACT_COLUMNS), "--sort", "--geoparquet"]


# ---------------------------------------------------------------- curate

def gen_curate(seed, out, size):
    nd = SIZES[size]["documents"]
    rng = _rng(seed, 4)
    words = np.array(VOCAB)
    texts = []
    for i in range(nd):
        # ~5% near-duplicates of an earlier document (the fixtures' "dup" rows)
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, nd, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))
    no = SIZES[size]["orders"]
    keys = np.sort(rng.choice(no * 10, no, replace=False)).astype(np.int64)
    lines = rng.integers(1, 8, no)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(np.repeat(keys, lines)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)),
    }), os.path.join(out, "lineitem.parquet"))
    pq.write_table(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }), os.path.join(out, "region.parquet"))


GENERATORS = {"pip_tile": gen_pip, "extract_sorted": gen_extract,
              "curate_multijob": gen_curate}


def generate(workload, seed, out, size="full"):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out, size)
