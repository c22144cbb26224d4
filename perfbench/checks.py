"""Correctness checks that run outside the engine's process, each against an
independent computation: a brute-force even-odd test for pip_tile, a
readback of the written files for extract_sorted, and the DuckDB oracle
SQL for curate_multijob. Each check returns (name, ok, detail)."""
import glob
import json
import os
import struct

import numpy as np
import pyarrow.parquet as pq

import gen


# ---------------------------------------------------------------- pip_tile

def decode_wkb(b):
    """Polygon / MultiPolygon WKB -> list of polygons, each a list of (n, 2) rings."""
    def polygon(off):
        order = "<" if b[off] == 1 else ">"
        gtype, = struct.unpack_from(order + "I", b, off + 1)
        assert gtype == 3, gtype
        nr, = struct.unpack_from(order + "I", b, off + 5)
        off += 9
        rings = []
        for _ in range(nr):
            n, = struct.unpack_from(order + "I", b, off)
            off += 4
            rings.append(np.frombuffer(b, dtype=order + "f8", count=2 * n, offset=off).reshape(n, 2))
            off += 16 * n
        return rings, off

    order = "<" if b[0] == 1 else ">"
    gtype, = struct.unpack_from(order + "I", b, 1)
    if gtype == 3:
        return [polygon(0)[0]]
    assert gtype == 6, gtype
    n, = struct.unpack_from(order + "I", b, 5)
    off, polys = 9, []
    for _ in range(n):
        rings, off = polygon(off)
        polys.append(rings)
    return polys


def inside(polys, x, y):
    """Even-odd rule over all rings of each polygon; inside any polygon."""
    out = np.zeros(len(x), dtype=bool)
    for rings in polys:
        odd = np.zeros(len(x), dtype=bool)
        for ring in rings:
            xi, yi = ring[:, 0], ring[:, 1]
            xj, yj = np.roll(xi, 1), np.roll(yi, 1)
            for s in range(0, len(xi), 128):
                a = slice(s, s + 128)
                exi, eyi, exj, eyj = (v[a, None] for v in (xi, yi, xj, yj))
                straddle = (eyi > y) != (eyj > y)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xc = (exj - exi) * (y - eyi) / (eyj - eyi) + exi
                odd ^= (np.count_nonzero(straddle & (x < xc), axis=0) % 2).astype(bool)
        out |= odd
    return out


def tile_xy(lat, lng, zoom):
    n = 1 << zoom
    tx = np.clip(np.floor((lng + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    r = np.radians(lat)
    ty = np.clip(np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / np.pi) / 2.0 * n),
                 0, n - 1).astype(np.int64)
    return tx, ty


def check_pip(data, out):
    pts = pq.read_table(os.path.join(data, "points")).to_pandas()
    pts = pts[pts.page_id % 97 == 0]
    polys = pq.read_table(os.path.join(data, "polygons.parquet")).to_pylist()
    x, y, ids = pts.lng.to_numpy(), pts.lat.to_numpy(), pts.page_id.to_numpy()
    want = set()
    for p in polys:
        rings = decode_wkb(p["geometry"])
        allv = np.vstack([r for poly in rings for r in poly])
        near = ((x >= allv[:, 0].min()) & (x <= allv[:, 0].max()) &
                (y >= allv[:, 1].min()) & (y <= allv[:, 1].max()))
        hit = inside(rings, x[near], y[near])
        want.update((int(i), p["poly_id"]) for i in ids[near][hit])
    got_t = pq.read_table(os.path.join(out, "verify", "pip_sample")).to_pandas()
    got = set(zip(got_t.page_id.astype(int), got_t.poly_id.astype(int)))
    checks = [("pip.sample_pairs", got == want and len(want) > 0,
               f"{len(got)} engine pairs, {len(want)} brute-force pairs, "
               f"{len(got - want)} extra, {len(want - got)} missing")]
    m = got_t.merge(pts, on="page_id")
    tx, ty = tile_xy(m.lat.to_numpy(), m.lng.to_numpy(), 12)
    bad = int(np.count_nonzero((tx != m.tile_x.to_numpy()) | (ty != m.tile_y.to_numpy())))
    checks.append(("pip.tiles_z12", bad == 0 and len(m) == len(got_t), f"{bad} of {len(m)} tiles differ"))
    return checks


# ---------------------------------------------------------------- extract_sorted

def hilbert_d(order, x, y):
    """Vectorised xy -> d on the Hilbert curve of side 2**order."""
    x, y, d = x.copy(), y.copy(), np.zeros_like(x)
    s = 1 << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, s - 1 - x, x)
        y = np.where(flip, s - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


def hilbert_index(lat, lng, env, order=16):
    xmin, ymin, xmax, ymax = env
    n = float(1 << order)
    hi = (1 << order) - 1
    gx = np.clip(np.floor((lng - xmin) / (xmax - xmin) * n), 0, hi).astype(np.int64)
    gy = np.clip(np.floor((lat - ymin) / (ymax - ymin) * n), 0, hi).astype(np.int64)
    return hilbert_d(order, gx, gy)


def check_extract(data, out):
    src = pq.read_table(os.path.join(data, "features"))
    bb = src.column("bbox").combine_chunks()
    fx0, fy0, fx1, fy1 = gen.EXTRACT_FILTER_BBOX
    keep = ((bb.field("xmin").to_numpy() < fx1) & (bb.field("xmax").to_numpy() > fx0) &
            (bb.field("ymin").to_numpy() < fy1) & (bb.field("ymax").to_numpy() > fy0) &
            (src.column("confidence").to_numpy() > gen.EXTRACT_MIN_CONFIDENCE))
    want_ids = set(np.asarray(src.column("id").to_pylist(), dtype=object)[keep])
    requested = set(gen.EXTRACT_COLUMNS) | {"id", "geometry"}
    want_cols = [c for c in src.column_names if c in requested]

    files = sorted(glob.glob(os.path.join(out, "extract", "part-*.parquet")))
    tables = [pq.read_table(f) for f in files]
    rows = sum(t.num_rows for t in tables)
    got_ids = set(i for t in tables for i in t.column("id").to_pylist())
    checks = [("extract.rows", rows == len(want_ids) and got_ids == want_ids and rows > 0,
               f"{rows} rows written, {len(want_ids)} expected, {len(got_ids ^ want_ids)} ids differ")]
    cols = [t.column_names for t in tables]
    checks.append(("extract.schema", len(cols) > 0 and all(c == want_cols for c in cols),
                   f"got {cols[0] if cols else None}, expected {want_cols}"))
    keys = np.concatenate([hilbert_index(t.column("lat").to_numpy(), t.column("lng").to_numpy(),
                                         gen.EXTRACT_FILTER_BBOX) for t in tables]) if tables else np.zeros(0)
    drops = int(np.count_nonzero(np.diff(keys) < 0))
    checks.append(("extract.hilbert_order", drops == 0 and len(keys) > 0,
                   f"{drops} decreases over {len(keys)} rows in {len(files)} files"))
    geo = [pq.read_metadata(f).metadata or {} for f in files]
    ok = len(geo) > 0 and all(b"geo" in m and "geometry" in json.loads(m[b"geo"])["columns"] for m in geo)
    checks.append(("extract.geo_metadata_every_file", ok, f"{len(files)} files"))
    return checks


# ---------------------------------------------------------------- curate_multijob

def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def check_curate(data, out):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "lineitem", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    oracle = json.load(open(os.path.join(out, "verify", "oracle_sql.json")))
    checks = []
    for q, sql in oracle.items():
        path = os.path.join(out, "verify", q)
        if not os.path.isdir(path):
            checks.append((f"curate.{q}", False, "no engine result"))
            continue
        got, exp = _norm(pd.read_parquet(path)), _norm(con.execute(sql).df())
        if list(got.columns) != list(exp.columns):
            checks.append((f"curate.{q}", False, f"columns {list(got.columns)} vs {list(exp.columns)}"))
            continue
        if len(got) != len(exp) or len(got) == 0:
            checks.append((f"curate.{q}", False, f"{len(got)} rows vs {len(exp)} expected"))
            continue
        bad = []
        for c in got.columns:
            g, e = got[c].to_numpy(), exp[c].to_numpy()
            if g.dtype.kind == "f" or e.dtype.kind == "f":
                same = np.array_equal(g.astype(float), e.astype(float), equal_nan=True)
            else:
                same = bool((pd.Series(g).astype(str).values == pd.Series(e).astype(str).values).all())
            if not same:
                bad.append(c)
        checks.append((f"curate.{q}", not bad, f"{len(got)} rows" + (f", columns differ: {bad}" if bad else "")))
    return checks


CHECKS = {"pip_tile": check_pip, "extract_sorted": check_extract,
          "curate_multijob": check_curate}
