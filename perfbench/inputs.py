"""Seeded benchmark inputs and their numpy-oracle expected outputs.

Everything here is numpy/pyarrow only (no Spark), so the benchmark can build
its inputs and answers before the engine's JVM starts, and outside every
timed region. One input set lives in one directory, keyed by
(workload, seed, size); `ensure_inputs` builds it once and later runs with
the same key reuse it.

Inputs follow the fixture schemas of FIXTURES.md:
  * documents.parquet  -- documents(doc_id, spans array<struct<kind, text,
                          media_ref, offset>>), drawn from
                          numpy.random.default_rng(seed): offsets increase
                          inside a doc, every doc has >= 1 geo span, and 70%
                          of geo points fall inside a country bbox (§1);
  * cells_*.parquet    -- fixtures.generate.gen_rasters(coarse, fine,
                          default_rng(seed)) (§3);
  * boundaries.parquet -- fixtures.world.boundaries_records() (§2).

Expected outputs come from the independent oracle of
aezspark/fixtures/oracle.py: `DenseWorld`, `aez_by_country` and
`tile_codes` for raster_zonal; winding-checked PIP (`contains_checked`),
`BoundaryIndex.nearest_bruteforce` and `tile_codes` (through a class
grouping, see tile_codes_grid) for docs_fused.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aezspark.fixtures import generate as gen
from aezspark.fixtures import oracle, world
from aezspark.geometry import BoundaryIndex
from aezspark.grid import GridSpec

INPUTS_VERSION = 5  # bump when the generated files or expected outputs change
SAMPLE_POINTS = 200_000  # driver-side geometry probe sample (traced runs)
_ROW_GROUP = 16384  # same row-group size as fixtures/generate.py
# documents are written as this many equal row groups: Spark splits a
# parquet scan at row-group granularity, so a fixed count gives every seed
# the same task layout (3 waves at local[4]) instead of a seed-dependent
# ragged last wave
DOC_ROW_GROUPS = 12

_SENTENCES = 512
_MEDIA = 1024


def grids(coarse_px: float) -> tuple[GridSpec, GridSpec]:
    coarse = GridSpec(grid_id=1, px_deg=coarse_px)
    return coarse, coarse.refine(3, grid_id=2)


# ------------------------------------------------------------- documents

def _country_bboxes() -> np.ndarray:
    """(lat_min, lat_max, lon_min, lon_max) of every feature that survives
    admin normalization (the same bboxes fixtures/generate.py aims at)."""
    out = []
    for _fid, admin, _a3, (rlons, rlats), _holes in world.raw_features():
        if world.normalize_admin(admin) is None:
            continue
        out.append((rlats.min(), rlats.max(), rlons.min(), rlons.max()))
    return np.asarray(out, dtype=np.float64)


def gen_documents(n_docs: int, rng: np.random.Generator):
    """Return (documents table, geo points) for `n_docs` seeded documents.

    Geo points are returned as (doc index, span index, lat, lon) arrays in
    span order; their text is the shortest round-trip decimal form, so the
    engine's string parse recovers exactly these doubles."""
    n_spans = rng.integers(1, 8, size=n_docs)
    total = int(n_spans.sum())
    list_offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=list_offsets[1:])
    doc_of_span = np.repeat(np.arange(n_docs), n_spans)
    pos_in_doc = np.arange(total) - list_offsets[:-1][doc_of_span]

    kind = rng.integers(0, 3, size=total)  # 0 text, 1 geo, 2 media
    forced = (rng.random(n_docs) * n_spans).astype(np.int64)
    kind[list_offsets[:-1] + forced] = 1  # every doc has >= 1 geo span

    geo = np.flatnonzero(kind == 1)
    n_geo = len(geo)
    boxes = _country_bboxes()
    in_box = rng.random(n_geo) < 0.70
    box = boxes[rng.integers(0, len(boxes), size=n_geo)]
    u1, u2 = rng.random(n_geo), rng.random(n_geo)
    lat = np.where(in_box, box[:, 0] + (box[:, 1] - box[:, 0]) * u1,
                   -60.0 + 120.0 * u1)
    lon = np.where(in_box, box[:, 2] + (box[:, 3] - box[:, 2]) * u2,
                   -180.0 + 360.0 * u2)

    lat_s = pc.cast(pa.array(lat), pa.string())
    lon_s = pc.cast(pa.array(lon), pa.string())
    geo_text = pc.binary_join_element_wise(lat_s, lon_s, ",")
    if not np.array_equal(pc.cast(lat_s, pa.float64()).to_numpy(), lat):
        raise AssertionError("geo text does not round-trip its latitude")

    words = gen._WORDS
    sent_rng = np.random.default_rng(rng.integers(1 << 62))
    sentences = pa.array([
        " ".join(words[j] for j in sent_rng.integers(0, len(words),
                                                     size=3 + i % 10))
        for i in range(_SENTENCES)])
    media = pa.array([f"media://{('img', 'aud', 'vid')[i % 3]}/{i:04d}"
                      for i in range(_MEDIA)])

    text = pc.take(sentences, rng.integers(0, _SENTENCES, size=total))
    text = pc.if_else(pa.array(kind == 2), pa.scalar(""), text)
    full_geo = np.zeros(total, dtype=np.int64)
    full_geo[geo] = np.arange(n_geo)
    text = pc.if_else(pa.array(kind == 1), pc.take(geo_text, full_geo), text)
    media_ref = pc.if_else(pa.array(kind == 2),
                           pc.take(media, rng.integers(0, _MEDIA, size=total)),
                           pa.scalar(""))
    kinds = pc.take(pa.array(["text", "geo", "media"]), kind)

    # offsets: 0 at each doc's first span, strictly increasing after it
    step = rng.integers(1, 51, size=total).astype(np.int64)
    csum = np.cumsum(step)
    offset = (csum - step) - (csum - step)[list_offsets[:-1]][doc_of_span]
    if (offset[pos_in_doc == 0] != 0).any():
        raise AssertionError("span offsets must start at 0 in every doc")

    spans = pa.StructArray.from_arrays(
        [kinds, text, media_ref, pa.array(offset.astype(np.int32))],
        fields=list(gen._SPAN_TYPE))
    doc_ids = pc.binary_join_element_wise(
        pa.scalar("doc-"),
        pc.utf8_lpad(pc.cast(pa.array(np.arange(n_docs)), pa.string()), 8, "0"),
        "")
    table = pa.table({
        "doc_id": doc_ids,
        "spans": pa.ListArray.from_arrays(pa.array(list_offsets), spans),
    })
    return table, (doc_of_span[geo], pos_in_doc[geo], lat, lon)


# ----------------------------------------------------------------- oracle
#
# docs_fused needs the AEZ code of every fine pixel of a 0.25 deg world
# (9.3M pixels), where oracle.tile_codes over a DenseWorld takes ~30 s per
# seed on a 4-vCPU host: too long for a run that builds a new seed's inputs.
# Tile codes are elementwise in (kg, wk, slope bands, lc), so tile_codes_grid
# evaluates the oracle on one representative pixel per distinct input class
# and broadcasts back, spot-checking random pixels against a direct
# evaluation so that a grouping that is too coarse fails loudly.

_SPOT = 512  # pixels re-evaluated directly per grouped oracle call


class OracleMismatch(AssertionError):
    pass


def dense_world(tables: dict, coarse: GridSpec, fine: GridSpec) -> SimpleNamespace:
    """Dense raster arrays (0 where no row, raster fill semantics) from the
    in-memory cell tables, like oracle.DenseWorld without its per-feature
    masks (fine-pixel PIP of every feature, slow at 0.25 deg)."""

    def dense(name, col, g):
        t = tables[name]
        arr = np.zeros((g.ny, g.nx), dtype=np.int32)
        arr[t["y"].to_numpy(), t["x"].to_numpy()] = t[col].to_numpy()
        return arr

    return SimpleNamespace(
        coarse=coarse, fine=fine,
        kg=dense("cells_kg", "kg_class", coarse),
        wk=dense("cells_wk", "wk_class", coarse),
        lc=dense("cells_lc", "lccs", fine),
        sl={b: dense("cells_slope", f"c{b}", coarse) for b in range(1, 9)})


def _pixel_values(w, yf, xf) -> dict:
    """Raw inputs of fine pixels (yf, xf): coarse values via the x3 coupling."""
    yc, xc = yf // 3, xf // 3
    return {"kg": w.kg[yc, xc], "wk": w.wk[yc, xc], "lc": w.lc[yf, xf],
            "sl": {b: w.sl[b][yc, xc] for b in range(1, 9)}}


def _tile_codes_direct(v: dict) -> dict:
    """oracle.tile_codes on a list of pixels: pixel i becomes a 1x1 coarse
    cell whose 3x3 fine block all carry lc[i]."""
    n = len(v["kg"])
    row = lambda a: np.asarray(a, dtype=np.int32)[None, :]
    fake = SimpleNamespace(
        kg=row(v["kg"]), wk=row(v["wk"]),
        sl={b: row(a) for b, a in v["sl"].items()},
        lc=oracle.rep3(row(v["lc"])),
        fine=SimpleNamespace(ny=3, nx=3 * n,
                             cell_id=lambda y, x: np.zeros(len(y), np.int64)))
    t = oracle.tile_codes(fake)
    return {c: t[c].to_numpy().reshape(3, 3 * n)[0, ::3]
            for c in ("aez_code", "slope_code", "lu_code", "soil_code")}


def _classes(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(one member index per class, class of every element) for small
    non-negative integer keys, in O(n) through a presence table."""
    present = np.zeros(int(key.max()) + 1, dtype=bool)
    present[key] = True
    inv = (np.cumsum(present) - 1)[key]
    member = np.empty(int(present.sum()), dtype=np.int64)
    member[inv] = np.arange(len(key))
    return member, inv


def tile_codes_grid(w, rng: np.random.Generator) -> dict:
    """The four tile codes of every fine pixel, row-major. Codes depend on
    the slope bands only through comparisons of the three slope fractions,
    so pixels are grouped by (kg, wk, slope comparison signs) of their coarse
    cell and their own lc."""
    frac = oracle.populate_slope({b: a.astype(np.float64)
                                  for b, a in w.sl.items()})
    mi, mo, st = frac["minimal"], frac["moderate"], frac["steep"]
    cmp = ((np.sign(st - mo) + 1) * 9 + (np.sign(st - mi) + 1) * 3
           + (np.sign(mo - mi) + 1)).astype(np.int64)
    coarse_key = (w.kg.astype(np.int64) * 256 + w.wk) * 27 + cmp
    _u, coarse_cls = np.unique(coarse_key, return_inverse=True)
    key = (oracle.rep3(coarse_cls.reshape(w.kg.shape)) * 256 + w.lc).ravel()
    member, inv = _classes(key)
    rep = _tile_codes_direct(_pixel_values(w, *np.divmod(member, w.fine.nx)))
    out = {c: a[inv] for c, a in rep.items()}
    spot = rng.integers(0, len(key), size=_SPOT)
    direct = _tile_codes_direct(_pixel_values(w, *np.divmod(spot, w.fine.nx)))
    for c, a in direct.items():
        if not np.array_equal(a, out[c][spot]):
            raise OracleMismatch(f"grouped tile oracle disagrees on {c}")
    return out


def tiles_histogram(codes) -> dict:
    """Pixel count per (aez, slope, lu, soil) code tuple over the dense fine
    grid (the World.tiles() class histogram)."""
    key = (((codes["aez_code"].to_numpy(np.int64) * 16
             + codes["slope_code"].to_numpy()) * 16
            + codes["lu_code"].to_numpy()) * 16 + codes["soil_code"].to_numpy())
    k, n = np.unique(key, return_counts=True)
    return {f"{kk // 4096}|{kk // 256 % 16}|{kk // 16 % 16}|{kk % 16}": int(c)
            for kk, c in zip(k, n)}


TILE_PX = 256  # tiles.tile_codes' default tile size


def write_tile_sink(path: str, fine: GridSpec, aez_grid: np.ndarray) -> None:
    """The io.write_tiles layout, written from the oracle's AEZ codes: one
    `tile_id=N/` partition per tile, cells sorted by cell_id, zstd. Only the
    two columns the shard lookup reads (cell_id, aez_code) are stored."""
    n_tx = (fine.nx + TILE_PX - 1) // TILE_PX
    for y0 in range(0, fine.ny, TILE_PX):
        for x0 in range(0, fine.nx, TILE_PX):
            ys = np.arange(y0, min(y0 + TILE_PX, fine.ny))
            xs = np.arange(x0, min(x0 + TILE_PX, fine.nx))
            yy, xx = np.meshgrid(ys, xs, indexing="ij")
            table = pa.table({
                "cell_id": fine.cell_id(yy.ravel(), xx.ravel()),
                "aez_code": aez_grid[y0:y0 + len(ys), x0:x0 + len(xs)]
                .ravel().astype(np.int32)})
            part = os.path.join(path, f"tile_id={(y0 // TILE_PX) * n_tx + x0 // TILE_PX}")
            os.makedirs(part)
            pq.write_table(table, os.path.join(part, "part-0.parquet"),
                           compression="zstd", use_dictionary=["aez_code"])


def aez_by_country(w: oracle.DenseWorld) -> dict:
    """oracle.aez_by_country's (country, class) km² sums, keyed "country|class".

    The oracle sums per-pixel weights × masked km² over the whole fine grid
    once per feature; pixels outside every feature add 0. It is called on a
    DenseWorld holding only the coarse cells inside some feature, laid out
    as one row (fine 3x3 blocks kept next to each other, so the oracle's x3
    coupling still holds): the same sums over ~1/10 of the pixels (16 s →
    ~2 s per seed at 1 deg)."""
    inside = np.logical_or.reduce([mc for _f, _c, mc, _mf in w.features])
    idx = np.flatnonzero(inside)
    y, x = np.divmod(idx, w.coarse.nx)
    row = lambda a: a.ravel()[idx][None, :]
    sub = SimpleNamespace(
        countries=w.countries, kg=row(w.kg), wk=row(w.wk), km2_c=row(w.km2_c),
        sl={b: row(a) for b, a in w.sl.items()},
        lc=(w.lc.reshape(w.coarse.ny, 3, w.coarse.nx, 3)[y, :, x, :]
            .transpose(1, 0, 2).reshape(3, 3 * len(idx))),
        features=[(f, c, row(mc), None) for f, c, mc, _mf in w.features])
    df = oracle.aez_by_country(sub)
    return {f"{country}|{cls}": float(v)
            for country, r in df.iterrows() for cls, v in r.items()}


def point_assignments(lon: np.ndarray, lat: np.ndarray):
    """(point index, polygon position, is_knn, polygons) of every assignment
    row the engine emits: one per containing feature (winding-checked), plus
    one nearest-feature row (dense brute-force scan) per point inside none."""
    polys = world.polygons()
    pts, poss = [], []
    matched = np.zeros(len(lon), dtype=bool)
    for pos, poly in enumerate(polys):
        hit = np.flatnonzero(oracle.contains_checked(poly, lon, lat))
        pts.append(hit)
        poss.append(np.full(len(hit), pos, dtype=np.int64))
        matched[hit] = True
    un = np.flatnonzero(~matched)
    idx = BoundaryIndex(polys)
    near = np.empty(len(un), dtype=np.int64)
    chunk = 20_000
    for s in range(0, len(un), chunk):
        sel = un[s:s + chunk]
        near[s:s + chunk], _d = idx.nearest_bruteforce(lon[sel], lat[sel])
    pt = np.concatenate(pts + [un])
    pos = np.concatenate(poss + [near])
    isknn = np.zeros(len(pt), dtype=bool)
    isknn[len(pt) - len(un):] = True
    return pt, pos, isknn, polys


def checkpoint_row_key(doc, span_idx, feature_id, aez_code, is_knn):
    """Injective int64 key of one assignment row of the checkpoint output
    (doc < 2^20, span < 2^6, feature < 2^5, aez < 2^9): the same arithmetic
    runs in numpy here and as a Spark column in the worker."""
    return (((((doc * 64 + span_idx) * 32 + feature_id) * 512 + aez_code) * 2)
            + is_knn)


def doc_expectations(w, aez_grid, doc_idx, span_idx, lat, lon,
                     subset_docs: int) -> tuple[dict, np.ndarray]:
    """Expected docs outputs: distinct docs per (country, aez_code) over the
    corpus, and the sorted row keys (checkpoint_row_key) of the assignment
    rows of the docs with index < subset_docs (the checkpoint probe's
    input)."""
    pt, pos, isknn, polys = point_assignments(lon, lat)
    y, x = w.fine.lonlat_to_yx(lon[pt], lat[pt])
    aez = aez_grid[y, x].astype(np.int64)
    # a zone is (country name, aez): two features of one country share it
    names = sorted({p.country for p in polys})
    ccode = np.array([names.index(p.country) for p in polys], dtype=np.int64)
    zone = ccode[pos] * 512 + aez
    z, n = np.unique(np.unique((zone << 32) | doc_idx[pt]) >> 32,
                     return_counts=True)
    zone_counts = {f"{names[int(k // 512)]}|{int(k % 512)}": int(c)
                   for k, c in zip(z, n)}
    fid = np.array([p.feature_id for p in polys], dtype=np.int64)[pos]
    sub = doc_idx[pt] < subset_docs
    keys = np.sort(checkpoint_row_key(doc_idx[pt][sub], span_idx[pt][sub],
                                      fid[sub], aez[sub],
                                      isknn[sub].astype(np.int64)))
    return {"zone_counts": zone_counts, "checkpoint_docs": int(subset_docs),
            "points": int(len(lon)), "assignments": int(len(pt))}, keys


# ------------------------------------------------------------- input sets

def _write(path: str, table: pa.Table, row_group_size: int = _ROW_GROUP) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def build(out_dir: str, workload: str, seed: int, size: dict) -> dict:
    """Generate one input set plus its expectations into `out_dir`."""
    rng = np.random.default_rng(seed)
    coarse, fine = grids(size["coarse_px"])
    tables = gen.gen_rasters(coarse, fine, rng)
    tables["boundaries"] = pa.Table.from_pylist(world.boundaries_records())
    # docs_fused's engine side reads only the boundaries (plus the documents
    # and the tile sink); raster_zonal's oracle reads every raster table
    names = tables if workload == "raster_zonal" else ("boundaries",)
    for name in names:
        _write(os.path.join(out_dir, f"{name}.parquet"), tables[name])
    with open(os.path.join(out_dir, "grid.json"), "w") as f:
        json.dump({"coarse_px": size["coarse_px"], "coarse_grid_id": 1,
                   "fine_grid_id": 2}, f)

    expected: dict = {"fine_pixels": int(fine.nx * fine.ny)}
    if workload == "raster_zonal":
        w = oracle.DenseWorld(out_dir, coarse, fine)
        expected["aez_km2"] = aez_by_country(w)
        expected["tiles_histogram"] = tiles_histogram(oracle.tile_codes(w))
        # probe sample: centres of fine cells inside feature bboxes, the
        # candidates build_assignment tests
        lon, lat = _bbox_cell_sample(fine, rng)
    else:
        w = dense_world(tables, coarse, fine)
        codes = tile_codes_grid(w, rng)
        docs, (doc_idx, span_idx, lat, lon) = gen_documents(size["docs"], rng)
        _write(os.path.join(out_dir, "documents.parquet"), docs,
               -(-size["docs"] // DOC_ROW_GROUPS))
        aez_grid = codes["aez_code"].reshape(fine.ny, fine.nx)
        write_tile_sink(os.path.join(out_dir, "tiles_sink"), fine, aez_grid)
        exp_docs, keys = doc_expectations(w, aez_grid, doc_idx, span_idx,
                                          lat, lon, size["checkpoint_docs"])
        expected.update(exp_docs)
        np.save(os.path.join(out_dir, "checkpoint_keys.npy"), keys)
        expected["docs"] = int(size["docs"])
        expected["corpus_bytes"] = os.path.getsize(
            os.path.join(out_dir, "documents.parquet"))
    n = min(SAMPLE_POINTS, len(lon))
    np.save(os.path.join(out_dir, "sample_points.npy"),
            np.stack([lon[:n], lat[:n]]))
    return expected


def _bbox_cell_sample(fine: GridSpec, rng: np.random.Generator):
    boxes = _country_bboxes()
    b = boxes[rng.integers(0, len(boxes), size=SAMPLE_POINTS)]
    y0, x0 = fine.lonlat_to_yx(b[:, 2], b[:, 1])
    y1, x1 = fine.lonlat_to_yx(b[:, 3], b[:, 0])
    y = y0 + (rng.random(SAMPLE_POINTS) * (y1 - y0 + 1)).astype(np.int64)
    x = x0 + (rng.random(SAMPLE_POINTS) * (x1 - x0 + 1)).astype(np.int64)
    return fine.center_lon(x), fine.center_lat(y)


def ensure_inputs(cache_root: str, workload: str, seed: int, size: dict,
                  keep: int = 6) -> tuple[str, dict]:
    """Input directory and expectations for (workload, seed, size); built on
    first use. At most `keep` input sets stay cached (least recent dropped)."""
    key = "-".join([workload, f"s{seed}"] +
                   [f"{k}{v}" for k, v in sorted(size.items())] +
                   [f"v{INPUTS_VERSION}"])
    out_dir = os.path.join(cache_root, key)
    done = os.path.join(out_dir, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        t0 = time.perf_counter()
        expected = build(out_dir, workload, seed, size)
        expected["build_s"] = time.perf_counter() - t0
        tmp = done + ".tmp"
        with open(tmp, "w") as f:
            json.dump(expected, f)
        os.replace(tmp, done)
    os.utime(out_dir)
    _evict(cache_root, keep)
    with open(done) as f:
        return out_dir, json.load(f)


def _evict(cache_root: str, keep: int) -> None:
    dirs = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)
