"""Seeded input generators and independent expected values.

Every input is made here with numpy from the run's seed, so the inputs do not
move when the engine's own generators or ``bench.py`` change. The same module
computes, without Spark, the values a correct engine must return on those
inputs: the zonal totals and per-doc stats with a ray-casting point-in-polygon
test written here, and the curation totals from how the corpus was built.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

TILE = 64
CELL = 8.0
HOT_TILE = (0, 0)
N_WORDS = (60, 101)  # long docs: 60..100 words
SHORT_WORDS = (3, 9)  # short docs fail the quality floor (< 10 tokens)
VOCAB = 50_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# -- raster -------------------------------------------------------------------


def raster_array(seed: int, grid: int, nan_frac: float = 0.01) -> np.ndarray:
    """Smooth field with seeded phases plus ~``nan_frac`` NaN holes."""
    rng = _rng(seed, 1)
    pr, pc = rng.uniform(0.0, 2 * math.pi, 2)
    r = np.arange(grid, dtype=np.float64)[:, None]
    c = np.arange(grid, dtype=np.float64)[None, :]
    a = np.sin(r / 97.0 + pr) + np.cos(c / 101.0 + pc) + rng.normal(0.0, 0.05, (grid, grid))
    a[rng.random((grid, grid)) < nan_frac] = np.nan
    return a


def sparse_raster(seed: int, grid: int) -> np.ndarray:
    """All NaN but one donor cell per tile, at a seeded place in the tile."""
    rng = _rng(seed, 6)
    nt = grid // TILE
    a = np.full((grid, grid), np.nan)
    r = np.arange(nt)[:, None] * TILE + rng.integers(0, TILE, (nt, nt))
    c = np.arange(nt)[None, :] * TILE + rng.integers(0, TILE, (nt, nt))
    a[r, c] = rng.uniform(-2.0, 2.0, (nt, nt))
    return a


def raster_meta(grid: int):
    """North-up grid of CELL-sized cells with its origin at (0, grid*CELL)."""
    from rastr_spark.meta import Affine, RasterMeta

    world = grid * CELL
    return RasterMeta(CELL, "EPSG:2193", Affine(CELL, 0, 0, 0, -CELL, world), grid, grid, tile_size=TILE)


# -- zones (the bench.py set, scaled to the world) ----------------------------


def zone_shells(world: float) -> list[tuple[str, list[tuple[float, float]]]]:
    """~93 polygons: a 9×9 grid of boxes, 10 nested boxes over the hot corner,
    a concave horseshoe and a big triangle. Each shell is an open ring."""
    w = world

    def box(x0, y0, x1, y1):
        return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]

    zs = []
    n = 9
    for i in range(n):
        for j in range(n):
            zs.append((f"box_{i}_{j}", box(i * w / n, j * w / n, (i + 1) * w / n, (j + 1) * w / n)))
    for k in range(10):
        frac = 0.05 + 0.03 * k
        zs.append((f"hot_{k}", box(0, w * (1 - frac), w * frac, w)))
    zs.append(("horseshoe", [(0, 0), (w, 0), (w, w), (0.7 * w, w), (0.7 * w, 0.3 * w),
                             (0.3 * w, 0.3 * w), (0.3 * w, w), (0, w)]))
    zs.append(("tri", [(0, 0), (w + 1, 0), (0, w + 1)]))
    return zs


def engine_zones(world: float):
    from rastr_spark.geometry import Geometry

    return [(zid, Geometry.polygon(shell)) for zid, shell in zone_shells(world)]


def points_in_shell(x: np.ndarray, y: np.ndarray, shell: list[tuple[float, float]]) -> np.ndarray:
    """Even-odd ray casting, written independently of rastr_spark.geometry."""
    inside = np.zeros(x.shape, dtype=bool)
    pts = shell + [shell[0]]
    for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
        if y0 == y1:
            continue
        crosses = (y0 > y) != (y1 > y)
        xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (x < xi)
    return inside


def tile_major(a: np.ndarray) -> np.ndarray:
    """(grid, grid) → (n_tiles, tile*tile), tiles row-major, cells row-major."""
    nt = a.shape[0] // TILE
    return a.reshape(nt, TILE, nt, TILE).transpose(0, 2, 1, 3).reshape(nt * nt, TILE * TILE)


def tiles_arrow(a: np.ndarray, raster_id: str) -> pa.Table:
    """The tile table in the engine's tile schema (raster_id, tile_row,
    tile_col, cell_id, values); NaN stays NaN, never null."""
    from rastr_spark.grid import morton_encode

    nt = a.shape[0] // TILE
    tr, tc = np.divmod(np.arange(nt * nt), nt)
    v = tile_major(a)
    offsets = np.arange(0, v.size + 1, TILE * TILE, dtype=np.int32)
    return pa.table({
        "raster_id": pa.array([raster_id] * (nt * nt), pa.string()),
        "tile_row": pa.array(tr.astype(np.int32)),
        "tile_col": pa.array(tc.astype(np.int32)),
        "cell_id": pa.array(morton_encode(tr, tc).astype(np.int64)),
        "values": pa.ListArray.from_arrays(offsets, pa.array(v.ravel(), pa.float64())),
    })


def tile_zone_table(a: np.ndarray):
    """Per (tile, zone) count, sum, min and max of the valid cells whose centre
    lies in the zone. Arrays of shape (n_tiles, n_zones); tiles row-major."""
    grid = a.shape[0]
    world = grid * CELL
    zones = zone_shells(world)
    centres = CELL * (np.arange(grid, dtype=np.float64) + 0.5)
    X = tile_major(np.broadcast_to(centres[None, :], (grid, grid)))
    Y = tile_major(np.broadcast_to(world - centres[:, None], (grid, grid)))
    v = tile_major(a)
    valid = ~np.isnan(v)
    shape = (v.shape[0], len(zones))
    cnt = np.zeros(shape, dtype=np.int64)
    s = np.zeros(shape)
    mn = np.full(shape, np.inf)
    mx = np.full(shape, -np.inf)
    for k, (_, shell) in enumerate(zones):
        xs, ys = [p[0] for p in shell], [p[1] for p in shell]
        near = np.nonzero((X.max(axis=1) >= min(xs)) & (X.min(axis=1) <= max(xs))
                          & (Y.max(axis=1) >= min(ys)) & (Y.min(axis=1) <= max(ys)))[0]
        m = points_in_shell(X[near], Y[near], shell) & valid[near]
        vt = v[near]
        cnt[near, k] = m.sum(axis=1)
        s[near, k] = np.where(m, vt, 0.0).sum(axis=1)
        mn[near, k] = np.where(m, vt, np.inf).min(axis=1)
        mx[near, k] = np.where(m, vt, -np.inf).max(axis=1)
    return [z for z, _ in zones], cnt, s, mn, mx


# -- documents ----------------------------------------------------------------


def doc_spans(seed: int, n_docs: int, n_tiles_side: int, *, hot_frac: float = 0.2,
              max_spans: int = 16, zipf_k: int = 4) -> dict[str, np.ndarray]:
    """Flat span arrays of the interleaved document table.

    Half the spans are media refs. A media span's tile is the min of
    ``zipf_k`` uniform draws (a Zipf-like head on low tile indices), and
    ``hot_frac`` of the docs have all their media refs rewritten to one hot
    tile.
    """
    rng = _rng(seed, 2)
    n_spans = rng.integers(1, max_spans, n_docs)
    doc = np.repeat(np.arange(n_docs), n_spans)
    starts = np.repeat(np.cumsum(n_spans) - n_spans, n_spans)
    pos = np.arange(len(doc)) - starts
    media = rng.random(len(doc)) < 0.5
    n_tiles = n_tiles_side * n_tiles_side
    tile = rng.integers(0, n_tiles, (len(doc), zipf_k)).min(axis=1)
    hot_doc = rng.random(n_docs) < hot_frac
    tile[hot_doc[doc] & media] = HOT_TILE[0] * n_tiles_side + HOT_TILE[1]
    geo = rng.integers(0, 100, (len(doc), 2))
    return {"n_spans": n_spans, "doc": doc, "pos": pos, "media": media, "tile": tile, "geo": geo}


def _array(values, type=None) -> pa.Array:
    """One contiguous Arrow array (large inputs may convert to chunks)."""
    a = pa.array(values, type)
    return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a


def docs_arrow(spans: dict[str, np.ndarray], n_tiles_side: int, raster_id: str) -> pa.Table:
    """The document table (doc_id, spans array<struct<kind, text, media_ref, offset>>)."""
    media = spans["media"]
    n_tiles = n_tiles_side * n_tiles_side
    ref_names = np.array(
        [f"{raster_id}/{t // n_tiles_side}/{t % n_tiles_side}" for t in range(n_tiles)], dtype=object
    )
    texts = np.array([f"point;{i},{j}" for i in range(100) for j in range(100)], dtype=object)
    gx, gy = spans["geo"][:, 0], spans["geo"][:, 1]
    struct = pa.StructArray.from_arrays(
        [
            _array(np.where(media, "media", "text")),
            _array(np.where(media, None, texts[gx * 100 + gy]), pa.string()),
            _array(np.where(media, ref_names[spans["tile"]], None), pa.string()),
            _array(spans["pos"].astype(np.int32)),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    offsets = np.concatenate([[0], np.cumsum(spans["n_spans"])]).astype(np.int32)
    n_docs = len(spans["n_spans"])
    doc_ids = np.array([f"doc-{i}" for i in range(n_docs)], dtype=object)
    return pa.table({"doc_id": pa.array(doc_ids, pa.string()),
                     "spans": pa.ListArray.from_arrays(offsets, struct)})


def zonal_expected(spans: dict[str, np.ndarray], cnt: np.ndarray) -> tuple[int, int]:
    """(output rows, Σcell_count) of doc_zonal_stats, from the inputs alone.

    Every media ref joins every (tile, zone) partial with a valid cell in the
    zone, so Σcell_count sums cnt over refs with multiplicity; a (doc, zone)
    row exists when any of the doc's tiles has such a cell.
    """
    media = spans["media"]
    doc, tile = spans["doc"][media], spans["tile"][media]
    total = int(cnt[tile].sum())
    pairs = np.unique(doc.astype(np.int64) * cnt.shape[0] + tile)
    pdoc, ptile = np.divmod(pairs, cnt.shape[0])
    hit_t, hit_z = np.nonzero(cnt > 0)
    # zones per tile as a CSR list, then expand (doc, tile) → (doc, zone)
    order = np.argsort(hit_t, kind="stable")
    hit_t, hit_z = hit_t[order], hit_z[order]
    first = np.searchsorted(hit_t, np.arange(cnt.shape[0]))
    nz = np.bincount(hit_t, minlength=cnt.shape[0])
    reps = nz[ptile]
    dz_doc = np.repeat(pdoc, reps)
    within = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    dz_zone = hit_z[np.repeat(first[ptile], reps) + within]
    rows = len(np.unique(dz_doc * cnt.shape[1] + dz_zone))
    return rows, total


def zonal_sample_expected(spans, table, docs: np.ndarray) -> pd.DataFrame:
    """Per (zone_id, doc_id) cell_count, sum, min and max for the sampled docs."""
    zone_ids, cnt, s, mn, mx = table
    media = spans["media"] & np.isin(spans["doc"], docs)
    recs = []
    for d in docs:
        tiles = spans["tile"][media & (spans["doc"] == d)]
        if len(tiles) == 0:
            continue
        c = cnt[tiles].sum(axis=0)
        ss = s[tiles].sum(axis=0)
        lo = mn[tiles].min(axis=0)
        hi = mx[tiles].max(axis=0)
        for k in np.nonzero(c > 0)[0]:
            recs.append((zone_ids[k], f"doc-{d}", int(c[k]), float(ss[k]), float(lo[k]), float(hi[k])))
    return pd.DataFrame(recs, columns=["zone_id", "doc_id", "cell_count", "sum", "min", "max"])


# -- text corpus --------------------------------------------------------------


def corpus(seed: int, n_base: int) -> tuple[pd.DataFrame, dict]:
    """(doc_id, text) corpus and its expected curation totals.

    - Words are ``w<k>`` tokens, so each word is two BPE pre-tokens and no
      word is an English stopword (language 'unk').
    - 5 % of contents are short (< 10 tokens) and fail the quality floor.
    - Every 10th doc is an exact copy of its predecessor.
    - Docs with ``doc_id % 20 == 3`` get a near-copy with one extra token.
    """
    rng = _rng(seed, 3)
    n_words = rng.integers(*N_WORDS, n_base)
    short = rng.random(n_base) < 0.05
    n_words[short] = rng.integers(*SHORT_WORDS, int(short.sum()))
    ids = np.arange(n_base)
    dup = ids % 10 == 9
    words = rng.integers(0, VOCAB, int(n_words.sum())).astype(str)
    ends = np.cumsum(n_words)
    texts = [" ".join(("w" + w) for w in words[e - n:e]) for e, n in zip(ends, n_words)]
    for d in np.nonzero(dup)[0]:
        texts[d] = texts[d - 1]
        n_words[d] = n_words[d - 1]
        short[d] = short[d - 1]
    near = ids[ids % 20 == 3]
    df = pd.DataFrame({
        "doc_id": np.concatenate([ids, near + n_base]).astype(np.int64),
        "text": texts + [texts[d] + " zzq" for d in near],
    })
    kept = ~dup & ~short
    expected = {"kept": int(kept.sum()), "bpe_tokens": int(2 * n_words[kept].sum())}
    return df, expected


STREAM_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("ts", pa.timestamp("us"))])


def stream_files(seed: int, ref: pd.DataFrame, n_files: int, per_file: int, bands: int,
                 resend_frac: float = 0.1, copy_frac: float = 0.8) -> tuple[list[pa.Table], dict]:
    """Micro-batch files of arriving docs and the expected drain totals.

    ``ref`` is the (doc_id, text) corpus the bucket index was built from.
    Of the distinct arriving docs, ``copy_frac`` are verbatim copies of
    distinct long reference texts and the rest are new texts of ``v<k>``
    words, which share no shingle with the ``w<k>`` reference corpus.
    ``resend_frac`` of all rows are exact re-sends of an earlier arriving doc,
    inside the dedup watermark (every ts lies within one minute).

    Expected: every distinct doc survives the exact dedup; a copy hits each
    reference doc with its text in every band (identical text, identical
    signature); a new text hits nothing.
    """
    rng = _rng(seed, 5)
    n_rows = n_files * per_file
    n_resend = int(n_rows * resend_frac)
    n_unique = n_rows - n_resend
    n_copy = int(n_unique * copy_frac)
    long = ref[ref["text"].str.count(" ") >= N_WORDS[0] - 1]
    refs_per_text = ref["text"].value_counts()
    texts = long["text"].drop_duplicates().to_numpy()
    copies = texts[rng.choice(len(texts), n_copy, replace=False)]
    n_new = n_unique - n_copy
    n_words = rng.integers(*N_WORDS, n_new)
    words = rng.integers(0, VOCAB, int(n_words.sum())).astype(str)
    ends = np.cumsum(n_words)
    new = [" ".join("v" + w for w in words[e - n:e]) for e, n in zip(ends, n_words)]
    unique = np.concatenate([copies, np.array(new, dtype=object)])[rng.permutation(n_unique)]
    # a re-send lands anywhere after the doc it repeats
    orig = rng.integers(0, n_unique, n_resend)
    key = np.concatenate([np.arange(n_unique, dtype=np.float64), rng.uniform(orig + 0.5, n_unique)])
    order = np.argsort(key, kind="stable")
    row = np.concatenate([np.arange(n_unique), orig])[order]
    ids = 10_000_000 + row
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.arange(n_rows) * 60_000_000 // n_rows)
    tables = [
        pa.table({"doc_id": ids[i:i + per_file], "text": unique[row[i:i + per_file]].tolist(),
                  "ts": ts[i:i + per_file]}, schema=STREAM_SCHEMA)
        for i in range(0, n_rows, per_file)
    ]
    expected = {
        "survivors": n_unique,
        "hit_docs": n_copy,
        "hit_rows": int(bands * refs_per_text[copies].sum()),
    }
    return tables, expected
