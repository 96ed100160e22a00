"""Stencil (neighbourhood) operators via halo-exchange joins: blur, sobel, dilate,
extrapolate (nearest-neighbour NaN fill).

Spark has no stencil concept; the engine builds one: each tile needs a ring of
``h`` boundary cells from its ≤8 neighbours, so ``with_halo`` turns the tile table
into (target_tile ← neighbour strips) messages — **strips, not whole tiles**: the
shuffle carries O(h·T) cells per neighbour edge instead of O(T²). The Python
boundary is Arrow end to end: one ``mapInArrow`` pass cuts the strips in numpy
from each batch's flat ``values`` buffer, and one sorted stream of strips per
target tile (:func:`tiles.group_map`: one Python call per Arrow batch, never a
grouped map per tile) assembles each padded window and runs the numpy kernel,
whose output goes back as Arrow float64 — NaN stays NaN, with no pandas hop
and no per-cell higher-order function anywhere in the plan.

Numerics are replicated from the reference's scipy/skimage backends (none of which
exist here):

- blur   ≡ scipy.ndimage.gaussian_filter(sigma, truncate=4.0, mode='reflect')
           (reference src/rastr/raster.py:1185-1221); preserve_nan's
           extrapolate → blur → restore-mask composition runs as ONE fused
           stencil round (no NaN probe); a radius-0 σ is the identity (no job)
- sobel  ≡ skimage.filters.sobel: sqrt(2·(h²+v²)) with smooth [1,2,1]/4 ⊗ deriv
           [1,0,-1]/2 kernels, reflect border, / cell_size
           (reference src/rastr/raster.py:1164-1183; golden test_raster.py:1878-1906)
- dilate ≡ skimage.morphology.dilation with disk(ceil(r/cell)) footprint; the
           reference's (global min − 1) pad and NaN fill become −inf (same
           output, no global-min job — see :func:`dilate`), NaN restored
           (reference src/rastr/raster.py:1223-1288)
- extrapolate ≡ scipy NearestNDInterpolator on array indices, Euclidean distance,
           ties → lowest (row, col) (reference src/rastr/arr/fill.py:11-32).
           Influence radius is unbounded → ONE per-tile census pass (NaN-run
           bound, NaN bbox and up to five representative donors per tile,
           one vectorized Arrow map pass read once with ``toArrow()``) is all
           the driver plans from: it gives every NaN tile a proven-sufficient
           exact radius in numpy, picks the gather from the window volume,
           and ONE targeted round at per-tile radius finishes, for any number
           of NaN tiles — no checkpoint, no radii join. A cell is filled only
           when its nearest donor is *proven* within the window (min distance
           ≤ h ⇒ no unseen donor can be nearer, and every tied donor is
           inside the window) — exact for any donor layout.
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..meta import RasterMeta
from ..tiles import TILE_SCHEMA, RasterFrame, float_lists, group_map, list_parts, tile_batch, tile_groups


def _cut_strips(meta: RasterMeta, values, src, s_tr, s_tc, ttr, ttc, h) -> pa.RecordBatch:
    """The numpy strip cutter both halo builders share. Message i carries the
    part of source tile (s_tr[i], s_tc[i]) — row ``src[i]`` of the Arrow
    ``values`` column — that falls inside target (ttr[i], ttc[i])'s
    (th+2h)×(tw+2h) window; empty and off-grid messages are dropped.

    With dr = ttr − s_tr, the source-local row slice is the intersection of
    the source tile [0, th) with the target window [dr·T − h, dr·T + tth + h);
    columns likewise."""
    Tsz = meta.tile_size
    flat, offs = list_parts(values)
    th = np.minimum(Tsz, meta.height - s_tr * Tsz)
    tw = np.minimum(Tsz, meta.width - s_tc * Tsz)
    r_lo = np.maximum(0, (ttr - s_tr) * Tsz - h)
    r_hi = np.minimum(th, (ttr - s_tr) * Tsz + h + np.minimum(Tsz, meta.height - ttr * Tsz))
    c_lo = np.maximum(0, (ttc - s_tc) * Tsz - h)
    c_hi = np.minimum(tw, (ttc - s_tc) * Tsz + h + np.minimum(Tsz, meta.width - ttc * Tsz))
    keep = np.nonzero(
        (r_hi > r_lo) & (c_hi > c_lo) & (ttr >= 0) & (ttr < meta.n_tile_rows)
        & (ttc >= 0) & (ttc < meta.n_tile_cols)
    )[0]
    strips = [
        flat[offs[s] : offs[s + 1]].reshape(th[i], tw[i])[r_lo[i] : r_hi[i], c_lo[i] : c_hi[i]]
        for i, s in zip(keep, src[keep])
    ]
    cols = (ttr, ttc, s_tr * Tsz + r_lo, s_tc * Tsz + c_lo, r_hi - r_lo, c_hi - c_lo)
    return pa.RecordBatch.from_arrays(
        [pa.array(c[keep].astype(np.int32)) for c in cols]
        + [float_lists(strips), pa.array(np.broadcast_to(h, ttr.shape)[keep].astype(np.int32))],
        names=["tile_row", "tile_col", "gr0", "gc0", "n_rows", "n_cols", "strip", "h"],
    )


def halo_messages(rf: RasterFrame, h: int) -> DataFrame:
    """Strip messages: every tile sends each target the band of its own array that
    falls inside the target's (th+2h)×(tw+2h) halo window.

    Generalized to halos larger than a tile: the offset ring spans ±⌈h/T⌉ tiles,
    so a blur with σ·4 > T still works (inner-ring offsets ship whole tiles,
    boundary offsets ship strips). One ``mapInArrow`` pass cuts every ring
    strip in numpy (:func:`_cut_strips`) from the batch's flat ``values``
    buffer; message = (target tile, global strip origin, dims, row-major strip
    values, h).
    """
    meta = rf.meta
    R = max(1, math.ceil(h / meta.tile_size))
    d = np.arange(-R, R + 1)
    dr, dc = np.repeat(d, d.size), np.tile(d, d.size)

    def cut(batches):
        for b in batches:
            n = b.num_rows
            src = np.repeat(np.arange(n), dr.size)
            tr = b.column("tile_row").to_numpy().astype(np.int64)[src]
            tc = b.column("tile_col").to_numpy().astype(np.int64)[src]
            yield _cut_strips(
                meta, b.column("values"), src, tr, tc, tr + np.tile(dr, n), tc + np.tile(dc, n), h
            )

    return rf.df.select("tile_row", "tile_col", "values").mapInArrow(
        cut,
        "tile_row int, tile_col int, gr0 int, gc0 int, n_rows int, n_cols int, "
        "strip array<double>, h int",
    )


def halo_messages_targeted(rf: RasterFrame, targets: DataFrame) -> DataFrame:
    """Strip messages for a RESTRICTED target-tile set, each target at its OWN
    radius: ``targets`` is (tile_row, tile_col, h) — the exact-radius
    extrapolate round, where only the NaN tiles need a (possibly very wide)
    halo but every tile is a potential donor.

    The ring-offset builder (:func:`halo_messages`) enumerates (2R+1)² offsets
    per SOURCE tile — O(n_tiles · R²) generated rows regardless of how few
    targets survive a downstream filter, which explodes at R ≈ n_tile_rows
    (the full-radius round: every tile × every offset). Here the message set
    is built as sources ⋈ broadcast(targets) filtered to each target's
    Chebyshev ring — O(n_tiles · n_targets) rows — and the same numpy cutter
    (:func:`_cut_strips`) then runs in one ``mapInArrow`` pass with dr, dc
    and h per row.
    """
    meta = rf.meta
    src = rf.df.select(
        F.col("tile_row").alias("s_tr"), F.col("tile_col").alias("s_tc"), "values"
    )
    tgt = F.broadcast(
        targets.select(
            F.col("tile_row").alias("ttr"), F.col("tile_col").alias("ttc"),
            F.col("h").cast("int").alias("h"),
        )
    )
    # per-row Chebyshev tile ring: R = max(1, ceil(h / T)) — the ring the
    # offset builder enumerates
    R_c = F.greatest(F.lit(1), F.ceil(F.col("h") / F.lit(float(meta.tile_size)))).cast("int")
    pairs = src.join(
        tgt,
        (F.abs(F.col("ttr") - F.col("s_tr")) <= R_c)
        & (F.abs(F.col("ttc") - F.col("s_tc")) <= R_c),
    )

    def cut(batches):
        for b in batches:
            ints = (b.column(k).to_numpy().astype(np.int64) for k in ("s_tr", "s_tc", "ttr", "ttc", "h"))
            yield _cut_strips(meta, b.column("values"), np.arange(b.num_rows), *ints)

    return pairs.mapInArrow(
        cut,
        "tile_row int, tile_col int, gr0 int, gc0 int, n_rows int, n_cols int, "
        "strip array<double>, h int",
    )


def halo_window(group, rs: int, re: int, cs: int, ce: int) -> np.ndarray:
    """One target tile's strip messages (a :func:`tiles.group_map` group) pasted
    into the (re−rs)×(ce−cs) window at global origin (rs, cs), NaN elsewhere."""
    padded = np.full((re - rs, ce - cs), np.nan)
    flat, offs = list_parts(group.column("strip"))
    dims = zip(*(group.column(k).to_numpy() for k in ("gr0", "gc0", "n_rows", "n_cols")))
    for i, (r, c, n, m) in enumerate(dims):
        padded[r - rs : r - rs + n, c - cs : c - cs + m] = flat[offs[i] : offs[i + 1]].reshape(n, m)
    return padded


def stencil_apply(
    rf: RasterFrame,
    h: int | None,
    kernel: Callable[[np.ndarray, np.ndarray, tuple], np.ndarray],
    *,
    targets: DataFrame | None = None,
) -> RasterFrame:
    """Run ``kernel(padded, valid_mask, info)`` per tile through one sorted
    stream of halo messages (:func:`tiles.group_map`: one Python call per
    Arrow batch, not per tile); the kernel returns the (th, tw) core, emitted
    as Arrow float64 so NaN stays NaN. Two message builders:

    - ``targets is None``: every tile at radius ``h``, messages from the
      ring-offset builder (:func:`halo_messages`). ``padded`` is the full
      (th+2h)×(tw+2h) window in float64, NaN where no data was received;
      ``valid_mask`` marks cells inside the grid; ``info`` is
      ``(r0, c0, th, tw, h)``. Blur, sobel and dilate use this form.
    - ``targets`` = (tile_row, tile_col, h): only these tiles, each at its
      OWN radius (``h`` is ignored; pass ``None``), messages from
      :func:`halo_messages_targeted`; the caller merges untouched tiles back.
      The window is clipped to the grid — at h approaching the raster span
      the full square is (2h)² ≈ 4× the whole raster PER TILE (measured: the
      16.8M cell extrapolate bench OOM'd the JVM at h=5793); clipped it is
      bounded by the raster's own footprint. ``info`` is then
      ``(r0, c0, th, tw, h, top, left)``, (top, left) the core's offset
      inside the clipped window, and ``valid_mask`` is all-true. Per-tile
      radii routinely reach far above T, up to the grid diagonal. This is
      the exact-radius extrapolate round; its strips stay rows of the
      stream, so a whole-raster window never becomes one row.
    """
    meta = rf.meta
    Tsz = meta.tile_size
    H, W = meta.height, meta.width
    raster_id = rf.raster_id  # primitive capture — closures must not capture rf (DataFrame)
    clip = targets is not None
    msgs = halo_messages(rf, h) if targets is None else halo_messages_targeted(rf, targets)

    def assemble(key, group):
        tr, tc = key
        # per-group radius from the messages (constant within a target tile;
        # differs across tiles in the exact-radius extrapolate round)
        h_ = group.column("h")[0].as_py()
        r0, c0 = tr * Tsz, tc * Tsz
        th_, tw_ = min(Tsz, H - r0), min(Tsz, W - c0)
        rs, re, cs, ce = r0 - h_, r0 + th_ + h_, c0 - h_, c0 + tw_ + h_
        if clip:
            rs, re, cs, ce = max(rs, 0), min(re, H), max(cs, 0), min(ce, W)
        padded = halo_window(group, rs, re, cs, ce)
        if clip:
            valid = np.ones(padded.shape, dtype=bool)
            info = (r0, c0, th_, tw_, h_, r0 - rs, c0 - cs)
        else:
            rows = np.arange(rs, re)[:, None]
            cols = np.arange(cs, ce)[None, :]
            valid = np.broadcast_to(
                (rows >= 0) & (rows < H) & (cols >= 0) & (cols < W), padded.shape
            )
            info = (r0, c0, th_, tw_, h_)
        return kernel(padded, valid, info)

    out = group_map(msgs, ["tile_row", "tile_col"], lambda g: tile_groups(raster_id, g, assemble), TILE_SCHEMA)
    return RasterFrame(out, meta, raster_id)


def _reflect_index(i: int, lo: int, hi: int) -> int:
    """Half-sample-symmetric ('reflect') index fold into [lo, hi] — the repeated
    reflection scipy applies when the pad is wider than the data band:
    ... d c b a | a b c d | d c b a ..."""
    n = hi - lo + 1
    m = (i - lo) % (2 * n)
    if m >= n:
        m = 2 * n - 1 - m
    return lo + m


def _symmetric_fill(padded: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Replace outside-grid halo cells with their half-sample-symmetric mirror.

    Index-folded reflection (row axis, then col axis — matches scipy's separable
    'reflect'), valid for ANY halo width: a halo wider than the grid band repeats
    the reflection instead of reading still-NaN halo rows."""
    a = padded.copy()
    n_r, n_c = a.shape
    # find grid-valid row/col bands inside the padded window
    vrows = np.where(valid.any(axis=1))[0]
    vcols = np.where(valid.any(axis=0))[0]
    if len(vrows) == 0:
        return a
    rlo, rhi = vrows[0], vrows[-1]
    clo, chi = vcols[0], vcols[-1]
    for i in range(0, rlo):
        a[i, :] = a[_reflect_index(i, rlo, rhi), :]
    for i in range(rhi + 1, n_r):
        a[i, :] = a[_reflect_index(i, rlo, rhi), :]
    for j in range(0, clo):
        a[:, j] = a[:, _reflect_index(j, clo, chi)]
    for j in range(chi + 1, n_c):
        a[:, j] = a[:, _reflect_index(j, clo, chi)]
    return a


def _gaussian_weights(sigma: float, radius: int) -> np.ndarray:
    """scipy.ndimage gaussian_filter1d weights (truncate·sigma radius, normalized)."""
    x = np.arange(-radius, radius + 1)
    w = np.exp(-0.5 * (x / sigma) ** 2)
    return w / w.sum()


def _corr1d(a: np.ndarray, w: np.ndarray, axis: int) -> np.ndarray:
    """Vectorized 1-D correlation via shifted adds. np.roll wrap-around only
    contaminates cells within radius of the PADDED edge, which the caller crops —
    core cells only ever see true halo data."""
    r = len(w) // 2
    out = np.zeros_like(a)
    for k, wk in enumerate(w):
        out += wk * np.roll(a, r - k, axis=axis)
    return out


def _has_nan() -> Column:
    """Whether a tile's ``values`` hold a NaN, as a codegen ``array_max``:
    Spark orders NaN above every number, so one NaN makes the max NaN — no
    interpreted higher-order function over every cell."""
    return F.isnan(F.array_max("values"))


def blur(rf: RasterFrame, sigma: float, *, preserve_nan: bool = True) -> RasterFrame:
    """Gaussian blur, σ in world units (reference src/rastr/raster.py:1185-1221).

    preserve_nan: the reference composition NN-extrapolate → blur → restore
    NaN mask, run as ONE fused stencil round (see below), NaN or not: on a
    NaN-free raster the fused kernel IS the plain blur bit for bit, so no
    probe job picks the round. A σ whose truncated kernel radius is 0 returns
    ``rf`` unchanged without running a job: scipy's radius-0 kernel is
    ``[1.0]``, so the blur is the identity and, with preserve_nan, extrapolate
    → identity → restore mask gives back the input too.
    """
    cell_sigma = sigma / rf.meta.cell_size
    radius = int(4.0 * cell_sigma + 0.5)  # scipy truncate=4.0 default
    if radius == 0:
        return rf
    dtype = np.dtype(rf.meta.dtype)

    if preserve_nan:
        # FUSED single round (r7): local exact NN fill + reflect + blur + NaN
        # restore in ONE stencil pass over the ORIGINAL raster — no
        # extrapolate pre-pass and no restore join. Exactness: the restored
        # output keeps only originally valid cells, and a valid cell's blur
        # reads the ±radius Chebyshev box; every read NaN cell c therefore has
        # a valid cell within Chebyshev radius, so its true nearest donor is
        # within Euclidean radius·√2 — filling the extended core (core ±
        # radius) with proof margin hp = ⌈radius·√2⌉ via the PROVEN
        # extrapolate kernel reproduces extrapolate's fill (same donor, same
        # tie-break) for every cell that can influence a surviving output.
        # Deeper NaN cells stay NaN and contaminate only cells that are
        # restored to NaN anyway. Reflection needs no extra margin: an
        # out-of-grid position read by valid cell v mirrors to an in-grid cell
        # within Chebyshev radius of v (|r_v − (k−1)| ≤ radius − 1 when r_v +
        # k ≤ radius), so reflected reads obey the same bound. Bit-equal to
        # the composed path on scattered-NaN, blob, edge-band and mostly-NaN
        # layouts (OPTIMIZATION_r07.md).
        ext = radius
        hp = int(math.ceil(radius * math.sqrt(2.0)))
        h_fused = ext + hp

        def kern_fused(padded, valid, info):
            r0, c0, th, tw, h_ = info
            core_nan = np.isnan(padded[h_ : h_ + th, h_ : h_ + tw])
            sub_info = (r0 - ext, c0 - ext, th + 2 * ext, tw + 2 * ext, hp)
            filled_ext = _nn_fill(padded, valid, sub_info)
            a = padded.copy()
            a[hp : hp + th + 2 * ext, hp : hp + tw + 2 * ext] = filled_ext
            a = _symmetric_fill(a, valid).astype(dtype)
            w = _gaussian_weights(cell_sigma, radius).astype(dtype)
            tmp = _corr1d(a, w, axis=0)
            tmp = _corr1d(tmp, w, axis=1)
            out = tmp[h_ : h_ + th, h_ : h_ + tw].astype(np.float64).copy()
            out[core_nan] = np.nan
            return out

        return stencil_apply(rf, h_fused, kern_fused)

    def kern(padded, valid, info):
        r0, c0, th, tw, h = info
        a = _symmetric_fill(padded, valid).astype(dtype)
        w = _gaussian_weights(cell_sigma, radius).astype(dtype)
        tmp = _corr1d(a, w, axis=0)
        tmp = _corr1d(tmp, w, axis=1)
        return tmp[h : h + th, h : h + tw]

    return stencil_apply(rf, radius, kern)


def sobel(rf: RasterFrame) -> RasterFrame:
    """skimage-compatible Sobel gradient magnitude / cell_size
    (reference src/rastr/raster.py:1164-1183)."""
    cs = rf.meta.cell_size
    dtype = np.dtype(rf.meta.dtype)

    def kern(padded, valid, info):
        r0, c0, th, tw, h = info
        a = _symmetric_fill(padded, valid).astype(np.float64)
        smooth = np.array([1.0, 2.0, 1.0]) / 4.0
        deriv = np.array([1.0, 0.0, -1.0]) / 2.0

        v = _corr1d(_corr1d(a, deriv, axis=0), smooth, axis=1)  # vertical derivative
        hgrad = _corr1d(_corr1d(a, smooth, axis=0), deriv, axis=1)
        mag = np.sqrt(2.0 * (v * v + hgrad * hgrad)) / cs
        return mag[h : h + th, h : h + tw].astype(dtype)

    return stencil_apply(rf, 1, kern)


def _disk(radius: int) -> np.ndarray:
    """skimage.morphology.disk: boolean disk, |(i,j)|₂ ≤ radius on integer grid."""
    y, x = np.mgrid[-radius : radius + 1, -radius : radius + 1]
    return (x * x + y * y) <= radius * radius


def dilate(rf: RasterFrame, radius: float) -> RasterFrame:
    """Grey dilation with a disk footprint (reference src/rastr/raster.py:1223-1288):
    pad beyond the grid, NaN→fill during the max-filter, NaN mask restored after.

    The reference pads and fills with (global min − 1); this kernel uses −inf,
    which gives the same output without the global-min job: the disk always
    contains its own centre, so every valid cell's max already includes a value
    above ANY pad below the minimum — the pad never wins — and NaN cells are
    restored afterwards. An all-NaN raster comes back all-NaN."""
    cell_radius = int(math.ceil(radius / rf.meta.cell_size))
    dtype = np.dtype(rf.meta.dtype)
    foot = _disk(cell_radius)

    def kern(padded, valid, info):
        r0, c0, th, tw, h = info
        # original core NaN mask BEFORE the fill: the core of the padded
        # window IS the original tile, so the kernel restores the NaN cells
        # itself (orig NaN → NaN, else dilated value)
        nan_core = np.isnan(padded[h : h + th, h : h + tw])
        a = padded.copy()
        a[~valid | np.isnan(a)] = -np.inf
        a = a.astype(dtype)
        # max filter via shift-stack over the disk footprint
        out = np.full((th, tw), -np.inf, dtype=dtype)
        for dy in range(-h, h + 1):
            for dx in range(-h, h + 1):
                if not foot[dy + h, dx + h]:
                    continue
                out = np.maximum(out, a[h + dy : h + dy + th, h + dx : h + dx + tw])
        out = out.astype(np.float64)
        out[nan_core] = np.nan
        return out

    return stencil_apply(rf, cell_radius, kern)


def _tile_census(rf: RasterFrame) -> DataFrame:
    """One row per tile, everything extrapolate plans from, in ONE vectorized
    Arrow pass over the original raster. :func:`extrapolate` reads it once
    with ``toArrow()`` — ~60-100 bytes per tile, so even 10⁶ tiles stay in the
    size class of the broadcast donor set — and plans the rest on the driver:

    - ``n_nan`` / ``n_donors``: NaN and non-NaN cell counts;
    - ``max_run``: the longest NaN run of the row-major values array, or NULL
      when it reaches the tile width (it may then cover a full row, so it is
      no same-row donor bound). A flat run of length L < tile width never
      crosses a full row, so every cell in it has a same-row donor within L —
      a PROVEN radius. For the dense-raster-with-scattered-holes shape (the
      common one on real rasters) that settles every tile without the donor
      reps, and the radius is the hole size, not ~half a tile diagonal;
    - ``rmin``/``rmax``/``cmin``/``cmax``: the tile-LOCAL NaN bounding box
      (NULL without NaN) — the rep-bound input, so a small hole in a big tile
      still gathers a hole-sized window;
    - ``rep_r``/``rep_c``: up to 5 donor representatives in GLOBAL (row, col)
      coordinates — the donor cells nearest the tile CENTRE and each of the 4
      tile CORNERS (duplicates collapsed). The packed d2·T²+i long orders by
      min anchor-distance with ties → lowest row-major index (i < th·tw ≤ T²,
      d2 ≤ 8(T−1)² keeps the product far below 2⁶³); anchor coords are scaled
      ×2 to stay integral. Five reps keep the radius bound tight for the
      common shapes (a small hole inside a donor-rich tile sees the
      centre-nearest donor; a donor band along one edge sees its corner
      donors); the residual slack is paid only in window size, never in
      correctness (every rep is a real donor, and the kernel still computes
      the true nearest donor)."""
    meta = rf.meta
    Tsz = meta.tile_size
    H, W = meta.height, meta.width
    mult = np.int64(int(Tsz) * int(Tsz))
    bbox = ("rmin", "rmax", "cmin", "cmax")
    schema = pa.schema(
        [(k, pa.int32()) for k in ("tile_row", "tile_col")]
        + [(k, pa.int64()) for k in ("n_nan", "n_donors")]
        + [(k, pa.int32()) for k in ("max_run", *bbox)]
        + [(k, pa.list_(pa.int32())) for k in ("rep_r", "rep_c")]
    )

    def kernel(batches):
        for b in batches:
            out: dict = {k: [] for k in schema.names}
            flat, offs = list_parts(b.column("values"))
            for i, (tr, tc) in enumerate(
                zip(b.column("tile_row").to_pylist(), b.column("tile_col").to_pylist())
            ):
                nan = np.isnan(flat[offs[i] : offs[i + 1]])
                th_ = min(Tsz, H - tr * Tsz)
                tw_ = min(Tsz, W - tc * Tsz)
                holes = np.nonzero(nan)[0]
                idx = np.nonzero(~nan)[0].astype(np.int64)
                out["tile_row"].append(tr)
                out["tile_col"].append(tc)
                out["n_nan"].append(int(holes.size))
                out["n_donors"].append(int(idx.size))
                if holes.size:
                    edges = np.diff(np.concatenate(([0], nan.view(np.int8), [0])))
                    run = int((np.nonzero(edges == -1)[0] - np.nonzero(edges == 1)[0]).max())
                    cols = holes % tw_
                    out["max_run"].append(run if run < tw_ else None)
                    out["rmin"].append(int(holes[0] // tw_))
                    out["rmax"].append(int(holes[-1] // tw_))
                    out["cmin"].append(int(cols.min()))
                    out["cmax"].append(int(cols.max()))
                else:
                    out["max_run"].append(0)
                    for k in bbox:
                        out[k].append(None)
                best: list = []
                if idx.size:
                    r2 = 2 * (idx // tw_)
                    c2 = 2 * (idx % tw_)
                    anchors = (
                        (th_ - 1, tw_ - 1),
                        (0, 0),
                        (0, 2 * (tw_ - 1)),
                        (2 * (th_ - 1), 0),
                        (2 * (th_ - 1), 2 * (tw_ - 1)),
                    )
                    best = sorted({
                        int(idx[np.argmin(((r2 - ar) ** 2 + (c2 - ac) ** 2) * mult + idx)])
                        for ar, ac in anchors
                    })
                out["rep_r"].append([tr * Tsz + bi // tw_ for bi in best])
                out["rep_c"].append([tc * Tsz + bi % tw_ for bi in best])
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return rf.df.select("tile_row", "tile_col", "values").mapInArrow(
        kernel, from_arrow_schema(schema)
    )


def _donor_cells(rf: RasterFrame) -> DataFrame:
    """(tile_row, tile_col, tw, di, dv): per-tile SPARSE donor lists — the
    positions (row-major index) and values of every non-NaN cell, extracted in
    one vectorized Arrow pass. The sparse-gather extrapolate round replicates
    these few-donor lists to target tiles instead of shipping dense
    mostly-NaN window strips (see :func:`_sparse_nn_fill`)."""
    Tsz = rf.meta.tile_size
    W = rf.meta.width
    schema = pa.schema(
        [(k, pa.int32()) for k in ("tile_row", "tile_col", "tw")]
        + [("di", pa.list_(pa.int64())), ("dv", pa.list_(pa.float64()))]
    )

    def kernel(batches):
        for b in batches:
            flat, offs = list_parts(b.column("values"))
            out: dict = {k: [] for k in schema.names}
            for i, (tr, tc) in enumerate(
                zip(b.column("tile_row").to_pylist(), b.column("tile_col").to_pylist())
            ):
                vals = flat[offs[i] : offs[i + 1]]
                idx = np.nonzero(~np.isnan(vals))[0]
                if idx.size:
                    out["tile_row"].append(tr)
                    out["tile_col"].append(tc)
                    out["tw"].append(min(Tsz, W - tc * Tsz))
                    out["di"].append(idx)
                    out["dv"].append(vals[idx])
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return rf.df.select("tile_row", "tile_col", "values").mapInArrow(
        kernel, from_arrow_schema(schema)
    )


def _sparse_nn_fill(rf: RasterFrame, radii: DataFrame, donors: DataFrame) -> DataFrame:
    """The exact-radius extrapolate round over a BROADCAST donor set: the
    (driver-bounded, see ``SPARSE_GATHER_MAX_DONORS``) donor cells are read
    once with ``toArrow()`` into three sorted numpy arrays and broadcast; a
    batched ``mapInArrow`` over the driver-built radii table then box-queries
    each target's window out of the sorted arrays (``searchsorted`` on the row
    coordinate) and runs the identical proven :func:`_nn_fill` on a window
    re-assembled from those donors. Result is bit-equal to the dense-strip
    round — the window a kernel sees contains exactly the same donor cells.

    Why this shape: on a mostly-NaN raster the proven radii are necessarily
    wide (the nearest donor IS far), so the dense round ships (T+2h)² window
    cells per target — 244M cells ≈ 15× the raster for the 16.8M-cell bench
    raster at one donor/tile — and a shuffle-gathered sparse variant still
    pays ~2 ms × n_targets of per-group Arrow overhead in applyInPandas
    (measured 8 s for 4096 groups with a trivial kernel). Here NOTHING is
    shuffled: no raster scan, no per-group machinery — the only moving parts
    are one bounded read+broadcast and one Python crossing of the
    one-row-per-NaN-tile radii table. That table is a local one (a
    ``LocalTableScan`` spread over min(n_targets, defaultParallelism)
    partitions), so each row's ~5 ms of kernel work runs in parallel without
    a repartition. The padded window is additionally shrunk to the bbox of
    core ∪ in-window donors: excluded cells are donor-free by construction,
    so the kernel's scan result is unchanged."""
    meta = rf.meta
    Tsz = meta.tile_size
    H, W = meta.height, meta.width
    raster_id = rf.raster_id
    t = donors.select("tile_row", "tile_col", "tw", "di", "dv").toArrow()
    n = pc.list_value_length(t.column("di")).to_numpy()
    di = pc.list_flatten(t.column("di")).to_numpy()
    tw = np.repeat(t.column("tw").to_numpy().astype(np.int64), n)
    gr = np.repeat(t.column("tile_row").to_numpy().astype(np.int64) * Tsz, n) + di // tw
    gc = np.repeat(t.column("tile_col").to_numpy().astype(np.int64) * Tsz, n) + di % tw
    dv = pc.list_flatten(t.column("dv")).to_numpy()
    order = np.lexsort((gc, gr))
    bc = rf.df.sparkSession.sparkContext.broadcast((gr[order], gc[order], dv[order]))

    def fill(batches):
        G, C, V = bc.value
        for b in batches:
            trs, tcs = b.column("tile_row").to_pylist(), b.column("tile_col").to_pylist()
            cores = []
            for tr, tc, h_ in zip(trs, tcs, b.column("h").to_pylist()):
                r0, c0 = tr * Tsz, tc * Tsz
                th_, tw_ = min(Tsz, H - r0), min(Tsz, W - c0)
                rs, re = max(r0 - h_, 0), min(r0 + th_ + h_, H)
                cs, ce = max(c0 - h_, 0), min(c0 + tw_ + h_, W)
                lo, hi = np.searchsorted(G, (rs, re))
                m = (C[lo:hi] >= cs) & (C[lo:hi] < ce)
                g2, c2, v2 = G[lo:hi][m], C[lo:hi][m], V[lo:hi][m]
                if g2.size == 0:
                    # no donor in the window (defensive — proven radii imply
                    # one): emit the all-NaN core, like the dense round would
                    cores.append(np.full((th_, tw_), np.nan))
                    continue
                rs2 = min(int(g2.min()), r0)
                re2 = max(int(g2.max()) + 1, r0 + th_)
                cs2 = min(int(c2.min()), c0)
                ce2 = max(int(c2.max()) + 1, c0 + tw_)
                padded = np.full((re2 - rs2, ce2 - cs2), np.nan)
                padded[g2 - rs2, c2 - cs2] = v2
                info = (r0, c0, th_, tw_, h_, r0 - rs2, c0 - cs2)
                cores.append(_nn_fill(padded, np.ones(padded.shape, dtype=bool), info))
            yield tile_batch(raster_id, trs, tcs, cores)

    return radii.mapInArrow(fill, TILE_SCHEMA)


# dense-window volume bound for the exact-radius round, as a multiple of the
# raster's own cell count: below it the dense strip gather ships ~the raster
# once and stays (the common dense-raster-with-holes shape); above it the
# donor cells are extracted and, when they fit the broadcast bound below, the
# round runs from a broadcast donor set instead (mostly-NaN rasters, where
# proven radii are necessarily wide and dense windows would ship the raster
# 10-20x). The two regimes are complementary: many donors ⇒ small radii ⇒
# dense windows ship ≈ the raster once; few donors ⇒ broadcastable.
SPARSE_GATHER_DENSE_BLOWUP = 4.0

# donor-cell count above which the broadcast round is not attempted (the
# read+broadcast is ~24 bytes/donor — the bound keeps it a few dozen MB,
# same class as the census the driver already holds at ~10⁶ tiles)
SPARSE_GATHER_MAX_DONORS = 2_000_000


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + n)`` for every (s, n) pair, vectorized."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())


def _census_radii(census: pa.Table, meta: RasterMeta) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(tile_row, tile_col, h) int64 arrays for every NaN tile of a
    :func:`_tile_census` table: a PROVEN-sufficient per-tile radius, planned
    on the driver in numpy.

    A valid NaN-run bound is the radius, clipped to [1, max_h]. Every other
    NaN tile takes the census donor reps: for a fixed donor, distance over the
    tile's NaN bbox is convex and separable, so its max sits at a corner
    (d² = the largest row offset² + the largest column offset²); the min
    over reps of that corner-max bounds every NaN cell's
    nearest-donor distance from above (every rep IS a real donor). The reps
    searched are those within Chebyshev tile rings K = 4, 16, … of the tile,
    the first ring that holds one deciding: any in-ring rep gives a valid
    bound, and a tile never meets the reps of far-away tiles. Reps are
    bucketed by tile (sorted by row-major tile key, so one ring row is one
    contiguous slice; a summed-area table counts a ring's reps in O(1)), and
    tiles are evaluated in blocks of ~2¹⁸ (tile, rep) pairs — memory stays
    bounded, and no target × rep product is ever built.

    ``max_h`` is the grid DIAGONAL: max(H, W) would leave a far corner
    unproven when the only donors sit in the opposite corner (distance up to
    √(H²+W²) — found by the single-corner-donor test)."""
    Tsz, ntr, ntc = meta.tile_size, meta.n_tile_rows, meta.n_tile_cols
    max_h = int(math.ceil(math.hypot(meta.height, meta.width)))

    def ints(k):
        return census.column(k).fill_null(0).to_numpy().astype(np.int64)

    tgt = np.flatnonzero(ints("n_nan") > 0)
    tr, tc, run = ints("tile_row")[tgt], ints("tile_col")[tgt], ints("max_run")[tgt]
    h = np.clip(run, 1, max_h)  # max_run is NULL (→ 0) where no run bound holds
    need = np.flatnonzero(run == 0)
    nr, nc = tr[need], tc[need]
    r0, r1 = nr * Tsz + ints("rmin")[tgt][need], nr * Tsz + ints("rmax")[tgt][need]
    c0, c1 = nc * Tsz + ints("cmin")[tgt][need], nc * Tsz + ints("cmax")[tgt][need]

    rr = pc.list_flatten(census.column("rep_r")).to_numpy().astype(np.int64)
    rc = pc.list_flatten(census.column("rep_c")).to_numpy().astype(np.int64)
    key = (rr // Tsz) * ntc + rc // Tsz
    order = np.argsort(key, kind="stable")
    rr, rc = rr[order], rc[order]
    counts = np.bincount(key, minlength=ntr * ntc)
    ptr = np.concatenate(([0], np.cumsum(counts)))
    sat = np.zeros((ntr + 1, ntc + 1), np.int64)
    sat[1:, 1:] = counts.reshape(ntr, ntc).cumsum(0).cumsum(1)

    best = np.full(need.size, np.iinfo(np.int64).max)  # min corner-max d²
    todo = np.arange(need.size)
    budget = 1 << 18
    K = 4
    while todo.size:
        ra, rb = np.maximum(nr[todo] - K, 0), np.minimum(nr[todo] + K, ntr - 1)
        ca, cb = np.maximum(nc[todo] - K, 0), np.minimum(nc[todo] + K, ntc - 1)
        cnt = sat[rb + 1, cb + 1] - sat[ra, cb + 1] - sat[rb + 1, ca] + sat[ra, ca]
        hit = cnt > 0
        ids, ra, ca, cb, cnt = todo[hit], ra[hit], ca[hit], cb[hit], cnt[hit]
        rows = rb[hit] - ra + 1
        cost = np.cumsum(cnt + rows)
        start = 0
        while start < ids.size:
            base = cost[start - 1] if start else 0
            stop = max(start + 1, int(np.searchsorted(cost, base + budget, "right")))
            b = slice(start, stop)
            # one segment per (tile, ring row): a contiguous slice of the reps
            seg = np.repeat(np.arange(stop - start), rows[b])
            seg_row = _ranges(ra[b], rows[b])
            lo = ptr[seg_row * ntc + ca[b][seg]]
            n = ptr[seg_row * ntc + cb[b][seg] + 1] - lo
            t, rep = ids[b][np.repeat(seg, n)], _ranges(lo, n)
            dr = np.maximum(np.abs(r0[t] - rr[rep]), np.abs(r1[t] - rr[rep]))
            dc = np.maximum(np.abs(c0[t] - rc[rep]), np.abs(c1[t] - rc[rep]))
            best[ids[b]] = np.minimum.reduceat(dr * dr + dc * dc, np.cumsum(cnt[b]) - cnt[b])
            start = stop
        todo = todo[~hit]
        if K >= max(ntr, ntc):  # the ring covered the grid: no rep anywhere
            break
        K *= 4
    h[need] = np.clip(np.ceil(np.sqrt(best.astype(np.float64))), 1, max_h).astype(np.int64)
    return tr, tc, h


def extrapolate(rf: RasterFrame, method: str = "nearest") -> RasterFrame:
    """NaN → nearest non-NaN by Euclidean index distance, ties → lowest (row, col)
    (reference src/rastr/raster.py:1290-1309 + arr/fill.py:11-32).

    One plan for every donor layout (SURVEY §2.2): ONE Arrow census pass over
    the original raster (:func:`_tile_census`, read once with ``toArrow()``)
    and the driver plans the rest in numpy. :func:`_census_radii` gives every
    NaN tile an EXACT proven-sufficient radius — the NaN-run bound alone when
    the tile's holes are small (the common dense-raster shape), the min
    corner-max distance to the nearby census donor reps otherwise — and ONE
    round at per-tile radius finishes, always filling from the ORIGINAL
    raster (scipy NearestNDInterpolator semantics: chained propagation would
    drift). That round gathers either dense window strips
    (:func:`stencil_apply` with ``targets``) or a broadcast donor set
    (:func:`_sparse_nn_fill`), picked from the driver-known dense window
    volume Σ(T+2h)². The radii travel as one driver-built table; the
    untouched tiles merge back through the codegen NaN-free filter
    (:func:`_has_nan`) — the targets are exactly the tiles holding NaN, so
    NaN-free tiles never enter the round and no second broadcast is needed.
    NaN-free and all-NaN rasters return unchanged after the census read.
    """
    if method not in ("nearest",):
        raise NotImplementedError(f"Unsupported extrapolation method: {method}")
    meta = rf.meta
    census = _tile_census(rf).toArrow()
    n_donors = pc.sum(census.column("n_donors")).as_py() or 0
    # no NaN anywhere — nothing to fill; all-NaN raster — reference returns
    # it unchanged
    if not n_donors or not pc.any(pc.greater(census.column("n_nan"), 0)).as_py():
        return RasterFrame(rf.df, meta, rf.raster_id)

    tr, tc, h = _census_radii(census, meta)
    radii = rf.df.sparkSession.createDataFrame(
        pa.table({k: v.astype(np.int32) for k, v in (("tile_row", tr), ("tile_col", tc), ("h", h))})
    )
    # gather-representation choice for the one targeted round: dense strips
    # ship Σ(T+2h)² window cells; sparse donor lists ship each donor once.
    # Mostly-NaN rasters have necessarily wide proven radii (the nearest
    # donor IS far), where dense windows move the raster 10-20× — the sparse
    # path moves only the donors.
    dense = float(np.sum((meta.tile_size + 2.0 * h) ** 2))
    if (
        dense > SPARSE_GATHER_DENSE_BLOWUP * float(meta.height) * float(meta.width)
        and n_donors <= SPARSE_GATHER_MAX_DONORS
    ):
        filled_df = _sparse_nn_fill(rf, radii, _donor_cells(rf))
    else:
        filled_df = stencil_apply(rf, None, _nn_fill, targets=radii).df
    # the targets are exactly the tiles holding NaN
    return RasterFrame(rf.df.filter(~_has_nan()).unionByName(filled_df), meta, rf.raster_id)


def _nn_fill(padded: np.ndarray, valid: np.ndarray, info: tuple) -> np.ndarray:
    """Per-tile nearest-donor fill, proof radius = ``info``'s h (module level
    so the two code paths — offset sweep for h ≤ 32, two-pass column scan for
    larger radii — are directly testable against each other; semantics in
    :func:`extrapolate`)."""
    # 5-tuple = full (th+2h)×(tw+2h) window (core offset = h);
    # 7-tuple = grid-clipped window with explicit core offsets (the
    # targeted stencil_apply form and the sparse round)
    if len(info) == 7:
        r0, c0, th, tw, h_, top, left = info
    else:
        r0, c0, th, tw, h_ = info
        top = left = h_
    core = padded[top : top + th, left : left + tw]
    out = core.copy()
    nan_mask = np.isnan(core)
    if not nan_mask.any() or np.isnan(padded).all():
        return out
    # offsets sorted by (d², dy, dx): first non-NaN donor in this order IS
    # the min-distance donor with lowest-(row,col) tie-break — because for
    # tied d², smaller dy ⇒ smaller donor row (dy = donor_row - cell_row),
    # then smaller dx ⇒ smaller donor col. Only offsets with d ≤ h qualify
    # (a donor outside the window is at Chebyshev > h ⇒ Euclid > h, so a
    # hit within h is globally optimal and every tied donor is in-window).
    if len(info) == 5 and h_ <= 32:
        # small radius, full (unclipped) window: offset-ordered sweep,
        # fully vectorized per offset. Clipped 7-tuple windows always take
        # the two-pass scan — the sweep's padded[top+dy ...] indexing
        # assumes a full h_ margin on every side.
        offs = [
            (dy * dy + dx * dx, dy, dx)
            for dy in range(-h_, h_ + 1)
            for dx in range(-h_, h_ + 1)
            if 0 < dy * dy + dx * dx <= h_ * h_
        ]
        offs.sort()
        pend = nan_mask.copy()
        for _, dy, dx in offs:
            if not pend.any():
                break
            cand = padded[top + dy : top + dy + th, left + dx : left + dx + tw]
            take = pend & ~np.isnan(cand)
            out[take] = cand[take]
            pend &= ~take
        return out
    # large radius (sparse data): exact two-pass nearest-donor search.
    # Pass 1 — per COLUMN, the nearest donor row (two vectorized accumulate
    # scans; tie |Δrow| above/below → the smaller row). Pass 2 — per output
    # row, a vectorized lexicographic argmin over all padded columns: min
    # total d², ties by (donor row, donor col) — exactly the reference's
    # ordering. A donor that is not the nearest within its own column can
    # never tie the global optimum (its column's nearest has strictly
    # smaller total), so pass 1 loses nothing. O(core_cells × padded_width)
    # numpy work instead of a Python loop per NaN cell with a full
    # donor-array distance scan each iteration (VERDICT r3 item 3).
    mask = ~np.isnan(padded)
    P_r, P_c = padded.shape
    ri = np.arange(P_r, dtype=np.int64)[:, None]
    LARGE = P_r + P_c + 10  # > any real distance; empty columns never win
    up = np.maximum.accumulate(np.where(mask, ri, -LARGE), axis=0)
    down = np.minimum.accumulate(np.where(mask, ri, 3 * LARGE)[::-1], axis=0)[::-1]
    d_up = ri - up
    d_down = down - ri
    nr = np.where(d_up <= d_down, up, down)  # tie → smaller donor row
    dr = np.minimum(d_up, d_down)
    dr2 = dr * dr  # ≥ LARGE² > h² wherever the column has no donor
    cols = np.arange(P_c, dtype=np.int64)
    h2 = h_ * h_
    sentinel = np.iinfo(np.int64).max
    for i in range(th):
        row_nan = nan_mask[i]
        if not row_nan.any():
            continue
        r = i + top
        cc = (np.nonzero(row_nan)[0] + left)[:, None]
        dc = cc - cols[None, :]
        tot = dr2[r][None, :] + dc * dc
        best = tot.min(axis=1)
        sel = best <= h2
        if not sel.any():
            continue
        tie_key = np.where(
            tot == best[:, None], nr[r][None, :] * P_c + cols[None, :], sentinel
        )
        j = tie_key.argmin(axis=1)[sel]
        fill_cols = np.nonzero(row_nan)[0][sel]
        out[i, fill_cols] = padded[nr[r, j], j]
    return out


# -- attach ------------------------------------------------------------------
RasterFrame.blur = lambda self, sigma, preserve_nan=True: blur(self, sigma, preserve_nan=preserve_nan)
RasterFrame.sobel = lambda self: sobel(self)
RasterFrame.dilate = lambda self, radius: dilate(self, radius)
RasterFrame.extrapolate = lambda self, method="nearest": extrapolate(self, method)
