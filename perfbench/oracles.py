"""Engine-independent output oracles: plain numpy over the generated
inputs. They run outside the timed region; every mismatch counts as a
failed operation."""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pandas as pd

from perfbench.inputs import EXTENT, parse_wkb_area, shoelace

# ------------------------------------------------------------- point tests


def ray_parity(px, py, ring) -> np.ndarray:
    """Even-odd (ray-crossing) inside test of points against one ring."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    px = np.asarray(px)[:, None]
    py = np.asarray(py)[:, None]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return ((straddle & (px < xint)).sum(axis=1) % 2) == 1


def _bbox_candidates(x, y, ring) -> np.ndarray:
    return np.flatnonzero(
        (x >= ring[:, 0].min()) & (x <= ring[:, 0].max())
        & (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
    )


def pip_pairs(points: pd.DataFrame, rings, ids) -> np.ndarray:
    """Sorted (doc_id, poly_id) pairs with the point inside the ring."""
    x, y = points.x.to_numpy(), points.y.to_numpy()
    doc = points.doc_id.to_numpy()
    out = []
    for pid, ring in zip(ids, rings):
        c = _bbox_candidates(x, y, ring)
        if len(c):
            hit = c[ray_parity(x[c], y[c], ring)]
            out.append(np.column_stack([doc[hit], np.full(len(hit), pid)]))
    return sort_pairs(np.vstack(out) if out else np.empty((0, 2), np.int64))


def knn_ids(points, cx, cy, ids, k) -> np.ndarray:
    """(n, k) build ids of the k nearest centres, ties by id."""
    ids = np.asarray(ids)
    out = np.empty((len(points), k), dtype=np.int64)
    x, y = points.x.to_numpy(), points.y.to_numpy()
    for s in range(0, len(points), 2048):
        d2 = (x[s:s + 2048, None] - cx[None, :]) ** 2 + (y[s:s + 2048, None] - cy[None, :]) ** 2
        order = np.lexsort((np.broadcast_to(ids, d2.shape), d2), axis=1)[:, :k]
        out[s:s + 2048] = ids[order]
    return out


def sort_pairs(p) -> np.ndarray:
    p = np.asarray(p, dtype=np.int64).reshape(-1, 2)
    return p[np.lexsort((p[:, 1], p[:, 0]))]


def same_pairs(got: pd.DataFrame, cols, want: np.ndarray) -> bool:
    g = sort_pairs(got[list(cols)].to_numpy(np.int64))
    return g.shape == want.shape and bool((g == want).all())


# --------------------------------------------------------------- tiling


def clipped_square_area(sq: pd.DataFrame) -> np.ndarray:
    x0, y0, x1, y1 = EXTENT
    w = np.clip(np.minimum(sq.xmax, x1) - np.maximum(sq.xmin, x0), 0, None)
    h = np.clip(np.minimum(sq.ymax, y1) - np.maximum(sq.ymin, y0), 0, None)
    return (w * h).to_numpy()


def hilbert_xy2d(level: int, x, y) -> np.ndarray:
    """Hilbert index of grid cells: the textbook quadrant-rotation
    walk, vectorized over cells."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << level
    s = n >> 1
    while s > 0:
        rx = (x & s) > 0
        ry = (y & s) > 0
        d += s * s * ((3 * rx) ^ ry)
        flip = ~ry
        swap_x = np.where(flip & rx, n - 1 - x, x)
        swap_y = np.where(flip & rx, n - 1 - y, y)
        x, y = np.where(flip, swap_y, swap_x), np.where(flip, swap_x, swap_y)
        s >>= 1
    return d


def check_fragments(frags: pd.DataFrame, squares: pd.DataFrame, level: int) -> list[str]:
    """Fragment areas of each square sum to its area clipped to the
    extent; every fragment lies in the tile its cell id names."""
    errs = []
    want = clipped_square_area(squares)
    got = frags.groupby("doc_id").clipped_area.sum().reindex(squares.doc_id, fill_value=0.0)
    if not np.allclose(got.to_numpy(), want, rtol=1e-9, atol=1e-6):
        errs.append("fragment areas do not sum to the clipped square area")
    x0, y0, x1, _ = EXTENT
    size = (x1 - x0) / (1 << level)
    gx = np.floor(((frags.fxmin + frags.fxmax) / 2 - x0) / size)
    gy = np.floor(((frags.fymin + frags.fymax) / 2 - y0) / size)
    if not (hilbert_xy2d(level, gx, gy) == frags.cell.to_numpy()).all():
        errs.append("fragment cell ids are not the Hilbert index of their tile")
    return errs


# ---------------------------------------------------------------- raster


def raster_masks(rings, ids, grid: int) -> dict:
    """poly_id -> flat pixel ids whose centre lies inside the ring."""
    x0, y0, x1, y1 = EXTENT
    cw, ch = (x1 - x0) / grid, (y1 - y0) / grid
    out = {}
    for pid, ring in zip(ids, rings):
        i0 = max(0, int((ring[:, 0].min() - x0) / cw) - 1)
        i1 = min(grid - 1, int((ring[:, 0].max() - x0) / cw) + 1)
        j0 = max(0, int((ring[:, 1].min() - y0) / ch) - 1)
        j1 = min(grid - 1, int((ring[:, 1].max() - y0) / ch) + 1)
        ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
        ii, jj = ii.ravel(), jj.ravel()
        inside = ray_parity(x0 + (ii + 0.5) * cw, y0 + (jj + 0.5) * ch, ring)
        out[int(pid)] = jj[inside] * grid + ii[inside]
    return out


def components_4(pixels: np.ndarray, grid: int) -> int:
    """Number of 4-connected components of a set of flat pixel ids."""
    pix = np.unique(pixels)
    index = {int(p): i for i, p in enumerate(pix)}
    parent = list(range(len(pix)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, p in enumerate(pix):
        p = int(p)
        for q in ((p + 1) if (p % grid) < grid - 1 else None, p + grid):
            j = index.get(q) if q is not None else None
            if j is not None:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[ra] = rb
    return len({find(i) for i in range(len(pix))})


# --------------------------------------------------------------- geometry


def rings_intersect(ra: np.ndarray, rb: np.ndarray) -> bool:
    """Closed polygons intersect: some edges cross or one contains a
    vertex of the other."""
    a1, a2 = ra[:-1][:, None, :], ra[1:][:, None, :]
    b1, b2 = rb[:-1][None, :, :], rb[1:][None, :, :]

    def orient(p, q, r):
        return np.sign((q[..., 0] - p[..., 0]) * (r[..., 1] - p[..., 1])
                       - (q[..., 1] - p[..., 1]) * (r[..., 0] - p[..., 0]))

    cross = ((orient(a1, a2, b1) * orient(a1, a2, b2) <= 0)
             & (orient(b1, b2, a1) * orient(b1, b2, a2) <= 0))
    if cross.any():
        return True
    return bool(ray_parity(ra[:1, 0], ra[:1, 1], rb)[0]
                or ray_parity(rb[:1, 0], rb[:1, 1], ra)[0])


def intersect_pairs(arings, aids, brings, bids) -> np.ndarray:
    abox = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in arings])
    bbox = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in brings])
    out = []
    for i, ra in enumerate(arings):
        c = np.flatnonzero((bbox[:, 0] <= abox[i, 2]) & (abox[i, 0] <= bbox[:, 2])
                           & (bbox[:, 1] <= abox[i, 3]) & (abox[i, 1] <= bbox[:, 3]))
        out.extend((aids[i], bids[j]) for j in c if rings_intersect(ra, brings[j]))
    return sort_pairs(out)


def transpose_de9im(m: str) -> str:
    return "".join(m[3 * c + r] for r in range(3) for c in range(3))


def check_st_ops(out: pd.DataFrame, inp: dict, buffer_d: float) -> list[str]:
    """st_area / st_isvalid / st_relate (both ways) / st_buffer /
    st_overlay('intersection') per row."""
    errs = []
    kind = inp["kind"]
    rings, prings = inp["rings"], inp["prings"]
    out = out.sort_values("gid").reset_index(drop=True)
    if len(out) != len(kind) or (out.gid.to_numpy() != np.arange(len(kind))).any():
        return [f"st_ops returned {len(out)} rows, expected {len(kind)}"]
    for i, k in enumerate(kind):
        r = out.iloc[i]
        vals = (r.area, r.valid, r.rel_ab, r.rel_ba, r.buf, r.inter)
        if k == "null":
            if any(v is not None and not (isinstance(v, float) and math.isnan(v)) for v in vals):
                errs.append(f"row {i}: NULL input gave a non-NULL output")
            continue
        want_area = abs(shoelace(rings[i]))
        if not math.isclose(r.area, want_area, rel_tol=1e-7, abs_tol=1e-6):
            errs.append(f"row {i}: area {r.area} != shoelace {want_area}")
        if bool(r.valid) != (k == "valid"):
            errs.append(f"row {i}: isvalid {r.valid} for a {k} polygon")
        if k == "invalid":
            continue  # any value or NULL is within the NULL-on-error contract
        if r.rel_ab is None or r.rel_ba is None or transpose_de9im(r.rel_ab) != r.rel_ba:
            errs.append(f"row {i}: relate(B,A) is not the transpose of relate(A,B)")
            continue
        hit = rings_intersect(rings[i], prings[i])
        if (r.rel_ab != "FF2FF1212") != hit:
            errs.append(f"row {i}: relate {r.rel_ab} disagrees with intersects={hit}")
        ba = parse_wkb_area(r.buf)
        per = float(np.hypot(*np.diff(rings[i], axis=0).T).sum())
        hi = want_area + per * buffer_d + math.pi * buffer_d ** 2
        if ba is None or not (want_area * (1 - 1e-7) <= ba <= hi * (1 + 1e-7)):
            errs.append(f"row {i}: buffer area {ba} outside [{want_area}, {hi}]")
        ia = parse_wkb_area(r.inter)
        pa = abs(shoelace(prings[i]))
        # areas agree with the engine's to ~1e-9 relative, not exactly
        if ia is None or ia > min(want_area, pa) * (1 + 1e-7) + 1e-6 or (ia > 0 and not hit):
            errs.append(f"row {i}: intersection area {ia} inconsistent")
    return errs


# ------------------------------------------------------------------ text


def check_clusters(out: pd.DataFrame, group: np.ndarray) -> list[str]:
    """dedup_clusters output against the planted near-duplicate groups:
    every planted group is one cluster (its pairs have word-3-shingle
    Jaccard >= 0.97, far above the operator's 0.8 threshold), no
    cluster mixes docs of different groups, the canonical is the
    cluster's min doc id and ``csize`` its doc count."""
    out = out.sort_values("doc_id").reset_index(drop=True)
    n = len(group)
    if len(out) != n or (out.doc_id.to_numpy() != np.arange(n)).any():
        return [f"dedup returned {len(out)} rows for {n} docs"]
    errs = []
    canon = out.canonical.to_numpy()
    members = pd.Series(np.arange(n)).groupby(canon)
    split = pd.Series(canon).groupby(group).nunique()
    if (split > 1).any():
        docs = np.flatnonzero(np.isin(group, split.index[split > 1]))
        errs.append(f"planted near-duplicate groups split across clusters: docs {docs.tolist()[:12]}")
    if (pd.Series(group).groupby(canon).nunique() > 1).any():
        errs.append("a cluster merges docs of different planted groups")
    if not (members.min().index.to_numpy() == members.min().to_numpy()).all():
        errs.append("a canonical id is not the min doc id of its cluster")
    if not (out.csize.to_numpy() == members.transform("size").to_numpy()).all():
        errs.append("csize differs from the cluster's doc count")
    return errs


_WORD = re.compile(r"[a-z]+")


def bigram_perplexity(texts: dict) -> dict:
    """doc_id -> add-one-smoothed corpus bigram self-perplexity, only
    for docs with at least one bigram."""
    toks = {d: _WORD.findall(t.lower()) for d, t in texts.items()}
    uni: Counter = Counter()
    bi: Counter = Counter()
    for ws in toks.values():
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    v = len(uni)
    out = {}
    for d, ws in toks.items():
        if len(ws) < 2:
            continue
        lp = [math.log((bi[p] + 1.0) / (uni[p[0]] + v)) for p in zip(ws, ws[1:])]
        out[d] = math.exp(-sum(lp) / len(lp))
    return out
