"""Seeded input generators. Pure numpy: the engine only ever sees the
tables these functions return, and the oracles read the same arrays.

Every generator takes a ``numpy.random.Generator`` so one ``--seed``
fixes every input of a run.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

EXTENT = (0.0, 0.0, 4096.0, 4096.0)
HOT_WINDOW = (1024.0, 1024.0, 1280.0, 1280.0)


# --------------------------------------------------------------------- WKB


def wkb_polygon(ring: np.ndarray) -> bytes:
    """Little-endian WKB POLYGON with one closed ring (n x 2 array)."""
    ring = np.ascontiguousarray(ring, dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def parse_wkb_area(b: bytes | None) -> float | None:
    """Shoelace area of a WKB (Multi)Polygon / GeometryCollection,
    decoded here independently of the engine's codec."""
    if b is None:
        return None
    b = bytes(b)
    return _area_at(b, 0)[0]


def _area_at(b: bytes, off: int) -> tuple[float, int]:
    order = "<" if b[off] == 1 else ">"
    (gtype,) = struct.unpack_from(order + "I", b, off + 1)
    off += 5
    gtype %= 1000
    if gtype == 3:
        (nrings,) = struct.unpack_from(order + "I", b, off)
        off += 4
        area = 0.0
        for r in range(nrings):
            (npts,) = struct.unpack_from(order + "I", b, off)
            off += 4
            xy = np.frombuffer(b, dtype=order + "f8", count=2 * npts, offset=off)
            off += 16 * npts
            a = abs(shoelace(xy.reshape(-1, 2)))
            area += a if r == 0 else -a
        return area, off
    if gtype in (6, 7):
        (n,) = struct.unpack_from(order + "I", b, off)
        off += 4
        total = 0.0
        for _ in range(n):
            a, off = _area_at(b, off)
            total += a
        return total, off
    raise ValueError(f"unexpected WKB type {gtype}")


def shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


# ---------------------------------------------------------------- geometry


def star_ring(rng, cx, cy, radius, n) -> np.ndarray:
    """Closed CCW ring star-shaped around (cx, cy), so the polygon is
    simple: one angle per equal sector (no gap between consecutive
    angles reaches pi, which would let the closing edges cross) and
    positive radii."""
    n = max(int(n), 4)
    ang = (np.arange(n) + rng.uniform(0.05, 0.95, n)) * (2 * np.pi / n)
    rr = radius * rng.uniform(0.55, 1.0, n)
    ring = np.column_stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def bowtie_ring(rng, cx, cy, radius) -> np.ndarray:
    """Self-intersecting quadrilateral: an invalid polygon."""
    r = radius * rng.uniform(0.6, 1.0)
    pts = [(cx - r, cy - r), (cx + r, cy + r), (cx + r, cy - r), (cx - r, cy + r)]
    return np.array(pts + pts[:1], dtype=np.float64)


# Inputs are stratified: a seed changes where every shape lies and how
# it looks, not how much work a run holds (the multiset of vertex
# counts, radii and sizes, and the share in the hot window, are fixed),
# so run-to-run differences measure the engine rather than the draw.


def strata(rng, n: int) -> np.ndarray:
    """n uniforms, one per equal-width stratum of [0, 1), shuffled."""
    return rng.permutation((np.arange(n) + rng.random(n)) / max(n, 1))


def vertex_counts(rng, n: int, lo: int, hi: int, skew: float = 1.0) -> np.ndarray:
    """Vertex counts lo..hi, log-uniform at ``skew`` 1; a larger skew
    makes most polygons small and leaves a heavy tail up to ``hi``."""
    u = strata(rng, n) ** skew
    return (lo * (hi / lo) ** u).astype(np.int64)


def jittered_grid(rng, n: int, box) -> tuple[np.ndarray, np.ndarray]:
    """n points, one per cell of a near-square grid over ``box`` (cells
    picked at random when the grid has more cells than points)."""
    x0, y0, x1, y1 = box
    k = int(np.ceil(np.sqrt(n)))
    cells = rng.choice(k * k, n, replace=False)
    gx, gy = cells % k, cells // k
    return (x0 + (gx + rng.random(n)) * (x1 - x0) / k,
            y0 + (gy + rng.random(n)) * (y1 - y0) / k)


def polygon_table(rng, n, *, r_lo, r_hi, v_lo, v_hi, hot_share=0.0,
                  id0=0, skew=1.0) -> tuple[pd.DataFrame, list[np.ndarray]]:
    """(poly_id, wkb, xmin, ymin, xmax, ymax, cx, cy) plus the rings."""
    x0, y0, x1, y1 = EXTENT
    n_hot = int(round(n * hot_share))
    hx, hy = jittered_grid(rng, n_hot, HOT_WINDOW)
    bx, by = jittered_grid(rng, n - n_hot, (x0 + r_hi, y0 + r_hi, x1 - r_hi, y1 - r_hi))
    order = rng.permutation(n)
    cx = np.concatenate([hx, bx])[order]
    cy = np.concatenate([hy, by])[order]
    radius = r_lo + (r_hi - r_lo) * strata(rng, n)
    nv = vertex_counts(rng, n, v_lo, v_hi, skew)
    rings = [star_ring(rng, cx[i], cy[i], radius[i], nv[i]) for i in range(n)]
    return _poly_frame(rings, cx, cy, id0), rings


def _poly_frame(rings, cx, cy, id0=0) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "poly_id": np.arange(id0, id0 + len(rings), dtype=np.int64),
            "wkb": [wkb_polygon(r) for r in rings],
            "xmin": [float(r[:, 0].min()) for r in rings],
            "ymin": [float(r[:, 1].min()) for r in rings],
            "xmax": [float(r[:, 0].max()) for r in rings],
            "ymax": [float(r[:, 1].max()) for r in rings],
            "cx": np.asarray(cx, dtype=np.float64),
            "cy": np.asarray(cy, dtype=np.float64),
        }
    )


def page_points(rng, n, hot_share) -> pd.DataFrame:
    """(doc_id, x, y): uniform background plus a hot window holding a
    fixed share of the rows, interleaved so any id range sees both."""
    x0, y0, x1, y1 = EXTENT
    hx0, hy0, hx1, hy1 = HOT_WINDOW
    hot = rng.permutation(np.arange(n) < int(round(n * hot_share)))
    x = np.where(hot, rng.uniform(hx0, hx1, n), rng.uniform(x0, x1, n))
    y = np.where(hot, rng.uniform(hy0, hy1, n), rng.uniform(y0, y1, n))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "x": x, "y": y})


# ---------------------------------------------------------------- workloads


def pip_join_inputs(rng, size) -> dict:
    polys, rings = polygon_table(
        rng, size["polygons"], r_lo=8.0, r_hi=60.0, v_lo=8, v_hi=1024,
        hot_share=0.1, skew=3.0,
    )
    pts = page_points(rng, size["points"], hot_share=0.25)
    starts = rng.integers(0, max(1, size["points"] - size["lookup_rows"]),
                          size["lookups"])
    return {"polys": polys, "rings": rings, "points": pts,
            "lookup_starts": starts}


def tile_raster_inputs(rng, size) -> dict:
    n = size["squares"]
    x0, y0, x1, y1 = EXTENT
    hx0, hy0, hx1, hy1 = HOT_WINDOW
    hot = rng.permutation(np.arange(n) < int(round(n * 0.3)))
    # centres may sit near (or past) the extent edge: fragments are
    # clipped to the extent, which the area oracle accounts for
    cx = np.where(hot, rng.uniform(hx0, hx1, n), rng.uniform(x0 - 50, x1 + 50, n))
    cy = np.where(hot, rng.uniform(hy0, hy1, n), rng.uniform(y0 - 50, y1 + 50, n))
    half = np.exp(np.log(2.0) + np.log(50.0) * strata(rng, n))
    lvl = size["hilbert_level"]
    cell = (x1 - x0) / (1 << lvl)
    squares = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "xmin": cx - half, "ymin": cy - half,
            "xmax": cx + half, "ymax": cy + half,
            "hx": np.clip(np.floor((cx - x0) / cell), 0, (1 << lvl) - 1).astype(np.int64),
            "hy": np.clip(np.floor((cy - y0) / cell), 0, (1 << lvl) - 1).astype(np.int64),
        }
    )
    ncell = 1 << (2 * size["tile_level"])
    lo = (strata(rng, size["range_reads"]) * (ncell - size["range_cells"])).astype(np.int64)
    ranges = np.column_stack([lo, lo + size["range_cells"]])
    rpolys, rrings = polygon_table(
        rng, size["raster_polygons"], r_lo=20.0, r_hi=120.0, v_lo=8, v_hi=128,
    )
    return {"squares": squares, "ranges": ranges,
            "raster_polys": rpolys.drop(columns=["cx", "cy"]),
            "raster_rings": rrings}


def geom_ops_inputs(rng, size) -> dict:
    n = size["rows"]
    polys, rings = polygon_table(rng, n, r_lo=5.0, r_hi=80.0, v_lo=8, v_hi=128)
    kind = np.full(n, "valid", dtype=object)
    bad = rng.choice(n, size["invalid"] + size["null"], replace=False)
    kind[bad[: size["invalid"]]] = "invalid"
    kind[bad[size["invalid"]:]] = "null"
    for i in np.flatnonzero(kind == "invalid"):
        rings[i] = bowtie_ring(rng, polys.cx[i], polys.cy[i], 40.0)
    wkb = [None if k == "null" else wkb_polygon(r) for k, r in zip(kind, rings)]
    # partner: a second star near each row, so relations vary between
    # disjoint, overlapping and nested
    off = rng.normal(0.0, 40.0, (n, 2))
    prad = rng.uniform(5.0, 80.0, n)
    pnv = vertex_counts(rng, n, 8, 128)
    prings = [star_ring(rng, polys.cx[i] + off[i, 0], polys.cy[i] + off[i, 1],
                        prad[i], pnv[i]) for i in range(n)]
    table = pd.DataFrame({"gid": np.arange(n, dtype=np.int64), "wkb": wkb,
                          "pwkb": [wkb_polygon(r) for r in prings]})
    a, arings = polygon_table(rng, size["join_a"], r_lo=5.0, r_hi=60.0,
                              v_lo=8, v_hi=256)
    b, brings = polygon_table(rng, size["join_b"], r_lo=5.0, r_hi=60.0,
                              v_lo=8, v_hi=256, id0=100_000)
    b = b.rename(columns={"poly_id": "b_id", "wkb": "bwkb", "xmin": "bxmin",
                          "ymin": "bymin", "xmax": "bxmax", "ymax": "bymax"})
    return {"table": table, "kind": kind, "rings": rings, "prings": prings,
            "a": a.drop(columns=["cx", "cy"]).rename(columns={"poly_id": "a_id"}),
            "b": b.drop(columns=["cx", "cy"]), "arings": arings, "brings": brings}


_VOCAB_SIZE = 5000


def page_curation_inputs(rng, size) -> dict:
    """Pages with planted near-duplicate groups. A near-duplicate is
    its original with the last word replaced, so its word-3-shingle
    Jaccard to the original is (m-1)/(m+1) for m shingles (>= 0.97)."""
    n, n_groups = size["pages"], size["dup_groups"]
    vocab = np.array(
        ["".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(3, 9)))
         for _ in range(_VOCAB_SIZE)]
    )
    # Zipf-ish word frequencies so the bigram LM has real structure
    p = 1.0 / np.arange(1, _VOCAB_SIZE + 1) ** 0.9
    p /= p.sum()
    n_orig = n - n_groups * 2
    texts = []
    for _ in range(n_orig):
        words = list(vocab[rng.choice(_VOCAB_SIZE, rng.integers(80, 160), p=p)])
        if rng.random() < 0.3:
            words.insert(int(rng.integers(0, len(words))), "&")
        texts.append(words)
    group = np.arange(n, dtype=np.int64)
    src = rng.choice(n_orig, n_groups, replace=False)
    for g, s in enumerate(src):
        for k in range(2):
            words = list(texts[s])
            words[-1] = vocab[rng.integers(0, _VOCAB_SIZE)] + f"q{k}"
            texts.append(words)
            group[n_orig + 2 * g + k] = s
    text = [" ".join(w) for w in texts]
    order = rng.permutation(n)  # planted copies spread over the ids
    text = [text[i] for i in order]
    group = group[order]
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    group = inv[group]  # group label = new id of the original
    html = [
        (
            "<html><head><style>p { margin: 0 }</style>"
            f"<script>var page = {i};</script></head><body><div><p>"
            + t.replace("&", "&amp;")
            + "</p></div></body></html>"
        ).encode()
        for i, t in enumerate(text)
    ]
    langs = np.array(["en", "de", "fr", "es"])[rng.integers(0, 4, n)]
    pages = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "url": [f"https://site{i % 97}.example/p/{i}" for i in range(n)],
            "warc_ts": pd.Timestamp("2026-01-01", tz="UTC")
            + pd.to_timedelta(rng.integers(0, 86400 * 30, n), unit="s"),
            "html": html,
            "text": text,
            "lang": langs,
        }
    )
    return {"pages": pages, "group": group}
