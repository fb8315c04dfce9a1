"""Numpy reference answers the benchmark checks the program against.

Each oracle recomputes an operator's result from the generated inputs
with plain numpy (no Spark), in the reduced form the benchmark's digest
action returns: counts and integer or floating sums over output rows.
"""

from __future__ import annotations

import numpy as np

from pyramids_spark import cells

# cell weight for floating digests: h1(row << 16 | col) % 997, defined the
# same way in the Spark digest (workloads.weight_col)
WEIGHT_MOD = 997


def weight_np(row: np.ndarray, col: np.ndarray) -> np.ndarray:
    return cells.h1_np(row.astype(np.int64) * 65536 + col.astype(np.int64)) % WEIGHT_MOD


def pair_key_np(key: np.ndarray, zone: np.ndarray) -> np.ndarray:
    return cells.h1_np(key.astype(np.int64) * (1 << 20) + zone.astype(np.int64))


def zone_hits(x: np.ndarray, y: np.ndarray, zones: list[dict]) -> dict[int, np.ndarray]:
    """zone_id -> indices of points inside any part of the zone."""
    out = {}
    for z in zones:
        inside = np.zeros(x.shape[0], dtype=bool)
        for p in z["parts"]:
            inside |= cells.points_in_polygon(x, y, p)
        out[z["zone_id"]] = np.flatnonzero(inside)
    return out


def zone_tile_counts(x, y, zones, tile_zoom: int) -> dict[int, tuple[int, int]]:
    """zone_id -> (points inside, distinct tiles at ``tile_zoom``) for zones
    with at least one point — the flagship rollup."""
    out = {}
    for zid, idx in zone_hits(x, y, zones).items():
        if idx.size:
            cx, cy = cells.geo_cell_np(x[idx], y[idx], tile_zoom)
            out[zid] = (int(idx.size), int(np.unique(cells.pack(cx, cy, tile_zoom)).size))
    return out


def pip_pairs(x, y, key, zone_ids, xs, ys) -> tuple[int, int]:
    """(rows, sum of pair_key) of points × polygon parts, point inside."""
    order = np.argsort(x, kind="stable")
    xsorted = x[order]
    n, s = 0, 0
    for zid, px, py in zip(zone_ids, xs, ys):
        px, py = np.asarray(px), np.asarray(py)
        lo = np.searchsorted(xsorted, px.min(), side="left")
        hi = np.searchsorted(xsorted, px.max(), side="right")
        cand = order[lo:hi]
        cand = cand[(y[cand] >= py.min()) & (y[cand] <= py.max())]
        if not cand.size:
            continue
        hit = cand[cells.points_in_polygon(x[cand], y[cand], np.stack([px, py], axis=1))]
        n += hit.size
        s += int(pair_key_np(key[hit], np.full(hit.size, zid)).sum())
    return n, s


def knn(x, y, key, queries, k: int) -> list[tuple[int, int, int]]:
    """(query_id, key, rank) of the k nearest points, ties by key."""
    out = []
    for qid, qx, qy in queries:
        d2 = (x - qx) ** 2 + (y - qy) ** 2
        cand = np.argpartition(d2, k + 8)[: k + 8]
        cand = cand[np.lexsort((key[cand], d2[cand]))][:k]
        out.extend((int(qid), int(key[i]), r + 1) for r, i in enumerate(cand))
    return out


def zonal_points(x, y, value, zones) -> dict[int, dict]:
    """zone_id -> population stats of ``value`` over points inside."""
    out = {}
    for zid, idx in zone_hits(x, y, zones).items():
        v = value[idx].astype(np.float64)
        out[zid] = (
            {"count": 0} if not idx.size else
            {"count": int(idx.size), "sum": float(value[idx].sum()), "min": float(v.min()),
             "max": float(v.max()), "mean": float(v.mean()), "var": float(v.var()),
             "std": float(v.std())}
        )
    return out


def focal_mean(a: np.ndarray, r: int) -> np.ndarray:
    """(2r+1)² box mean with symmetric reflection at the grid edge."""
    p = np.pad(a, r, mode="symmetric")
    k = 2 * r + 1
    c = np.zeros((p.shape[0] + 1, p.shape[1] + 1))
    c[1:, 1:] = p.cumsum(0).cumsum(1)
    return (c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]) / (k * k)


def block_mean(a: np.ndarray, level: int) -> np.ndarray:
    h, w = a.shape
    return a.reshape(h // level, level, w // level, level).mean(axis=(1, 3))


def float_sums(a: np.ndarray) -> dict:
    """The floating digest of a dense (row, col) field."""
    r, c = np.indices(a.shape)
    return {"n": int(a.size), "vsum": float(a.sum()),
            "vw": float((a * weight_np(r, c)).sum())}


def components(shape, ea: np.ndarray, eb: np.ndarray, nodes: np.ndarray) -> np.ndarray:
    """Label every node by the smallest node index in its connected
    component (edges ``ea``-``eb`` between flat indices): parallel hooking
    of the larger root onto the smaller, then pointer jumping."""
    parent = np.arange(int(np.prod(shape)))
    while True:
        ra, rb = parent[ea], parent[eb]
        diff = ra != rb
        if not diff.any():
            break
        np.minimum.at(parent, np.maximum(ra[diff], rb[diff]), np.minimum(ra[diff], rb[diff]))
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
    return parent[nodes]


def _edges(mask: np.ndarray, same: np.ndarray | None, conn8: bool):
    """Flat-index pairs of neighbouring cells that are both in ``mask``
    (and hold equal ``same`` values when given)."""
    h, w = mask.shape
    idx = np.arange(h * w).reshape(h, w)
    m, v = mask.ravel(), None if same is None else same.ravel()
    ea, eb = [], []
    for dy, dx in [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if conn8 else []):
        a = idx[: h - dy, max(0, -dx): w - max(0, dx)].ravel()
        b = idx[dy:, max(0, dx): w - max(0, -dx)].ravel()
        ok = m[a] & m[b]
        if v is not None:
            ok &= v[a] == v[b]
        ea.append(a[ok])
        eb.append(b[ok])
    return np.concatenate(ea), np.concatenate(eb)


def cluster_labels(values: np.ndarray, lo: float, hi: float) -> dict:
    """8-connected components of lo <= value <= hi: the cluster digest
    (cells, sum of labels, weighted label sum)."""
    mask = (values >= lo) & (values <= hi)
    ea, eb = _edges(mask, None, conn8=True)
    nodes = np.flatnonzero(mask.ravel())
    lab = components(values.shape, ea, eb, nodes)
    w = values.shape[1]
    wt = weight_np(nodes // w, nodes % w)
    return {"n": int(nodes.size), "lsum": int(lab.sum()), "lw": int((lab * wt).sum())}


def region_sizes(values: np.ndarray) -> dict:
    """4-connected equal-value regions: the polygonize_rings digest (rings,
    sum of cells, sum of squared cells, value-weighted cells)."""
    mask = np.ones(values.shape, dtype=bool)
    ea, eb = _edges(mask, values, conn8=False)
    lab = components(values.shape, ea, eb, np.arange(values.size))
    roots, size = np.unique(lab, return_counts=True)
    val = values.ravel()[roots]
    return {"n": int(roots.size), "cells": int(size.sum()),
            "cells2": int((size.astype(np.int64) ** 2).sum()), "vn": float((val * size).sum())}
