"""Cell-pruned point-in-polygon join — the flagship spatial join.

Reference semantics: ``MeshSpatialIndex.locate_faces`` — point × polygon with
predicate ``within`` (``/root/reference/src/pyramids/netcdf/ugrid/
spatial.py:195-224``: STRtree bulk query). Our distributed plan:

1. **Cover** (driver/broadcast side): each polygon → covering cells at a
   pruning zoom, split into *interior* cells (fully inside — candidate rows
   need NO exact test) and *boundary* cells (need ray-cast refinement).
   The cells ship run-length encoded: one row per maximal stretch of
   consecutive cells in one cell row with one boundary flag, split at
   ``2**b``-cell blocks (``b = min(5, zoom)``) and keyed by the block
   ``_rkey``. At zoom 11 ten hexagons cover ~10^5 cells but only ~7.5·10^3
   runs — the raster∩vector "intersection file" of *Raptor* (VLDB 2019).
   Polygon sets are small (zones/dims); the cover runs in numpy and ships as
   a broadcast equi-join side. [At 10^12 docs the polygon side stays ≪ the
   doc side, so broadcast-hash-join avoids shuffling the big table at all.]
2. **Encode** (distributed, JVM-side): each point row gets its cell column
   ``_cx`` and block key ``_rkey`` via pure column arithmetic — no UDF,
   stays in whole-stage codegen.
3. **Join**: ``points ⋈ broadcast(runs) ON _rkey`` — Catalyst emits a
   BroadcastHashJoin; the 10^12-row side is never shuffled. The run test
   ``_cx BETWEEN _lo AND _hi`` and, for convex zones, the half-plane
   refine of boundary runs are ONE ``F.expr`` string that lands in the
   join condition.
4. **Refine**: boundary-cell candidates run a vectorized numpy ray-cast
   (``cells.points_in_polygon``) inside an Arrow-batched pandas UDF, grouped
   by zone inside each batch (no per-row Python).

Skew: hot cells (dense doc clusters) inflate single tasks. Because the join
is broadcast there is no shuffle to skew; the refinement is per-batch
embarrassingly parallel. For the aggregate-after-join path use
``salt_col()`` + AQE (see operators.zonal).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells


def _part_cover_np(poly: np.ndarray, zoom: int, mode: str) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of ONE polygon part → (cell_ids, boundary_mask).
    ``boundary=False`` cells are fully inside (all 4 corners in, no edge
    crossing) → candidate rows in them skip exact refinement."""
    cover = cells.cells_covering_polygon(
        poly, zoom, mode="intersects" if mode == "intersects" else "center"
    )
    if cover.size == 0:
        return cover, np.zeros(0, dtype=bool)
    cx, cy = cells.unpack(cover, zoom)
    x0, y0, x1, y1 = cells.cell_bounds_np(cx, cy, zoom)
    interior = np.ones(cover.shape[0], dtype=bool)
    for qx, qy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)):
        interior &= cells.points_in_polygon(qx, qy, poly)
    # an edge crossing makes a cell non-interior even if corners are in
    p = poly[:-1] if np.allclose(poly[0], poly[-1]) else poly
    ex0, ey0 = p[:, 0], p[:, 1]
    ex1, ey1 = np.roll(ex0, -1), np.roll(ey0, -1)
    crossed = cells._segment_intersects_rect(
        ex0[None, :], ey0[None, :], ex1[None, :], ey1[None, :],
        x0[:, None], y0[:, None], x1[:, None], y1[:, None],
    ).any(axis=1)
    interior &= ~crossed
    return cover, ~interior


def zone_cover(zones: list[dict], zoom: int, mode: str = "center") -> pd.DataFrame:
    """Covering cells for each zone polygon (driver-side numpy; zones small).

    Returns pandas DF ``(zone_id, cell_id, boundary)``; ``boundary=False``
    cells are fully inside the polygon (all 4 corners in, no edge crossing)
    → rows in them skip exact refinement. ``mode`` is the touch duality:
    'center' ≙ ALL_TOUCHED=FALSE, 'intersects' ≙ allTouched=True (SURVEY §2.7).
    """
    zid, cid, bnd = [], [], []
    for z in zones:
        for poly in z["parts"]:
            cover, boundary = _part_cover_np(poly, zoom, mode)
            if cover.size == 0:
                continue
            zid.append(np.full(cover.shape[0], z["zone_id"], dtype=np.int64))
            cid.append(cover)
            bnd.append(boundary)
    if not zid:
        return pd.DataFrame({"zone_id": [], "cell_id": [], "boundary": []})
    df = pd.DataFrame(
        {"zone_id": np.concatenate(zid), "cell_id": np.concatenate(cid),
         "boundary": np.concatenate(bnd)}
    )
    # a multi-part zone may cover the same cell twice
    return df.sort_values(["zone_id", "cell_id"]).drop_duplicates(["zone_id", "cell_id"]).reset_index(drop=True)


_RUN_BLOCK_BITS = 5  # runs never cross a 32-cell block of a cell row


def zone_runs(zones: list[dict], zoom: int) -> pd.DataFrame:
    """Run-length form of ``zone_cover(zones, zoom, "intersects")``:
    ``(zone_id, _rkey, _lo, _hi, _bnd)``, one row per maximal stretch of
    cells ``_lo..._hi`` (column index ``cx``) of one cell row that share
    the boundary flag ``_bnd`` and one ``2**b``-cell block,
    ``_rkey = (cy << (zoom - b)) + (cx >> b)`` with ``b = min(5, zoom)``.
    The block split bounds how many runs share a join key, so the hash
    side stays an equi-join and ``BETWEEN`` only picks among a few rows.
    Expanding the runs gives back the cover cell for cell."""
    cov = zone_cover(zones, zoom, "intersects")
    zid = cov["zone_id"].to_numpy(np.int64)
    bnd = cov["boundary"].to_numpy(bool)
    cx, cy = cells.unpack(cov["cell_id"].to_numpy(np.int64), zoom)
    b = min(_RUN_BLOCK_BITS, zoom)
    rkey = (cy << (zoom - b)) + (cx >> b)
    o = np.lexsort((cx, rkey, zid))
    zid, rkey, cx, bnd = zid[o], rkey[o], cx[o], bnd[o]
    start = np.ones(len(cx), dtype=bool)
    start[1:] = (
        (zid[1:] != zid[:-1]) | (rkey[1:] != rkey[:-1])
        | (cx[1:] != cx[:-1] + 1) | (bnd[1:] != bnd[:-1])
    )
    end = np.ones(len(cx), dtype=bool)
    end[:-1] = start[1:]
    return pd.DataFrame({"zone_id": zid[start], "_rkey": rkey[start],
                         "_lo": cx[start], "_hi": cx[end], "_bnd": bnd[start]})


def with_cell_id(points: DataFrame, zoom: int, x: str = "x", y: str = "y") -> DataFrame:
    cx, cy = cells.geo_cell_col(F.col(x), F.col(y), zoom)
    return points.withColumn("cell_id", cells.cell_id_col(cx, cy, zoom))


def _all_convex_ccw(zones: list[dict]) -> bool:
    for z in zones:
        for part in z["parts"]:
            p = np.asarray(part, dtype=np.float64)
            if np.allclose(p[0], p[-1]):
                p = p[:-1]
            e = np.roll(p, -1, axis=0) - p
            cross = e[:, 0] * np.roll(e, -1, axis=0)[:, 1] - e[:, 1] * np.roll(e, -1, axis=0)[:, 0]
            if not (cross > 0).all():
                return False
    return True


def _convex_refine_sql(zones: list[dict], x: str, y: str) -> str:
    """Strict-interior test for ccw-convex zones as pure column algebra —
    the 'prepared geometry' JVM fast path: whole-stage codegen, no Python
    workers in the hot loop. Equals the ray-cast off-boundary.

    Built as ONE SQL string handed to F.expr: constructing the equivalent
    Column tree operator-by-operator costs >1s of driver time per call
    (hundreds of py4j gateway round-trips — measured as the dominant serial
    cost of the flagship query build), while the JVM parses the string in
    milliseconds. The 'D' suffix forces DOUBLE literals (bare decimals
    parse as DECIMAL in Spark SQL, which would change the arithmetic)."""
    branches = []
    for z in zones:
        parts_sql = []
        for part in z["parts"]:
            p = np.asarray(part, dtype=np.float64)
            if np.allclose(p[0], p[-1]):
                p = p[:-1]
            conds = []
            for i in range(len(p)):
                xa, ya = float(p[i][0]), float(p[i][1])
                xb, yb = float(p[(i + 1) % len(p)][0]), float(p[(i + 1) % len(p)][1])
                conds.append(
                    f"(({(xb - xa)!r}D * (`{y}` - {ya!r}D)"
                    f" - {(yb - ya)!r}D * (`{x}` - {xa!r}D)) > 0D)"
                )
            parts_sql.append("(" + " AND ".join(conds) + ")")
        branches.append(f"WHEN {int(z['zone_id'])} THEN ({' OR '.join(parts_sql)})")
    return f"CASE zone_id {' '.join(branches)} ELSE false END"


_MAX_EDGE_COLS = 16


def _zone_edges_pdf(zones: list[dict]) -> "pd.DataFrame | None":
    """Per-zone half-plane coefficients as DATA columns, padded to a fixed
    edge count by cyclically repeating real edges (AND over duplicates is a
    no-op). Returns None when any zone is multi-part or has more than
    ``_MAX_EDGE_COLS`` edges (those fall back to the CASE expr / udf paths).

    Why data, not plan text: baking each zone's edges into a CASE branch
    (the v1 plan) makes the predicate GROW with the zone count — at 10
    zones the generated code already fell out of efficient codegen
    (measured: the CASE refine cost 2.6 s of a 3.8 s / 25M-row join at 16
    cores), and at 10^3+ zones it would not compile at all. With the
    coefficients as broadcast-side columns the predicate is a constant-size
    expression (K fused multiply-compares), independent of zone count."""
    per_zone = {}
    max_e = 0
    for z in zones:
        if len(z["parts"]) != 1:
            return None
        p = np.asarray(z["parts"][0], dtype=np.float64)
        if np.allclose(p[0], p[-1]):
            p = p[:-1]
        if len(p) > _MAX_EDGE_COLS:
            return None
        q = np.roll(p, -1, axis=0)
        # edge k: dx*(y - ya) - dy*(x - xa) > 0  (same arithmetic shape as
        # the CASE expr so kept rows are bit-identical)
        edges = np.stack([q[:, 0] - p[:, 0], q[:, 1] - p[:, 1], p[:, 0], p[:, 1]], axis=1)
        per_zone[int(z["zone_id"])] = edges
        max_e = max(max_e, len(edges))
    rows = []
    for zid, edges in per_zone.items():
        reps = edges[np.arange(_pad := max_e) % len(edges)]
        rows.append([zid] + list(reps.reshape(-1)))
    cols = ["zone_id"]
    for k in range(max_e):
        cols += [f"e{k}_dx", f"e{k}_dy", f"e{k}_xa", f"e{k}_ya"]
    return pd.DataFrame(rows, columns=cols)


def pip_join(
    points: DataFrame,
    zones: list[dict],
    zoom: int = 8,
    x: str = "x",
    y: str = "y",
    refine: str = "auto",
) -> DataFrame:
    """points(…, x, y) ⨝ zones → points columns + ``zone_id`` (inner join;
    misses drop, multi-zone hits duplicate — reference ``locate_faces``
    returns −1 for misses ≙ left-join variant via ``how='left'`` upstream).

    ``refine``: 'expr' — JVM half-plane test (convex ccw zones only,
    codegen, no Python; single-part zones carry their edge coefficients as
    broadcast-side DATA columns, multi-part zones fall back to a CASE
    expression); 'udf' — vectorized numpy ray-cast (any polygon); 'auto' —
    expr when all zones are convex ccw, else udf. Every mode joins the same
    broadcast run table (:func:`zone_runs`) and builds no Spark job.
    """
    spark = points.sparkSession
    if refine == "auto":
        refine = "expr" if _all_convex_ccw(zones) else "udf"
    runs = zone_runs(zones, zoom)
    edges = _zone_edges_pdf(zones) if refine == "expr" else None
    if edges is not None:
        runs = runs.merge(edges, on="zone_id")
    schema = "zone_id long, _rkey long, _lo long, _hi long, _bnd boolean" + "".join(
        f", {c} double" for c in runs.columns[5:]
    )
    bits = min(_RUN_BLOCK_BITS, zoom)
    cx, cy = cells.geo_cell_col(F.col(x), F.col(y), zoom)
    cand = points.withColumns(
        {"_cx": cx, "_rkey": F.shiftleft(cy, zoom - bits) + F.shiftright(cx, bits)}
    ).join(F.broadcast(spark.createDataFrame(runs, schema=schema)), "_rkey")
    aux = ["_cx"] + [c for c in runs.columns if c != "zone_id"]
    in_run = "_cx BETWEEN _lo AND _hi"

    if refine == "expr":
        if edges is not None:
            inside = " AND ".join(
                f"e{k}_dx * (`{y}` - e{k}_ya) - e{k}_dy * (`{x}` - e{k}_xa) > 0"
                for k in range((len(edges.columns) - 1) // 4)
            )
        else:
            inside = _convex_refine_sql(zones, x, y)
        return cand.where(F.expr(f"{in_run} AND (NOT _bnd OR ({inside}))")).drop(*aux)

    zones_b = spark.sparkContext.broadcast(
        {z["zone_id"]: [p for p in z["parts"]] for z in zones}
    )

    @F.pandas_udf(T.BooleanType())
    def _pip(px: pd.Series, py: pd.Series, zone: pd.Series, boundary: pd.Series) -> pd.Series:
        out = np.ones(len(px), dtype=bool)
        b = boundary.to_numpy()
        if b.any():
            xs, ys, zs = px.to_numpy()[b], py.to_numpy()[b], zone.to_numpy()[b]
            sub = np.zeros(xs.shape[0], dtype=bool)
            for zk in np.unique(zs):
                m = zs == zk
                acc = np.zeros(int(m.sum()), dtype=bool)
                for part in zones_b.value[int(zk)]:
                    acc |= cells.points_in_polygon(xs[m], ys[m], np.asarray(part))
                sub[m] = acc
            out[b] = sub
        return pd.Series(out)

    return (
        cand.where(F.expr(in_run))
        .withColumn("_in", _pip(F.col(x), F.col(y), F.col("zone_id"), F.col("_bnd")))
        .where(F.col("_in"))
        .drop("_in", *aux)
    )


def _pip_multi(px: np.ndarray, py: np.ndarray, X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast where EVERY row has its own polygon: px/py (T,),
    X/Y (T, V) ring vertices (closed or open; padded rows repeat the last
    vertex — a zero-length edge contributes nothing to the crossing count).
    Same arithmetic as :func:`cells.points_in_polygon`, vectorized over the
    (row, polygon) pairs instead of one polygon."""
    acc = np.zeros(px.shape[0], dtype=bool)
    V = X.shape[1]
    for j in range(V):
        xa, ya = X[:, j], Y[:, j]
        xb, yb = X[:, (j + 1) % V], Y[:, (j + 1) % V]
        cond = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (py - ya) * (xb - xa) / (yb - ya)
        acc ^= cond & (px < xint)
    return acc


def _parts_cover_batch(X: np.ndarray, Y: np.ndarray, zoom: int, mode: str):
    """Cover of a BATCH of polygon parts at once: X/Y are (P, V) padded ring
    arrays (pad = repeat last vertex). Returns (part_row, cell_id,
    boundary) int/bool arrays. Semantics identical to
    :func:`_part_cover_np` per part, but every loop here is over the V ring
    vertices (small), vectorized over all part×cell pairs — ~50× the
    per-part-Python-call path, which is what makes a 10^7-face cover a
    numpy job instead of 10^7 interpreter round-trips."""
    n = 1 << zoom
    P, V = X.shape
    lon0, lon1 = X.min(axis=1), X.max(axis=1)
    lat0, lat1 = Y.min(axis=1), Y.max(axis=1)
    cx0 = np.clip(np.floor((lon0 - cells.LON_MIN) / cells.LON_SPAN * n).astype(np.int64), 0, n - 1)
    cx1 = np.clip(np.floor((lon1 - cells.LON_MIN) / cells.LON_SPAN * n).astype(np.int64), 0, n - 1)
    cy0 = np.clip(np.floor((90.0 - lat1) / 180.0 * n).astype(np.int64), 0, n - 1)
    cy1 = np.clip(np.floor((90.0 - lat0) / 180.0 * n).astype(np.int64), 0, n - 1)
    w = cx1 - cx0 + 1
    counts = w * (cy1 - cy0 + 1)
    offs = np.concatenate([[0], np.cumsum(counts)])
    T = int(offs[-1])
    if T == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=bool)
    part = np.repeat(np.arange(P, dtype=np.int64), counts)
    k = np.arange(T, dtype=np.int64) - offs[part]
    gx = cx0[part] + k % w[part]
    gy = cy0[part] + k // w[part]
    bx0, by0, bx1, by1 = cells.cell_bounds_np(gx, gy, zoom)
    Xp, Yp = X[part], Y[part]
    center_in = _pip_multi((bx0 + bx1) / 2.0, (by0 + by1) / 2.0, Xp, Yp)
    # interior = all 4 corners in AND no edge crossing (→ boundary = ~interior)
    interior = center_in.copy()
    for qx, qy in ((bx0, by0), (bx0, by1), (bx1, by0), (bx1, by1)):
        interior &= _pip_multi(qx, qy, Xp, Yp)
    ex0, ey0 = Xp, Yp
    ex1 = Xp[:, list(range(1, V)) + [0]]
    ey1 = Yp[:, list(range(1, V)) + [0]]
    crossed = cells._segment_intersects_rect(
        ex0, ey0, ex1, ey1,
        bx0[:, None], by0[:, None], bx1[:, None], by1[:, None],
    ).any(axis=1)
    interior &= ~crossed
    if mode == "intersects":
        vert_in = (
            (bx0[:, None] <= Xp) & (Xp < bx1[:, None])
            & (by0[:, None] <= Yp) & (Yp < by1[:, None])
        ).any(axis=1)
        keep = center_in | vert_in | crossed
    else:
        keep = center_in
    return part[keep], cells.pack(gx[keep], gy[keep], zoom), ~interior[keep]


def _convex_ccw_batch(X: np.ndarray, Y: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-part ccw-convexity over (P, V) repeat-last-padded rings with
    true lengths ``lens``. The padded cross chain checks every consecutive
    real-edge pair EXCEPT (last-interior-edge × closing-edge) — zero pad
    edges sit between them — so that one turn is added explicitly with
    per-row fancy indexing (a concave-only-at-the-last-vertex ring was
    misclassified convex before; code-review r4 finding #1)."""
    P, V = X.shape
    nxt = list(range(1, V)) + [0]
    ex, ey = X[:, nxt] - X, Y[:, nxt] - Y
    cross = ex * ey[:, nxt] - ey * ex[:, nxt]
    rows = np.arange(P)
    li = np.maximum(lens - 2, 0)  # last real edge index (v_{L-2}→v_{L-1})
    ax, ay = ex[rows, li], ey[rows, li]
    # successor of the last real edge: the closing vector v_{L-1}→v_0 for
    # open rings; for CLOSED inputs (v_{L-1}==v_0) that vector is zero and
    # the true successor is e_0
    cx_ = X[rows, 0] - X[rows, lens - 1]
    cy_ = Y[rows, 0] - Y[rows, lens - 1]
    is_closed = (cx_ == 0) & (cy_ == 0)
    bx = np.where(is_closed, ex[rows, 0], cx_)
    by = np.where(is_closed, ey[rows, 0], cy_)
    extra = ax * by - ay * bx
    return (cross >= 0).all(axis=1) & (extra >= 0) & (
        (cross > 0).any(axis=1) | (extra > 0)
    )


def zone_cover_df(rings: DataFrame, zoom: int, mode: str = "intersects") -> DataFrame:
    """Distributed twin of :func:`zone_cover`: the polygon side is a
    DataFrame ``(zone_id, part_key, xs, ys)`` — one row per ring part, ring
    vertex arrays as columns — and the cover runs as ``mapInPandas`` over
    the partitioned ring table, so a 10^7-face mesh (reference
    ``locate_faces``, ``ugrid/spatial.py:195-224``) never materializes on
    the driver. Emits the COMPACT cover ``(zone_id, part_key, cell_id,
    boundary)`` — ring arrays are NOT carried onto the per-cell rows (a
    10^5-vertex coastline × 10^4 covering cells would explode the cover by
    V×); refinement re-joins the ring table by (zone_id, part_key) on
    boundary candidates only."""

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            zid = pdf["zone_id"].to_numpy(dtype=np.int64)
            pk = pdf["part_key"].to_numpy(dtype=np.int64)
            xs_l, ys_l = pdf["xs"].to_list(), pdf["ys"].to_list()
            lens = np.fromiter((len(a) for a in xs_l), np.int64, len(xs_l))
            if (lens == 0).any():  # degenerate empty rings: no cover
                keep = np.flatnonzero(lens > 0)
                zid, pk = zid[keep], pk[keep]
                xs_l = [xs_l[i] for i in keep]
                ys_l = [ys_l[i] for i in keep]
                lens = lens[keep]
            if len(lens) == 0:
                continue
            out = []
            # bucket parts by padded ring length (next power of two) so one
            # 10^5-vertex coastline doesn't pad every quad in the batch to
            # its width; pad = repeat last vertex (no-op edge)
            buckets = np.maximum(4, 1 << np.ceil(np.log2(np.maximum(lens, 1))).astype(np.int64))
            for V in np.unique(buckets):
                sel = np.flatnonzero(buckets == V)
                X = np.empty((len(sel), V), dtype=np.float64)
                Y = np.empty((len(sel), V), dtype=np.float64)
                for i, r in enumerate(sel):
                    lv = lens[r]
                    X[i, :lv], Y[i, :lv] = xs_l[r], ys_l[r]
                    X[i, lv:], Y[i, lv:] = xs_l[r][lv - 1], ys_l[r][lv - 1]
                prow, cell_id, boundary = _parts_cover_batch(X, Y, zoom, mode)
                conv = _convex_ccw_batch(X, Y, lens[sel])
                out.append(
                    pd.DataFrame(
                        {
                            "zone_id": zid[sel][prow],
                            "part_key": pk[sel][prow],
                            "cell_id": cell_id,
                            "boundary": boundary,
                            "convex": conv[prow],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return rings.select("zone_id", "part_key", "xs", "ys").mapInPandas(
        gen, "zone_id long, part_key long, cell_id long, boundary boolean, "
             "convex boolean"
    )


@F.pandas_udf(T.BooleanType())
def _pip_rows_udf(
    px: pd.Series, py: pd.Series, pk: pd.Series, xs: pd.Series, ys: pd.Series
) -> pd.Series:
    """Ray-cast refinement where each candidate row CARRIES its ring arrays:
    rows are grouped by part inside the Arrow batch (argsort + split) so the
    ray cast runs once per polygon, vectorized over its points."""
    n = len(px)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return pd.Series(out)
    pxv, pyv, pkv = px.to_numpy(), py.to_numpy(), pk.to_numpy()
    order = np.argsort(pkv, kind="stable")
    spk = pkv[order]
    starts = np.flatnonzero(np.r_[True, spk[1:] != spk[:-1]])
    bounds = np.r_[starts, n]
    for i in range(len(starts)):
        idx = order[bounds[i] : bounds[i + 1]]
        poly = np.stack(
            [
                np.asarray(xs.iloc[idx[0]], dtype=np.float64),
                np.asarray(ys.iloc[idx[0]], dtype=np.float64),
            ],
            axis=1,
        )
        out[idx] = cells.points_in_polygon(pxv[idx], pyv[idx], poly)
    return pd.Series(out)


def _convex_refine_cond(px: F.Column, py: F.Column, xs: F.Column, ys: F.Column) -> F.Column:
    """Strict-interior half-plane test for a ccw-convex ring carried as
    ARRAY columns — higher-order functions, all JVM, no Python worker
    (the DataFrame-side analogue of pip_join's edge-coefficient refine;
    same cross-product arithmetic shape, so kept rows are bit-identical
    to the oracle's convex SQL). Handles open and closed rings."""
    n = F.size(xs)
    closed = (F.element_at(xs, 1) == F.element_at(xs, -1)) & (
        F.element_at(ys, 1) == F.element_at(ys, -1)
    )
    m = F.when(closed, n - 1).otherwise(n)

    def edge_ok(i):
        j = (i + 1) % m
        xa, ya = F.element_at(xs, i + 1), F.element_at(ys, i + 1)
        xb, yb = F.element_at(xs, j + 1), F.element_at(ys, j + 1)
        return ((xb - xa) * (py - ya) - (yb - ya) * (px - xa)) > 0

    return F.forall(F.transform(F.sequence(F.lit(0), m - 1), edge_ok), lambda b: b)


def pip_join_df(
    points: DataFrame,
    zones_df: DataFrame,
    zoom: int = 8,
    x: str = "x",
    y: str = "y",
    refine: str = "auto",
) -> DataFrame:
    """DataFrame-native point-in-polygon join (VERDICT r3 next-round #2):
    ``zones_df`` is ``(zone_id: long, xs: array<double>, ys: array<double>)``
    — one row per ring part — so the polygon side scales past driver-sized
    zone lists to the reference's 10^7-face mesh tables (``locate_faces``,
    ``ugrid/spatial.py:195-224``). Parts of one zone must be disjoint (the
    standard multi-polygon contract); output is the points' columns +
    ``zone_id``, one row per containing part — identical to
    :func:`pip_join` on single-part zone sets.

    100-TB plan shape (same decomposition as the broadcast path, with every
    driver-side step replaced by a distributed twin):

    1. cover: ``mapInPandas`` over the ring table → compact
       ``(zone_id, part_key, cell_id, boundary)`` rows, no driver pass;
    2. encode: points get ``cell_id`` in pure column math (codegen);
    3. join: hash equi-join on ``cell_id`` — both sides partition on the
       key (AQE still broadcasts a genuinely small cover at runtime; for
       repeated joins bucket both tables by ``cell_id``);
    4. refine: only BOUNDARY candidates re-join the ring table on
       ``(zone_id, part_key)`` to pick up vertex arrays, then a vectorized
       ray-cast batches by part inside each Arrow batch. Interior-cell
       candidates ship straight to the output — no Python, no ring bytes.

    ``part_key`` is ``xxhash64(zone_id, xs, ys)`` — deterministic across
    task retries and cluster sizes (a monotonically_increasing_id would
    not be, breaking the resumability contract); collisions only matter
    WITHIN one zone_id (the refine join is on both columns) so 64 bits is
    astronomically safe at 10^7 parts/zone.

    ``refine``: 'auto' — boundary candidates of ccw-CONVEX parts (flagged
    per part by the cover stage) run the JVM half-plane array test, only
    concave parts fall back to the vectorized ray-cast UDF; 'udf' — every
    boundary candidate ray-casts.
    """
    rings = zones_df.withColumn(
        "part_key", F.xxhash64(F.col("zone_id"), F.col("xs"), F.col("ys"))
    )
    # materialize the cover ONCE: every union branch below references it, and
    # without truncation each branch re-runs the whole cover mapInPandas (the
    # r6 plan showed 3 MapInPandas + 3 point scans for one query — guide §2.4:
    # one Exchange-side subtree per distinct consumer is honest, three copies
    # of the same one is not). localCheckpoint spills to disk past memory, and
    # the cover is O(zones × cells) ≪ points by construction.
    cover = zone_cover_df(rings, zoom, "intersects").localCheckpoint()
    pts = with_cell_id(points, zoom, x, y)
    pt_cols = points.columns
    ringsxy = rings.select("zone_id", "part_key", "xs", "ys")
    cand = pts.join(cover, "cell_id")

    def raycast(df):
        return (
            df.withColumn(
                "_in",
                _pip_rows_udf(
                    F.col(x), F.col(y), F.col("part_key"), F.col("xs"), F.col("ys")
                ),
            )
            .where(F.col("_in"))
            .select(*pt_cols, "zone_id")
        )

    if refine == "udf":
        interior = cand.where(~F.col("boundary")).select(*pt_cols, "zone_id")
        bnd = cand.where(F.col("boundary")).join(ringsxy, ["zone_id", "part_key"])
        return interior.unionByName(raycast(bnd))
    # ONE scan of the point side covers interior AND convex-boundary rows:
    # every cover row has its ring (cover derives from rings; (zone_id,
    # part_key) is unique per part), so the inner ring join is multiplicity-
    # preserving and the half-plane test only gates rows where boundary holds.
    # The concave-boundary branch keeps its own subtree because its pandas
    # UDF must not run on convex rows (Spark evaluates extracted Python UDFs
    # unconditionally); its cover-side filter (boundary & !convex) sits below
    # the join, so AQE collapses the whole branch to empty when every part is
    # convex — the common mesh case pays ONE point scan instead of r6's three.
    #
    # The half-plane test itself runs as FLAT edge-coefficient columns
    # (pip_join's broadcast-DATA trick, r7): per-part (xa, ya, xb, yb)
    # doubles padded cyclically to the ring table's max edge count — the
    # per-row filter is then K fused multiply-compares in whole-stage
    # codegen instead of a HOF fold over array columns (measured 1.2 s of
    # HOF time on 4.4M boundary candidates at bench scale). Cyclic padding
    # repeats real edges, so the AND is unchanged, and each term is the
    # SAME arithmetic shape as _convex_refine_cond — kept rows are
    # bit-identical. Rings with more than _MAX_EDGE_COLS edges keep the
    # HOF array path (one extra O(parts) aggregate decides, ≪ the cover).
    # A ring has size - 1 edges when closed and size edges when open.
    closed = (F.element_at("xs", 1) == F.element_at("xs", -1)) & (
        F.element_at("ys", 1) == F.element_at("ys", -1)
    )
    m = F.when(closed, F.size("xs") - 1).otherwise(F.size("xs"))
    kmax_row = rings.select(F.max(F.when(F.size("xs") >= 2, m)).alias("k")).first()
    kmax = int(kmax_row["k"] or 0)
    if 0 < kmax <= _MAX_EDGE_COLS:
        coefs = []
        for k in range(kmax):
            j = F.pmod(F.lit(k), m) + 1
            jn = F.pmod(F.pmod(F.lit(k), m) + 1, m) + 1
            coefs += [
                F.element_at("xs", j).alias(f"e{k}_xa"),
                F.element_at("ys", j).alias(f"e{k}_ya"),
                F.element_at("xs", jn).alias(f"e{k}_xb"),
                F.element_at("ys", jn).alias(f"e{k}_yb"),
            ]
        # degenerate (empty/point) rings emit no cover rows, so dropping
        # them here changes nothing — and keeps ANSI element_at/pmod from
        # erroring on size-0 arrays
        ecoef = rings.where(F.size("xs") >= 2).select("zone_id", "part_key", *coefs)
        halfplane = None
        for k in range(kmax):
            c = (
                (F.col(f"e{k}_xb") - F.col(f"e{k}_xa"))
                * (F.col(y) - F.col(f"e{k}_ya"))
                - (F.col(f"e{k}_yb") - F.col(f"e{k}_ya"))
                * (F.col(x) - F.col(f"e{k}_xa"))
            ) > 0
            halfplane = c if halfplane is None else (halfplane & c)
        easy = (
            cand.where(~F.col("boundary") | F.col("convex"))
            .join(ecoef, ["zone_id", "part_key"])
            .where(~F.col("boundary") | halfplane)
            .select(*pt_cols, "zone_id")
        )
    else:
        easy = (
            cand.where(~F.col("boundary") | F.col("convex"))
            .join(ringsxy, ["zone_id", "part_key"])
            .where(
                ~F.col("boundary")
                | _convex_refine_cond(F.col(x), F.col(y), F.col("xs"), F.col("ys"))
            )
            .select(*pt_cols, "zone_id")
        )
    hard = cand.where(F.col("boundary") & ~F.col("convex")).join(
        ringsxy, ["zone_id", "part_key"]
    )
    return easy.unionByName(raycast(hard))


def salt_col(n_salt: int = 16, row_source: F.Column | None = None) -> F.Column:
    """Per-ROW salt for hot-key repartitioning (north rule): append to the
    shuffle key of skewed aggregations; pair with a two-stage agg (partial
    by (key, salt), final by key). The salt must vary WITHIN a key — salting
    by a hash of the key itself would map every row of the hot key to one
    salt and spread nothing. Default source is the per-row monotonic id
    (salt values never affect results, only placement); pass a stable row
    column (e.g. doc_id) when deterministic placement matters. AQE skew-join
    splitting is ON in session.py as the runtime backstop."""
    src = row_source if row_source is not None else F.monotonically_increasing_id()
    return F.pmod(F.xxhash64(src), F.lit(n_salt))
