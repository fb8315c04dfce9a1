"""Cell-pruned point-in-polygon join — the flagship spatial join.

Reference semantics: ``MeshSpatialIndex.locate_faces`` — point × polygon with
predicate ``within`` (``/root/reference/src/pyramids/netcdf/ugrid/
spatial.py:195-224``: STRtree bulk query). Our distributed plan:

1. **Cover** (build side): each polygon → covering cells at a
   pruning zoom, split into *interior* cells (fully inside — candidate rows
   need NO exact test) and *boundary* cells (need ray-cast refinement).
   The cells ship run-length encoded: one row per maximal stretch of
   consecutive cells in one cell row with one boundary flag, split at
   ``2**b``-cell blocks (``b = min(5, zoom)`` for a driver list of zones,
   ``min(3, zoom)`` for a ring DataFrame) and keyed by the block ``_rkey``.
   At zoom 11 ten hexagons cover ~10^5 cells but only ~7.5·10^3 runs — the
   raster∩vector "intersection file" of *Raptor* (VLDB 2019).
   A driver-list polygon set (``pip_join``) is covered in numpy on the
   driver; a DataFrame of ring parts (``pip_join_df``) in one
   ``mapInPandas`` on the executors. [At 10^12 docs the polygon side stays
   ≪ the doc side, so broadcast-hash-join avoids shuffling the big table.]
2. **Encode** (distributed, JVM-side): each point row gets its cell column
   ``_cx`` and block key ``_rkey`` via pure column arithmetic — no UDF,
   stays in whole-stage codegen.
3. **Join**: ``points ⋈ runs ON _rkey`` — a broadcast run table makes
   Catalyst emit a BroadcastHashJoin; the 10^12-row side is never
   shuffled. The run test ``_cx BETWEEN _lo AND _hi`` and the refine of
   boundary runs are ONE ``F.expr`` string that lands in the join
   condition.
4. **Refine**: only boundary-run candidates are tested. ``pip_join_df``
   (polygon side a DataFrame, :func:`pip_join_df`) ray-casts in the JVM
   against the part's edges carried on the run, with the arithmetic of
   ``cells.points_in_polygon`` — no Python UDF. ``pip_join`` (polygon
   side a driver list) tests convex zones by half-planes and ray-casts
   the others in an Arrow-batched numpy pandas UDF.

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


def _runs(key: np.ndarray, cx: np.ndarray, cy: np.ndarray, bnd: np.ndarray, zoom: int, b: int):
    """Run-length compression of covering cells ``(cx, cy)`` grouped by
    ``key`` with boundary flags ``bnd`` → ``(first, rkey, lo, hi)``, one
    entry per maximal stretch of cells ``lo..hi`` of one cell row that
    share ``key``, the flag and one ``2**b``-cell block; ``first`` indexes
    the run's first cell in the input and
    ``rkey = (cy << (zoom - b)) + (cx >> b)``.
    The block split bounds how many runs share a join key, so the hash
    side stays an equi-join and ``BETWEEN`` only picks among a few rows."""
    rkey = (cy << (zoom - b)) + (cx >> b)
    o = np.lexsort((cx, rkey, key))
    key, rkey, cx, bnd = key[o], rkey[o], cx[o], bnd[o]
    start = np.ones(len(cx), dtype=bool)
    start[1:] = (
        (key[1:] != key[:-1]) | (rkey[1:] != rkey[:-1])
        | (cx[1:] != cx[:-1] + 1) | (bnd[1:] != bnd[:-1])
    )
    end = np.ones(len(cx), dtype=bool)
    end[:-1] = start[1:]
    return o[start], rkey[start], cx[start], cx[end]


def zone_runs(zones: list[dict], zoom: int) -> pd.DataFrame:
    """Run-length form of ``zone_cover(zones, zoom, "intersects")``:
    ``(zone_id, _rkey, _lo, _hi, _bnd)``, one row per run of :func:`_runs`
    keyed by zone, ``b = min(5, zoom)``. Expanding the runs gives back the
    cover cell for cell."""
    cov = zone_cover(zones, zoom, "intersects")
    zid = cov["zone_id"].to_numpy(np.int64)
    bnd = cov["boundary"].to_numpy(bool)
    cx, cy = cells.unpack(cov["cell_id"].to_numpy(np.int64), zoom)
    first, rkey, lo, hi = _runs(zid, cx, cy, bnd, zoom, min(_RUN_BLOCK_BITS, zoom))
    return pd.DataFrame({"zone_id": zid[first], "_rkey": rkey, "_lo": lo, "_hi": hi,
                         "_bnd": bnd[first]})


def _join_runs(points: DataFrame, runs: DataFrame, zoom: int, bits: int, x: str, y: str) -> DataFrame:
    """Points keyed by their cell column ``_cx`` and ``2**bits``-cell block
    ``_rkey`` in pure column math (codegen, no UDF) ⋈ ``runs`` on ``_rkey``."""
    cx, cy = cells.geo_cell_col(F.col(x), F.col(y), zoom)
    return points.withColumns(
        {"_cx": cx, "_rkey": F.shiftleft(cy, zoom - bits) + F.shiftright(cx, bits)}
    ).join(runs, "_rkey")


_IN_RUN = "_cx BETWEEN _lo AND _hi"


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
    cand = _join_runs(points, F.broadcast(spark.createDataFrame(runs, schema=schema)),
                      zoom, min(_RUN_BLOCK_BITS, zoom), x, y)
    aux = ["_cx"] + [c for c in runs.columns if c != "zone_id"]

    if refine == "expr":
        if edges is not None:
            inside = " AND ".join(
                f"e{k}_dx * (`{y}` - e{k}_ya) - e{k}_dy * (`{x}` - e{k}_xa) > 0"
                for k in range((len(edges.columns) - 1) // 4)
            )
        else:
            inside = _convex_refine_sql(zones, x, y)
        return cand.where(F.expr(f"{_IN_RUN} AND (NOT _bnd OR ({inside}))")).drop(*aux)

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
        cand.where(F.expr(_IN_RUN))
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


def _ring_buckets(pdf: pd.DataFrame):
    """Ring parts ``xs``/``ys`` of one Arrow batch as padded ``(P, V)``
    arrays → yields ``(rows, X, Y, lens)``, ``rows`` indexing the batch.
    Parts are bucketed by padded ring length (next power of two, at least
    4) so one 10^5-vertex coastline doesn't pad every quad in the batch to
    its width; pad = repeat last vertex (no-op edge). Degenerate empty
    rings are skipped: they have no cover."""
    xs_l, ys_l = pdf["xs"].to_list(), pdf["ys"].to_list()
    lens = np.fromiter((len(a) for a in xs_l), np.int64, len(xs_l))
    buckets = np.maximum(4, 1 << np.ceil(np.log2(np.maximum(lens, 1))).astype(np.int64))
    for V in np.unique(buckets[lens > 0]):
        sel = np.flatnonzero((buckets == V) & (lens > 0))
        X = np.empty((len(sel), V), dtype=np.float64)
        Y = np.empty((len(sel), V), dtype=np.float64)
        for i, r in enumerate(sel):
            lv = lens[r]
            X[i, :lv], Y[i, :lv] = xs_l[r], ys_l[r]
            X[i, lv:], Y[i, lv:] = xs_l[r][lv - 1], ys_l[r][lv - 1]
        yield sel, X, Y, lens[sel]


def zone_cover_df(rings: DataFrame, zoom: int, mode: str = "intersects") -> DataFrame:
    """Distributed twin of :func:`zone_cover`: the polygon side is a
    DataFrame ``(zone_id, part_key, xs, ys)`` — one row per ring part, ring
    vertex arrays as columns — and the cover runs as ``mapInPandas`` over
    the partitioned ring table, so a 10^7-face mesh (reference
    ``locate_faces``, ``ugrid/spatial.py:195-224``) never materializes on
    the driver. Emits the per-cell cover ``(zone_id, part_key, cell_id,
    boundary, convex)``; :func:`pip_join_df` ships the same cover as runs."""

    def gen(batches):
        for pdf in batches:
            zid = pdf["zone_id"].to_numpy(dtype=np.int64)
            pk = pdf["part_key"].to_numpy(dtype=np.int64)
            out = []
            for sel, X, Y, lens in _ring_buckets(pdf):
                prow, cell_id, boundary = _parts_cover_batch(X, Y, zoom, mode)
                conv = _convex_ccw_batch(X, Y, lens)
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


# 8-cell blocks, not zone_runs' 32: a dense ring table piles runs of many
# parts onto one key, and every point tests each run of its key (12k
# hexagons at zoom 10: 24 runs per 32-cell key, 7 per 8-cell key; on
# 32-cell keys the 8M-point join took 1.7x as long, PLANS.md §6g)
_PART_RUN_BLOCK_BITS = 3
# boundary parts with more edges ray-cast in an aggregate(); a hexagon
# fits unpadded (8 pads it by 4 doubles a run and measured slower on the
# 8M-point join, 16 slower again; PLANS.md §6g)
_UNROLL_EDGES = 6


def _part_runs_df(rings: DataFrame, zoom: int) -> DataFrame:
    """Run-length cover of a ring-part table ``(zone_id, xs, ys)`` in ONE
    ``mapInPandas``: ``(zone_id, _rkey, _lo, _hi, _m, _e)``, the runs of
    :func:`_runs` keyed by part, ``b = min(3, zoom)``. Boundary runs carry
    their part's ray-cast input — ``_m`` edges and the flat closed vertex list
    ``_e = [x0, y0, …, x_{m-1}, y_{m-1}, x0, y0]``, padded to
    ``_UNROLL_EDGES`` edges by repeating ``(x0, y0)`` (zero-length edges
    cross nothing); interior runs have ``_m = 0`` and no ``_e``. A ring
    closes when its last vertex is ``allclose`` to its first, as in
    :func:`cells.points_in_polygon`; parts with fewer than 3 edges enclose
    no point and emit nothing."""

    def gen(batches):
        for pdf in batches:
            zid = pdf["zone_id"].to_numpy(dtype=np.int64)
            out = []
            for sel, X, Y, lens in _ring_buckets(pdf):
                last = np.arange(len(sel)), lens - 1
                m = lens - (np.isclose(X[:, 0], X[last]) & np.isclose(Y[:, 0], Y[last]))
                prow, cell_id, bnd = _parts_cover_batch(X, Y, zoom, "intersects")
                keep = m[prow] >= 3
                prow, bnd = prow[keep], bnd[keep]
                cx, cy = cells.unpack(cell_id[keep], zoom)
                first, rkey, lo, hi = _runs(prow, cx, cy, bnd, zoom, min(_PART_RUN_BLOCK_BITS, zoom))
                part, bnd = prow[first], bnd[first]
                verts = {}
                for p in np.unique(part[bnd]):
                    idx = np.arange(max(m[p], _UNROLL_EDGES) + 1)
                    idx[m[p]:] = 0
                    verts[p] = np.stack([X[p, idx], Y[p, idx]], axis=1).ravel()
                out.append(pd.DataFrame({
                    "zone_id": zid[sel][part], "_rkey": rkey, "_lo": lo, "_hi": hi,
                    "_m": np.where(bnd, m[part], 0).astype(np.int32),
                    "_e": pd.Series([verts[p] if b else None for p, b in zip(part, bnd)],
                                    dtype=object),  # empty: not a float64 column
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return rings.select("zone_id", "xs", "ys").mapInPandas(
        gen, "zone_id long, _rkey long, _lo long, _hi long, _m int, _e array<double>"
    )


def _raycast_sql(x: str, y: str) -> str:
    """Even-odd ray-cast of point ``(x, y)`` against the vertex list ``_e``
    of :func:`_part_runs_df` as ONE SQL string: per edge the arithmetic of
    :func:`cells.points_in_polygon` (so kept rows are bit-identical to it),
    CASE-guarded so the division only runs when the edge straddles ``y``
    (never by zero under ANSI mode). Parts with at most ``_UNROLL_EDGES``
    edges take the unrolled XOR chain, larger ones an ``aggregate()`` over
    their edges."""

    def cross(k):
        xa, ya, xb, yb = (f"_e[{k} * 2 + {o}]" for o in range(4))
        return (f"CASE WHEN ({ya} > `{y}`) != ({yb} > `{y}`) "
                f"THEN `{x}` < {xa} + (`{y}` - {ya}) * ({xb} - {xa}) / ({yb} - {ya}) "
                "ELSE false END")

    unrolled = cross(0)
    for k in range(1, _UNROLL_EDGES):
        unrolled = f"(({unrolled}) != ({cross(k)}))"
    return (f"CASE WHEN _m <= {_UNROLL_EDGES} THEN {unrolled} "
            f"ELSE aggregate(sequence(0, _m - 1), false, (_in, _k) -> _in != ({cross('_k')})) END")


def pip_join_df(
    points: DataFrame,
    zones_df: DataFrame,
    zoom: int = 8,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """DataFrame-native point-in-polygon join: ``zones_df`` is
    ``(zone_id: long, xs: array<double>, ys: array<double>)`` — one row per
    ring part, open or closed — so the polygon side scales past
    driver-sized zone lists to the reference's 10^7-face mesh tables
    (``locate_faces``, ``ugrid/spatial.py:195-224``). Parts of one zone
    must be disjoint (the standard multi-polygon contract); output is the
    points' columns + ``zone_id``, one row per containing part, keeping
    exactly the rows of :func:`cells.points_in_polygon`.

    One lazy plan, the same three steps as :func:`pip_join` with the
    driver-side cover replaced by a distributed one (building it runs no
    Spark job):

    1. cover: ONE ``mapInPandas`` over the ring table emits the runs of
       :func:`_part_runs_df`; only boundary runs carry their part's edges;
    2. encode: points get ``_cx``/``_rkey`` in pure column math (codegen);
    3. join + refine: ``points ⋈ runs ON _rkey`` with ONE ``F.expr``
       condition, ``_cx BETWEEN _lo AND _hi AND (_m = 0 OR <ray-cast>)``
       (:func:`_raycast_sql`) — interior runs keep their rows untested,
       boundary runs ray-cast in the JVM: no Python UDF. A run table the
       planner estimates small broadcasts and the point side is never
       shuffled; a large one is a hash join on ``_rkey`` (AQE can still
       broadcast it at runtime).
    """
    runs = _part_runs_df(zones_df, zoom)
    return (
        _join_runs(points, runs, zoom, min(_PART_RUN_BLOCK_BITS, zoom), x, y)
        .where(F.expr(f"{_IN_RUN} AND (_m = 0 OR {_raycast_sql(x, y)})"))
        .drop("_cx", "_rkey", "_lo", "_hi", "_m", "_e")
    )


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
