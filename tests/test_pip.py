"""End-to-end PIP join + span-invariant tests (Spark vs numpy oracle)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from pyramids_spark import cells, synth
from pyramids_spark.operators import pip


def _oracle_points(n, hot_frac=0.2, hot_box=(-0.5, -0.5, 0.5, 0.5)):
    ids = np.arange(n)
    h1, h2 = cells.h1_np(ids), cells.h2_np(ids)
    h3 = (
        (ids.astype(np.uint64) * np.uint64(2971215073) + np.uint64(433494437))
        % np.uint64(2**32)
    ).astype(np.int64)
    lon, lat = cells.lon_np(h1), cells.lat_np(h2)
    hot = h3 / 2**32 < hot_frac
    x0, y0, x1, y1 = hot_box
    lon[hot] = x0 + (x1 - x0) * (h1[hot] / 2**32)
    lat[hot] = y0 + (y1 - y0) * (h2[hot] / 2**32)
    return ids, lon, lat


@pytest.mark.parametrize("kind", ["box", "hex", "hull", "multi"])
def test_pip_join_matches_numpy_oracle(spark, kind):
    n = 5000
    pts = synth.doc_points(spark, n)
    zones = synth.zone_polygons(8, kind)
    got = (
        pip.pip_join(pts, zones, zoom=7)
        .select("key", "zone_id")
        .toPandas()
        .sort_values(["key", "zone_id"])
        .reset_index(drop=True)
    )
    ids, lon, lat = _oracle_points(n)
    rows = []
    for z in zones:
        m = np.zeros(n, bool)
        for part in z["parts"]:
            m |= cells.points_in_polygon(lon, lat, np.asarray(part))
        rows += [(int(k), z["zone_id"]) for k in ids[m]]
    exp = (
        pd.DataFrame(rows, columns=["key", "zone_id"])
        .sort_values(["key", "zone_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    pd.testing.assert_frame_equal(got.astype("int64"), exp.astype("int64"))


def test_pip_join_hot_spot_skew_still_exact(spark):
    """80%+ of points in one cell (worst-case skew) — broadcast join plan
    means no shuffle skew; results stay exact."""
    n = 3000
    pts = synth.doc_points(spark, n, hot_frac=0.9)
    zones = synth.zone_polygons(3, "hex")
    got = pip.pip_join(pts, zones, zoom=6).select("key", "zone_id").toPandas()
    ids, lon, lat = _oracle_points(n, hot_frac=0.9)
    exp_rows = 0
    for z in zones:
        m = np.zeros(n, bool)
        for part in z["parts"]:
            m |= cells.points_in_polygon(lon, lat, np.asarray(part))
        exp_rows += int(m.sum())
    assert len(got) == exp_rows


def test_pip_join_plan_is_broadcast_no_bigside_shuffle(spark):
    pts = synth.doc_points(spark, 1000)
    zones = synth.zone_polygons(3, "box")
    plan = pip.pip_join(pts, zones, zoom=7)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # big side never shuffles


def test_pip_refine_is_edge_data_not_case_plan_text(spark):
    """Convex single-part zones must refine via broadcast-side edge
    COLUMNS (constant-size predicate), never a per-zone CASE expression —
    the CASE form grows with zone count and fell out of efficient codegen
    at just 10 zones (PLANS.md §6b)."""
    pts = synth.doc_points(spark, 1000)
    zones = synth.zone_polygons(10, "hex")
    df = pip.pip_join(pts, zones, zoom=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN (zone_id" not in plan
    assert "e0_dx" in plan  # edge coefficients ride the broadcast side
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    # result columns stay clean: no edge/bookkeeping columns leak
    assert not [c for c in df.columns if c.startswith("e") and "_d" in c]
    assert "boundary" not in df.columns and "cell_id" not in df.columns


def test_pip_edge_refine_matches_udf_raycast(spark):
    """Edge-coefficient half-plane keep-set ≡ the general ray-cast UDF
    path on the same convex zones (off-boundary points)."""
    pts = synth.doc_points(spark, 4000)
    zones = synth.zone_polygons(7, "hex")
    a = pip.pip_join(pts, zones, zoom=7, refine="expr")
    b = pip.pip_join(pts, zones, zoom=7, refine="udf")
    ka = {(r["doc_id"], r["zone_id"]) for r in a.select("doc_id", "zone_id").collect()}
    kb = {(r["doc_id"], r["zone_id"]) for r in b.select("doc_id", "zone_id").collect()}
    assert ka == kb


def test_span_sequence_invariant_through_pip_join(spark):
    docs = synth.documents_spans(spark, 500).withColumn(
        "span_hash", synth.span_hash_col()
    )
    pts = synth.doc_points(spark, 500)
    joined = docs.join(pts, "doc_id")
    res = pip.pip_join(joined, synth.zone_polygons(5, "hex"), zoom=7)
    violations = res.where(synth.span_hash_col() != res.span_hash).count()
    assert violations == 0
    # spans themselves round-trip: re-derive kind sequence and compare
    k0 = (
        docs.selectExpr("doc_id", "transform(spans, s -> s.kind) AS ks")
        .toPandas()
        .set_index("doc_id")["ks"]
    )
    k1 = (
        res.selectExpr("doc_id", "transform(spans, s -> s.kind) AS ks")
        .dropDuplicates(["doc_id"])
        .toPandas()
        .set_index("doc_id")["ks"]
    )
    for d, ks in k1.items():
        assert list(ks) == list(k0[d])


def _zones_as_df(spark, zones):
    rows = []
    for z in zones:
        for part in z["parts"]:
            p = np.asarray(part, dtype=np.float64)
            rows.append((int(z["zone_id"]), p[:, 0].tolist(), p[:, 1].tolist()))
    return spark.createDataFrame(
        rows, "zone_id long, xs array<double>, ys array<double>"
    )


def _raycast_pairs(pts, zones):
    """(doc_id, zone_id) of every point inside a zone part by the numpy
    ray-cast ``cells.points_in_polygon`` — the reference ``pip_join_df``
    must reproduce row for row."""
    p = pts.select("doc_id", "x", "y").toPandas()
    x, y, k = p["x"].to_numpy(), p["y"].to_numpy(), p["doc_id"].to_numpy()
    out = set()
    for z in zones:
        for part in z["parts"]:
            m = cells.points_in_polygon(x, y, np.asarray(part, dtype=np.float64))
            out |= {(kk, z["zone_id"]) for kk in k[m].tolist()}
    return out


def test_pip_join_df_matches_broadcast_path(spark):
    """DataFrame-native polygon side (VERDICT r3 #2) keeps exactly the
    numpy ray-cast rows on the zone set the broadcast list path takes."""
    pts = synth.doc_points(spark, 4000)
    zones = synth.zone_polygons(9, "hex")
    zdf = _zones_as_df(spark, zones)
    want = _raycast_pairs(pts, zones)
    b = pip.pip_join_df(pts, zdf, zoom=7)
    assert {(r["doc_id"], r["zone_id"]) for r in b.select("doc_id", "zone_id").collect()} == want
    assert len(want) > 0
    assert set(b.columns) == set(pts.columns) | {"zone_id"}


def test_pip_join_df_refine_is_jvm_for_convex_and_concave_parts(spark):
    """Convex and CONCAVE parts both refine by the JVM ray-cast: the plan
    holds no Python eval node, exactly one MapInPandas (the cover) and no
    driver-built LocalTableScan, and a mixed zone set keeps exactly the
    numpy ray-cast rows."""
    pts = synth.doc_points(spark, 3000)
    zones = synth.zone_polygons(4, "hex")
    # L-shaped (concave) part spanning the hot cell
    L = np.array([[-2.0, -2.0], [2.0, -2.0], [2.0, 0.0], [0.0, 0.0],
                  [0.0, 2.0], [-2.0, 2.0]])
    zones.append({"zone_id": 50, "parts": [L]})
    zdf = _zones_as_df(spark, zones)
    df = pip.pip_join_df(pts, zdf, zoom=7)
    plan = df._jdf.queryExecution().executedPlan().toString()  # before AQE re-plans
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1
    assert "LocalTableScan" not in plan
    got = {(r["doc_id"], r["zone_id"]) for r in df.collect()}
    assert got == _raycast_pairs(pts, zones)
    assert any(z == 50 for _, z in got)  # the concave zone has hits


def test_pip_join_df_batch_cover_matches_per_part(spark):
    """zone_cover_df's batched kernel ≡ _part_cover_np per part, cell for
    cell, boundary flag for boundary flag (mixed ring lengths across the
    pad buckets: boxes V=4, hexagons V=6)."""
    zones = synth.zone_polygons(6, "hex") + [
        {"zone_id": 100 + z["zone_id"], "parts": z["parts"]}
        for z in synth.zone_polygons(5, "box")
    ]
    zdf = _zones_as_df(spark, zones).withColumn(
        "part_key", F.xxhash64(F.col("zone_id"), F.col("xs"), F.col("ys"))
    )
    got = (
        pip.zone_cover_df(zdf, 8, "intersects")
        .toPandas()
        .sort_values(["zone_id", "cell_id"])
        .reset_index(drop=True)
    )
    exp = []
    for z in zones:
        for part in z["parts"]:
            cover, bnd = pip._part_cover_np(np.asarray(part, dtype=np.float64), 8, "intersects")
            for cid, bb in zip(cover, bnd):
                exp.append((z["zone_id"], cid, bb))
    exp = (
        pd.DataFrame(exp, columns=["zone_id", "cell_id", "boundary"])
        .sort_values(["zone_id", "cell_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    assert (got["zone_id"].to_numpy() == exp["zone_id"].to_numpy()).all()
    assert (got["cell_id"].to_numpy() == exp["cell_id"].to_numpy()).all()
    assert (got["boundary"].to_numpy() == exp["boundary"].to_numpy()).all()


def test_pip_join_df_plan_no_driver_cover(spark):
    """The polygon side must stay distributed end-to-end: the cover runs as
    a MapInPandas over the ring table, and the joined plan holds no
    LocalTableScan (a driver-materialized cover would show up as one)."""
    from pyspark.sql import functions as SF

    pts = synth.doc_points(spark, 1000)
    z = spark.range(400).select(SF.col("id").alias("zone_id"))
    cx = (SF.col("zone_id") % 20).cast("double") * 8.0 - 80.0
    cy = (SF.col("zone_id") / 20).cast("long").cast("double") * 6.0 - 60.0
    zdf = z.select(
        "zone_id",
        SF.array(cx - 2.0, cx + 2.0, cx + 2.0, cx - 2.0).alias("xs"),
        SF.array(cy - 1.5, cy - 1.5, cy + 1.5, cy + 1.5).alias("ys"),
    )
    rings = zdf.withColumn(
        "part_key", SF.xxhash64(SF.col("zone_id"), SF.col("xs"), SF.col("ys"))
    )
    cover_plan = (
        pip.zone_cover_df(rings, 7, "intersects")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in cover_plan
    assert "LocalTableScan" not in cover_plan
    df = pip.pip_join_df(pts, zdf, zoom=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert df.count() > 0


def test_pip_join_df_tolerates_empty_rings(spark):
    """Degenerate ring rows — empty, a single vertex, a two-vertex segment
    — must not crash the distributed cover nor keep any point (the
    ray-cast keeps none: fewer than 3 edges enclose nothing)."""
    pts = synth.doc_points(spark, 500)
    zones = synth.zone_polygons(3, "hex")
    zdf = _zones_as_df(spark, zones)
    empty = spark.createDataFrame(
        [(99, [], []), (98, [0.0], [0.0]), (97, [-1.0, 1.0], [-1.0, 1.0])],
        "zone_id long, xs array<double>, ys array<double>",
    )
    a = pip.pip_join_df(pts, zdf, zoom=7)
    b = pip.pip_join_df(pts, zdf.unionByName(empty), zoom=7)
    ka = {(r["doc_id"], r["zone_id"]) for r in a.collect()}
    kb = {(r["doc_id"], r["zone_id"]) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_zone_cover_interior_flag_sound(spark):
    """boundary=False cells must be fully inside their zone."""
    zones = synth.zone_polygons(6, "hex")
    cov = pip.zone_cover(zones, zoom=8, mode="intersects")
    interior = cov[~cov.boundary]
    assert len(interior) > 0
    for zid, grp in interior.groupby("zone_id"):
        parts = zones[int(zid)]["parts"]
        cx, cy = cells.unpack(grp.cell_id.to_numpy(), 8)
        x0, y0, x1, y1 = cells.cell_bounds_np(cx, cy, 8)
        for qx, qy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1), ((x0 + x1) / 2, (y0 + y1) / 2)):
            ok = np.zeros(len(grp), bool)
            for p in parts:
                ok |= cells.points_in_polygon(qx, qy, np.asarray(p))
            assert ok.all()


def test_convex_flag_on_padded_rings_regression(spark):
    """Code-review r4 #1: a ring concave ONLY at its last vertex must not
    be flagged convex after repeat-last padding (the padded cross chain
    skipped the last-real-edge × closing-edge turn)."""
    ang = np.linspace(0, 2 * np.pi, 7)[:-1]
    xs, ys = np.cos(ang), np.sin(ang)
    cx, cy = xs.copy(), ys.copy()
    cx[5] *= 0.1
    cy[5] *= 0.1  # pull the LAST vertex inward → concave there

    def padded(v, V=8):
        out = np.empty(V)
        out[: len(v)] = v
        out[len(v):] = v[-1]
        return out

    lens = np.array([6, 6, 6], dtype=np.int64)
    X = np.stack([padded(xs), padded(cx), padded(np.append(xs, xs[0]), 8)[:8]])
    Y = np.stack([padded(ys), padded(cy), padded(np.append(ys, ys[0]), 8)[:8]])
    lens = np.array([6, 6, 7], dtype=np.int64)
    got = pip._convex_ccw_batch(X, Y, lens)
    assert list(got) == [True, False, True]  # convex open, concave, convex CLOSED
    # end-to-end: the numpy ray-cast rows on a zone set holding that ring
    pts = synth.doc_points(spark, 2500)
    poly = np.stack([cx * 30.0, cy * 30.0], axis=1)
    zones = synth.zone_polygons(3, "hex") + [{"zone_id": 77, "parts": [poly]}]
    zdf = _zones_as_df(spark, zones)
    a = {(r["doc_id"], r["zone_id"]) for r in pip.pip_join_df(pts, zdf, zoom=7).collect()}
    assert a == _raycast_pairs(pts, zones) and any(z == 77 for _, z in a)


def test_pip_join_df_hot_spot_skew_still_exact(spark):
    """90% of points in one cell (worst-case skew) through the DataFrame
    polygon side: results equal the broadcast list path (AQE skew handling
    is the runtime backstop when the cover side is shuffle-joined)."""
    pts = synth.doc_points(spark, 3000, hot_frac=0.9)
    zones = synth.zone_polygons(4, "hex")
    zdf = _zones_as_df(spark, zones)
    a = {(r["doc_id"], r["zone_id"])
         for r in pip.pip_join(pts, zones, zoom=6, refine="udf")
         .select("doc_id", "zone_id").collect()}
    b = {(r["doc_id"], r["zone_id"])
         for r in pip.pip_join_df(pts, zdf, zoom=6).select("doc_id", "zone_id").collect()}
    assert a == b and len(a) > 0


def test_pip_join_df_open_17_vertex_ring_keeps_edge_cap(spark):
    """An OPEN ring of 17 vertices has 17 edges: past the unrolled edge
    cap, so its boundary runs ray-cast through ``aggregate()`` and still
    keep exactly the numpy ray-cast rows."""
    ang = np.linspace(0, 2 * np.pi, 18)[:-1]
    ring = np.stack([10.0 * np.cos(ang), 10.0 * np.sin(ang)], axis=1)
    zones = synth.zone_polygons(3, "hex") + [{"zone_id": 17, "parts": [ring]}]
    zdf = _zones_as_df(spark, zones)
    runs = pip._part_runs_df(zdf, 7).where("zone_id = 17 AND _m > 0").select("_m").collect()
    assert runs and {r["_m"] for r in runs} == {17} and 17 > pip._UNROLL_EDGES
    pts = synth.doc_points(spark, 3000)
    a = {(r["doc_id"], r["zone_id"])
         for r in pip.pip_join_df(pts, zdf, zoom=7).select("doc_id", "zone_id").collect()}
    assert a == _raycast_pairs(pts, zones) and any(z == 17 for _, z in a)


# --- run-length cover --------------------------------------------------------


def _star(cx, cy, r, n=7):
    """Concave zone: a ccw star with ``n`` points."""
    ang = np.linspace(0, 2 * np.pi, 2 * n + 1)[:-1]
    rad = np.where(np.arange(2 * n) % 2 == 0, r, 0.45 * r)
    return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)


def _run_cases():
    rng = np.random.default_rng(2024)
    stars = [{"zone_id": i, "parts": [_star(*rng.uniform(-150, 150, 1),
                                             *rng.uniform(-60, 60, 1), rng.uniform(3, 15))]}
             for i in range(5)]
    w, h = 360.0 / 64, 180.0 / 64  # zoom-6 cell size
    corners = [{"zone_id": 0, "parts": [np.array(
        [[-4 * w, -2 * h], [3 * w, -2 * h], [3 * w, 5 * h], [-4 * w, 5 * h]])]},
               {"zone_id": 1, "parts": [np.array(
        [[10 * w, 0.0], [14 * w, 4 * h], [10 * w, 8 * h], [6 * w, 4 * h]])]}]
    clamped = [{"zone_id": 0, "parts": [np.array(
        [[170.0, 80.0], [185.0, 80.0], [185.0, 95.0], [170.0, 95.0]])]},
               {"zone_id": 1, "parts": [np.array(
        [[-185.0, -95.0], [-160.0, -95.0], [-160.0, -70.0], [-185.0, -70.0]])]},
               {"zone_id": 2, "parts": [np.array(
        [[-200.0, -5.0], [200.0, -5.0], [200.0, 5.0], [-200.0, 5.0]])]}]
    return {
        "convex": (synth.zone_polygons(6, "hex", seed=7), 9),
        "concave": (stars, 9),
        "multi": (synth.zone_polygons(5, "multi", seed=11), 8),
        "zoom3": (synth.zone_polygons(6, "hex", seed=13), 3),
        "corners": (corners, 6),
        "clamped": (clamped, 6),
    }


@pytest.mark.parametrize("case", ["convex", "concave", "multi", "zoom3", "corners", "clamped"])
def test_zone_runs_expand_to_zone_cover(case):
    """Expanding the runs reproduces ``zone_cover(..., "intersects")`` row
    for row (zone_id, cell_id, boundary); runs stay inside one block of
    ``2**b`` cells and are maximal inside it."""
    zones, zoom = _run_cases()[case]
    b = min(5, zoom)
    runs = pip.zone_runs(zones, zoom)
    cover = pip.zone_cover(zones, zoom, "intersects")
    assert len(runs) > 0 and len(runs) <= len(cover)
    rkey, lo, hi = (runs[c].to_numpy() for c in ("_rkey", "_lo", "_hi"))
    cy, blk = rkey >> (zoom - b), rkey & ((1 << (zoom - b)) - 1)
    assert ((lo >> b) == blk).all() and ((hi >> b) == blk).all() and (lo <= hi).all()
    n = hi - lo + 1
    cx = np.repeat(lo, n) + np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)
    got = pd.DataFrame({
        "zone_id": np.repeat(runs["zone_id"].to_numpy(), n),
        "cell_id": cells.pack(cx, np.repeat(cy, n), zoom),
        "boundary": np.repeat(runs["_bnd"].to_numpy(), n),
    }).sort_values(["zone_id", "cell_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, cover.astype(got.dtypes.to_dict()))
    # maximal: two runs of one zone in one block touch only across a flag change
    r = runs.sort_values(["zone_id", "_rkey", "_lo"]).to_numpy()
    same = (r[1:, 0] == r[:-1, 0]) & (r[1:, 1] == r[:-1, 1])
    touch = r[1:, 2] == r[:-1, 3] + 1
    assert not (same & touch & (r[1:, 4] == r[:-1, 4])).any()


@pytest.mark.parametrize("case", ["convex", "concave", "multi"])
def test_pip_join_at_run_ends_and_block_edges(spark, case):
    """Points at the first and last cell of every run, and just either
    side of each run's outer cell edges (so on both sides of every block
    boundary a run was split at), match the ray-cast oracle through both
    joins."""
    zones, _ = _run_cases()[case]
    zoom = 7
    b = min(5, zoom)
    runs = pip.zone_runs(zones, zoom)
    rkey, lo, hi = (runs[c].to_numpy() for c in ("_rkey", "_lo", "_hi"))
    cy = rkey >> (zoom - b)
    # the case must hold runs split at a block boundary (and only there)
    nxt = pd.merge(runs.assign(_cy=cy, _n=hi + 1), runs.assign(_cy=cy),
                   left_on=["zone_id", "_cy", "_n", "_bnd"], right_on=["zone_id", "_cy", "_lo", "_bnd"])
    assert len(nxt) > 0 and (nxt["_n"] % (1 << b) == 0).all()
    lx0, ly0, lx1, ly1 = cells.cell_bounds_np(lo, cy, zoom)
    hx0, hy0, hx1, hy1 = cells.cell_bounds_np(hi, cy, zoom)
    ymid = (ly0 + ly1) / 2
    eps = 1e-7
    xs = np.concatenate([(lx0 + lx1) / 2, (hx0 + hx1) / 2, lx0 - eps, lx0 + eps, hx1 - eps, hx1 + eps])
    ys = np.tile(ymid, 6)
    keys = np.arange(len(xs))
    pts = spark.createDataFrame(pd.DataFrame({"key": keys, "x": xs, "y": ys}))
    exp = set()
    for z in zones:
        m = np.zeros(len(xs), bool)
        for part in z["parts"]:
            m |= cells.points_in_polygon(xs, ys, np.asarray(part))
        exp |= {(int(k), z["zone_id"]) for k in keys[m]}
    for refine in ("auto", "udf"):
        got = {(r["key"], r["zone_id"])
               for r in pip.pip_join(pts, zones, zoom=zoom, refine=refine).select("key", "zone_id").collect()}
        assert got == exp and len(exp) > 0, refine
    got = {(r["key"], r["zone_id"]) for r in pip.pip_join_df(
        pts, _zones_as_df(spark, zones), zoom=zoom).select("key", "zone_id").collect()}
    assert got == exp


def _jobs_run_while(spark, group, build):
    """Job ids the status tracker saw under ``group`` while ``build()`` ran."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, "building must run no Spark job")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store fills from one listener queue: once a later job
    # shows up, every job the build could have started has been recorded
    sc.setJobGroup(group + "-flush", "flush")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-flush") and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group + "-flush")
    return list(tracker.getJobIdsForGroup(group))


def test_building_pip_join_and_zonal_runs_no_job(spark):
    from pyramids_spark.operators import zonal

    pts = synth.doc_points(spark, 1000).withColumn("v", F.col("key").cast("double"))
    zdf = _zones_as_df(spark, synth.zone_polygons(6, "hex"))

    def build():
        pip.pip_join(pts, synth.zone_polygons(10, "hex"), zoom=11)
        pip.pip_join(pts, synth.zone_polygons(4, "multi"), zoom=7)
        pip.pip_join(pts, [{"zone_id": 0, "parts": [_star(0.0, 0.0, 10.0)]}], zoom=7)
        zonal.zonal_stats_points(pts, synth.zone_polygons(5, "box"), "v", zoom=8)
        pip.pip_join_df(pts, zdf, zoom=10)
        zonal.zonal_stats_points_df(pts, zdf, "v", zoom=10)

    assert _jobs_run_while(spark, "pip-build", build) == []


def test_flagship_plan_one_broadcast_join_with_small_build_side(spark):
    """The flagship shape (10 hexagons at zoom 11, zoom-12 tile rollup)
    plans ONE BroadcastHashJoin whose build side holds at most a tenth
    as many rows as the cover has cells."""
    zones = synth.zone_polygons(10, "hex")
    hits = pip.pip_join(synth.doc_points(spark, 1000), zones, zoom=11)
    cx, cy = cells.geo_cell_col(F.col("x"), F.col("y"), 12)
    agg = (
        hits.withColumn("tile_id", cells.cell_id_col(cx, cy, 12))
        .groupBy("zone_id", "tile_id").agg(F.count(F.lit(1)).alias("n"))
        .groupBy("zone_id").agg(F.sum("n").alias("n_docs"), F.count(F.lit(1)).alias("n_tiles"))
    )
    qe = agg._jdf.queryExecution()
    assert qe.executedPlan().toString().count("BroadcastHashJoin") == 1
    leaves = qe.optimizedPlan().collectLeaves()
    build_rows = [leaves.apply(i).data().size() for i in range(leaves.size())
                  if leaves.apply(i).nodeName() == "LocalRelation"]
    n_cells = len(pip.zone_cover(zones, 11, "intersects"))
    assert len(build_rows) == 1 and 0 < 10 * build_rows[0] <= n_cells
