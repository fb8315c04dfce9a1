"""The benchmark's two workloads.

Each workload builds seeded inputs (``inputs``), runs one iteration of
public operator calls (``iteration``) and checks every call's result
against a numpy oracle and, for recorded seeds, the recorded digests
(``check``). Calls go through ``Run.call`` / ``Run.build``, which open a
span per call when tracing and count failures.

Sizes are set so that a run fits the benchmark's time budget on 4 vCPUs;
they are far below the engine's design scale, so fixed per-job costs weigh
more here than in a production job.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from bench import PART_ZOOM, zone_prune_cells
from pyramids_spark import cells, hdf5, synth, tiff, zarr
from pyramids_spark.checkpoint import CheckpointedJob, key_range_chunks
from pyramids_spark.grid import Grid, grid_df
from pyramids_spark.operators import focal, knn, pip, raster, vectorize, zonal

import oracles
from prepare import docs_start

N_DOCS = 400_000  # prepared docs table rows
N_POINTS = 200_000  # persisted points for point_joins
N_HEXES = 1_000  # DataFrame-side hexagon zones for pip_join_df
N_QUERIES = 25
KNN_K = 10
GRID = 256  # raster side, cells
TILE = 128  # focal, cluster and ring tiles
SHARD = 128  # sink shard side, cells: one task per shard
CKPT_SLICE = 50_000  # docs the checkpointed job covers
CKPT_CHUNKS = 8
CKPT_FAIL_AT = 4  # injected failure when chunk 4 starts: chunks 0-3 commit


def weight_col(row: str = "row", col: str = "col"):
    return cells.h1_col(F.col(row) * F.lit(65536) + F.col(col)) % F.lit(oracles.WEIGHT_MOD)


def digest(df, **extra) -> dict:
    """Order-independent digest over every output column, which forces
    the whole result: row count, sum and xor of per-row xxhash64 (doubles
    rounded to 6 places), plus ``extra`` sums for the numpy oracles. Long
    sums stay below 2^63: hashes are reduced mod 2^32 first."""
    cols = [F.round(F.col(c), 6) if t in ("double", "float") else F.col(c) for c, t in df.dtypes]
    d = df.select(F.xxhash64(*cols).alias("_h"), *[c.alias(k) for k, c in extra.items()])
    r = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.col("_h"), F.lit(1 << 32))).alias("hsum"),
        F.expr("bit_xor(_h)").alias("hxor"),
        *[F.sum(k).alias(k) for k in extra],
    ).first().asDict()
    r["hsum"] = r["hsum"] or 0
    r["hxor"] = r["hxor"] or 0
    r["digest"] = f"{r['n']}:{r['hsum']}:{r['hxor']}"
    return r


def rng(seed: int, it: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed % (1 << 63), salt, it % (1 << 32)])


# Zone sets move per seed without changing the work. Each zone turns 180°
# about (0, 0) or not and, unless it overlaps the hot spot, shifts in
# longitude by a whole number of PART_ZOOM cells. Cell boundaries at every
# zoom are symmetric about (0, 0) and repeat every CELL_LON degrees, and doc
# density is the same everywhere outside the hot spot (which the turn maps
# onto itself), so a moved zone covers as many partitions, cells and, in
# expectation, docs as its base zone, but other docs. On top, every
# iteration shifts the set by at most JITTER_DEG, so no cover cache serves
# a timed iteration (a production job builds its cover once per process).
CELL_LON = 360.0 / (1 << PART_ZOOM)
HOT = 0.5  # synth's hot spot is the box [-HOT, HOT]^2
JITTER_DEG = 1e-4


def jitter(seed: int, it: int, salt: int) -> tuple[float, float]:
    dx, dy = rng(seed, it, salt).uniform(-JITTER_DEG, JITTER_DEG, 2)
    return float(dx), float(dy)


def moved(zones: list[dict], seed: int, salt: int) -> list[dict]:
    g = rng(seed, 0, 100 + salt)
    out = []
    for z in zones:
        turn = -1.0 if g.integers(2) else 1.0
        parts = [p * turn for p in z["parts"]]
        (x0, y0), (x1, y1) = np.concatenate(parts).min(0), np.concatenate(parts).max(0)
        dx = 0.0
        if not (x0 < HOT and x1 > -HOT and y0 < HOT and y1 > -HOT):
            lo, hi = int(np.ceil((-180 - x0) / CELL_LON)), int(np.floor((180 - x1) / CELL_LON))
            dx = CELL_LON * int(g.integers(lo, hi + 1))
        out.append({**z, "parts": [p + np.array([dx, 0.0]) for p in parts]})
    return out


def moved_df(zones, seed: int, salt: int):
    """``moved`` for a ``(zone_id, xs, ys)`` DataFrame, in column
    expressions. Persist the result: the optimizer inlines these
    expressions into every use of the zones, which made them cost more
    than the join itself."""
    def draw(i):
        return cells.h1_col(F.col("zone_id") * F.lit(1 << 24) + F.lit((seed % (1 << 20)) * 16 + salt * 2 + i))

    turn = F.when(draw(0) % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    z = zones.select("zone_id", F.transform("xs", lambda v: v * turn).alias("xs"),
                     F.transform("ys", lambda v: v * turn).alias("ys"))
    x0, x1 = F.array_min("xs"), F.array_max("xs")
    y0, y1 = F.array_min("ys"), F.array_max("ys")
    lo, hi = F.ceil((F.lit(-180.0) - x0) / CELL_LON), F.floor((F.lit(180.0) - x1) / CELL_LON)
    hot = (x0 < HOT) & (x1 > -HOT) & (y0 < HOT) & (y1 > -HOT)
    dx = F.when(hot, F.lit(0.0)).otherwise((lo + draw(1) % (hi - lo + 1)) * F.lit(CELL_LON))
    return z.withColumn("_dx", dx).select(
        "zone_id", F.transform("xs", lambda v: v + F.col("_dx")).alias("xs"), "ys")


def translated(zones: list[dict], dx: float, dy: float) -> list[dict]:
    return [{**z, "parts": [p + np.array([dx, dy]) for p in z["parts"]]} for z in zones]


def close(a, b, rtol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return bool(np.isclose(float(a), float(b), rtol=rtol, atol=1e-9))


def moment_rtol(n: int, mean: float, var: float) -> float:
    """Relative tolerance for a one-pass var_pop / stddev_pop of ``n``
    values. Far from zero such a merge loses digits whatever the merge
    order: its relative error grows with the condition number
    kappa = sqrt(1 + mean^2 / var) (Chan, Golub and LeVeque, 1983), and the
    doc keys the zonal call aggregates sit up to 2^42 from zero with a
    spread near 2^16 (kappa up to 1e8). sqrt(n) * kappa * eps is the
    random-walk form of that bound; count, sum, min, max and mean stay at
    1e-9."""
    kappa = float(np.sqrt(1.0 + mean * mean / var)) if var > 0 else 1.0
    return max(1e-9, float(np.sqrt(n)) * kappa * float(np.finfo(np.float64).eps))


class Workload:
    name = ""
    why = ""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark

    def inputs(self) -> None:
        """Build and persist the seeded inputs."""

    def release(self) -> None:
        """Drop persisted inputs."""

    def rows(self) -> int:
        raise NotImplementedError

    def iteration(self, it: int) -> None:
        raise NotImplementedError

    def after_loop(self, it: int) -> None:
        """Once per run after the timed iterations (untimed)."""

    def traced_only(self, it: int) -> None:
        """Traced runs only, after the timed iterations: calls that split a
        layer or are too slow to repeat in every run."""

    def check(self) -> None:
        """Compare every recorded result with its oracle (``run.fail``)."""

    def derived(self, per_layer: dict) -> None:
        """Add per-layer metrics computed from others."""


# --------------------------------------------------------------------------
class InjectedFailure(RuntimeError):
    """Raised inside the checkpointed job to simulate a crash of the job."""


class FlagshipDocs(Workload):
    """BASELINE's docs/s job: the span audit on a second thread beside a
    cell-pruned PIP join over the prepared table; scan and codegen bound,
    little Python. Traced runs add the checkpointed resume."""

    BASE_ZONES = synth.zone_polygons(10, "hex")

    def inputs(self):
        self.docs = self.spark.read.parquet(self.run.docs_path)
        self.pool = ThreadPoolExecutor(max_workers=1)
        self.base = moved(self.BASE_ZONES, self.run.seed, 1)

    def rows(self):
        return N_DOCS

    def zones(self, it):
        return translated(self.base, *jitter(self.run.seed, it, 1))

    def iteration(self, it):
        run, docs = self.run, self.docs
        zones = self.zones(it)
        pruned = zone_prune_cells(zones)
        with run.tracer.span("flagship", it=it):
            parent = run.tracer.current()  # job groups are per thread: name it for the audit's

            def audit():
                return run.call(it, "synth.span_audit", lambda: docs.where(F.col("pcell").isin(pruned)).select(
                    F.min((synth.span_hash_col() == F.col("span_hash")).cast("int")).alias("all_ok")
                ).collect()[0]["all_ok"], parent=parent)

            fut = self.pool.submit(audit)
            with run.tracer.span("flagship.join", it=it):
                def build():
                    pts = docs.where(F.col("pcell").isin(pruned)).select("x", "y")
                    hits = pip.pip_join(pts, zones, zoom=11)
                    cx, cy = cells.geo_cell_col(F.col("x"), F.col("y"), 12)
                    hits = hits.withColumn("tile_id", cells.cell_id_col(cx, cy, 12))
                    per_tile = hits.groupBy("zone_id", "tile_id").agg(F.count(F.lit(1)).alias("n"))
                    return per_tile.groupBy("zone_id").agg(
                        F.sum("n").alias("n_docs"), F.count(F.lit(1)).alias("n_tiles"))

                agg = run.build(it, "pip.pip_join", build)
                if agg is not None:
                    run.call(it, "pip.pip_join", lambda: sorted(
                        (r["zone_id"], r["n_docs"], r["n_tiles"]) for r in agg.collect()))
            fut.result()

    def traced_only(self, it):
        """The scan floor, then the checkpointed PIP tiling job
        (jobs/pip_tiling_job.py's shape) over a slice of the docs. The job
        fails when chunk CKPT_FAIL_AT starts; a new job object then resumes
        it from the manifest."""
        run, zones = self.run, self.zones(it)
        pruned = zone_prune_cells(zones)
        run.call(it, "scan.xy", lambda: self.docs.where(F.col("pcell").isin(pruned)).select(
            F.sum(F.col("x") + F.col("y"))).first()[0], counted=False)
        lo0 = run.docs_start
        chunks = key_range_chunks(CKPT_SLICE, CKPT_CHUNKS)
        root, job_id = os.path.join(run.work, "ckpt"), "pip_tiling"
        shutil.rmtree(root, ignore_errors=True)
        self.slice = self.docs.where((F.col("key") >= lo0) & (F.col("key") < lo0 + CKPT_SLICE)).persist()
        self.slice.count()
        fail = {"armed": True}

        def job(spark, chunk):
            if fail["armed"] and chunk["id"] == CKPT_FAIL_AT:
                raise InjectedFailure(f"chunk {chunk['id']}")
            part = self.slice.where((F.col("key") >= lo0 + chunk["lo"]) & (F.col("key") < lo0 + chunk["hi"]))
            hits = pip.pip_join(part, zones, zoom=11)
            cx, cy = cells.geo_cell_col(F.col("x"), F.col("y"), 12)
            hits = hits.withColumn("tile_id", cells.cell_id_col(cx, cy, 12))
            ok = (synth.span_hash_col() == F.col("span_hash")).alias("span_ok")
            return hits.select("doc_id", "key", "zone_id", "tile_id", ok)

        def first():
            cp = CheckpointedJob(self.spark, root, job_id)
            try:
                cp.run(chunks, job)
            except InjectedFailure:
                return sorted(cp.committed())
            raise RuntimeError("injected failure did not fire")

        def resume():
            fail["armed"] = False
            cp = CheckpointedJob(self.spark, root, job_id)
            try:
                lin = cp.run(chunks, job)
                cp.snapshot()
                res = cp.result()
                return {"rerun": sorted(c for c, m in lin.items() if not m.get("skipped")),
                        "chunk_s": float(np.median([m["wall_s"] for m in lin.values()])),
                        "violations": res.where(~F.col("span_ok")).count(),
                        **digest(res.select("key", "zone_id", "tile_id"))}
            finally:
                cp.close()

        committed = run.call(it, "checkpoint.run", first)
        res = run.call(it, "checkpoint.resume", resume)
        if res is not None:
            res["committed_before"] = committed or []

    def release(self):
        if hasattr(self, "slice"):
            self.slice.unpersist(blocking=True)
        if hasattr(self, "pool"):
            self.pool.shutdown(wait=True)

    def check(self):
        run = self.run
        xy = self.docs.select("key", "x", "y").toPandas()
        key, x, y = xy["key"].to_numpy(), xy["x"].to_numpy(), xy["y"].to_numpy()
        for (it, name), res in run.results_of("synth.span_audit"):
            run.expect(it, name, res == 1, f"all_ok={res}")
        for (it, name), res in run.results_of("pip.pip_join"):
            want = oracles.zone_tile_counts(x, y, self.zones(it), 12)
            got = {z: (n, t) for z, n, t in res}
            run.expect(it, name, got == want, f"per-zone (docs, tiles) {got} != oracle {want}")
            run.expect_digest(it, name, repr(res))
        sl = key < run.docs_start + CKPT_SLICE
        for (it, name), res in run.results_of("checkpoint.resume"):
            uncommitted = [str(c["id"]) for c in key_range_chunks(CKPT_SLICE, CKPT_CHUNKS)
                           if str(c["id"]) not in res["committed_before"]]
            run.expect(it, name, res["rerun"] == sorted(uncommitted)
                       and len(uncommitted) == CKPT_CHUNKS - CKPT_FAIL_AT,
                       f"reran {res['rerun']}, uncommitted {uncommitted}")
            run.expect(it, name, res["violations"] == 0, f"{res['violations']} span violations")
            want = sum(n for n, _ in oracles.zone_tile_counts(x[sl], y[sl], self.zones(it), 12).values())
            run.expect(it, name, res["n"] == want, f"{res['n']} rows != oracle {want}")
            run.expect_digest(it, name, res["digest"])

    def derived(self, pl):
        pl["pip.pip_join.rows_out"] = self.run.median_of(
            "pip.pip_join", lambda res: sum(n for _, n, _ in res))
        walls = self.run.span_durations("flagship")
        audit, join = self.run.span_durations("synth.span_audit"), self.run.span_durations("flagship.join")
        both = [(audit[i] + join[i]) / walls[i] for i in walls if i in audit and i in join]
        pl["flagship.overlap"] = float(np.median(both)) if both else 0.0
        pl["checkpoint.run.chunk_s"] = self.run.median_of("checkpoint.resume", lambda r: r["chunk_s"])
        pl["checkpoint.resume.rerun_ratio"] = self.run.median_of(
            "checkpoint.resume",
            lambda r: len(r["rerun"]) / max(1, CKPT_CHUNKS - len(r["committed_before"])))


# --------------------------------------------------------------------------
class PointJoins(Workload):
    """Python-worker and Arrow transport bound: the mapInPandas cover,
    Python top-k kNN, cell-ring kNN and zonal stats over persisted points."""

    BASE_BOXES = synth.zone_polygons(25, "box")
    ZONAL_EXACT = ("zone_id", "count", "sum", "min", "max")

    def inputs(self):
        self.pts = synth.documents_full(self.spark, N_POINTS, start=docs_start(self.run.seed)).select(
            "doc_id", "key", "x", "y").persist()
        self.pts.count()
        self.base_boxes = moved(self.BASE_BOXES, self.run.seed, 4)
        self.base_hexes = moved_df(synth.zone_hexagons_df(self.spark, N_HEXES), self.run.seed, 2).persist()
        self.base_hexes.count()

    def release(self):
        for df in ("pts", "base_hexes"):
            if hasattr(self, df):
                getattr(self, df).unpersist(blocking=True)

    def rows(self):
        return N_POINTS

    def hexes(self, it):
        dx, dy = jitter(self.run.seed, it, 2)
        return self.base_hexes.select(
            "zone_id", F.transform("xs", lambda v: v + F.lit(dx)).alias("xs"),
            F.transform("ys", lambda v: v + F.lit(dy)).alias("ys"))

    def queries(self, it):
        k = rng(self.run.seed, it, 3).integers(0, 1 << 40, N_QUERIES)
        lon = cells.lon_np(cells.h1_np(k))
        lat = cells.lat_np(cells.h2_np(k))
        return [(i, float(lon[i]), float(lat[i])) for i in range(N_QUERIES)]

    def boxes(self, it):
        return translated(self.base_boxes, *jitter(self.run.seed, it, 4))

    def iteration(self, it):
        run, pts = self.run, self.pts
        zdf = self.hexes(it)
        j = run.build(it, "pip.pip_join_df", lambda: pip.pip_join_df(pts, zdf, zoom=10))
        if j is not None:
            run.call(it, "pip.pip_join_df", lambda: digest(
                j, pk=cells.h1_col(F.col("key") * F.lit(1 << 20) + F.col("zone_id"))))
        q = self.queries(it)
        for name, fn in (("knn.knn_join", lambda: knn.knn_join(pts, q, k=KNN_K)),
                         ("knn.knn_join_cellpruned",
                          lambda: knn.knn_join_cellpruned(pts, q, k=KNN_K, zoom=6))):
            run.call(it, name, lambda fn=fn: sorted(
                (r["query_id"], r["rank"], r["key"], r["dist2"]) for r in fn().collect()))
        boxes = self.boxes(it)
        run.call(it, "zonal.zonal_stats_points", lambda: sorted(
            (r.asDict() for r in zonal.zonal_stats_points(pts, boxes, value="key", zoom=8).collect()),
            key=lambda d: d["zone_id"]))

    def traced_only(self, it):
        """The cover alone and the candidate count, on iteration 0's zones."""
        run = self.run
        rings = self.hexes(0).withColumn(
            "part_key", F.xxhash64(F.col("zone_id"), F.col("xs"), F.col("ys")))
        cover = pip.zone_cover_df(rings, 10, "intersects")
        run.call(it, "pip.zone_cover_df", lambda: digest(cover), counted=False)
        cand = pip.with_cell_id(self.pts, 10).join(cover, "cell_id")
        run.call(it, "pip.pip_join_df.candidates", lambda: cand.count(), counted=False)

    def check(self):
        run = self.run
        p = self.pts.select("key", "x", "y").toPandas()
        key, x, y = p["key"].to_numpy(), p["x"].to_numpy(), p["y"].to_numpy()
        for (it, name), res in run.results_of("pip.pip_join_df"):
            z = self.hexes(it).toPandas()
            n, s = oracles.pip_pairs(x, y, key, z["zone_id"], z["xs"], z["ys"])
            run.expect(it, name, (res["n"], res["pk"]) == (n, s),
                       f"(rows, pair sum) {(res['n'], res['pk'])} != oracle {(n, s)}")
            run.expect_digest(it, name, res["digest"])
        for (it, name), res in run.results_of("knn.knn_join"):
            want = oracles.knn(x, y, key, self.queries(it), KNN_K)
            got = [(q, k, r) for q, r, k, _ in res]
            run.expect(it, name, sorted(got) == sorted(want), "top-k differs from oracle")
            run.expect_digest(it, name, repr(got))
            other = run.results.get((it, "knn.knn_join_cellpruned"))
            if other is not None:
                same = len(other) == len(res) and all(
                    a[:3] == b[:3] and close(a[3], b[3], 1e-12) for a, b in zip(res, other))
                run.expect(it, "knn.knn_join_cellpruned", same, "differs from knn_join")
        for (it, name), res in run.results_of("zonal.zonal_stats_points"):
            want = oracles.zonal_points(x, y, key, self.boxes(it))
            ok = len(res) == len(want)
            for r in res:
                w = want.get(r["zone_id"], {"count": 0})
                if w["count"] == 0:
                    ok &= r["count"] in (None, 0)
                else:
                    ok &= all(close(r[s], w[s]) for s in ("count", "sum", "min", "max", "mean"))
                    rtol = moment_rtol(w["count"], w["mean"], w["var"])
                    ok &= close(r["var"], w["var"], rtol) and close(r["std"], w["std"], rtol)
            run.expect(it, name, ok, "zonal stats differ from oracle")
            # the exact stats only: the floating ones lose digits that depend on merge order
            run.expect_digest(it, name, repr([{k: r[k] for k in self.ZONAL_EXACT} for r in res]))

    def derived(self, pl):
        run = self.run
        pl["pip.pip_join_df.rows_out"] = run.median_of("pip.pip_join_df", lambda r: r["n"])
        pl["pip.zone_cover_df.rows_out"] = run.median_of("pip.zone_cover_df", lambda r: r["n"])
        cand = run.median_of("pip.pip_join_df.candidates", lambda r: r)
        kept = run.results.get((0, "pip.pip_join_df"))
        pl["pip.pip_join_df.keep_ratio"] = kept["n"] / cand if cand and kept else 0.0


class VectorJoins(Workload):
    """FlagshipDocs then PointJoins in one iteration."""

    name = "vector_joins"
    why = ("flagship docs job (span audit beside a cell-pruned PIP join over a table scan) plus "
           "pip_join_df, kNN and zonal over in-memory points; Python transport bound")

    def __init__(self, run):
        super().__init__(run)
        self.parts = [FlagshipDocs(run), PointJoins(run)]

    def inputs(self):
        for p in self.parts:
            p.inputs()

    def release(self):
        for p in self.parts:
            p.release()

    def rows(self):
        return sum(p.rows() for p in self.parts)

    def iteration(self, it):
        for p in self.parts:
            p.iteration(it)

    def traced_only(self, it):
        for p in self.parts:
            p.traced_only(it)

    def check(self):
        for p in self.parts:
            p.check()

    def derived(self, pl):
        for p in self.parts:
            p.derived(pl)


# --------------------------------------------------------------------------
def seeded_col(key_expr, mod: int, scale: float = 1.0):
    """(h1(key) % mod) * scale as a double column."""
    return (cells.h1_col(key_expr) % F.lit(mod)).cast("double") * F.lit(scale)


def seeded_grid_np(g: Grid, key_fn, mod: int, scale: float = 1.0) -> np.ndarray:
    r, c = np.indices((g.rows, g.cols), dtype=np.int64)
    return (cells.h1_np(key_fn(r, c)) % mod).astype(np.float64) * scale


def file_digest(path: str) -> tuple[int, str]:
    """(bytes, sha256) over every file under ``path`` in name order."""
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs) \
        if os.path.isdir(path) else [path]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, path).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return sum(map(os.path.getsize, files)), h.hexdigest()


class RasterTiles(Workload):
    name = "raster_tiles"
    why = ("grid-only: focal halo shuffle, overview, tile connected components, the "
           "polygonize_rings stitch, then GeoTIFF, netCDF-4 and zarr sinks of the same grid")

    SINKS = ("tiff.write_cog_parts", "hdf5.write_netcdf4", "hdf5.write_netcdf4_fixed", "zarr.write_zarr")

    def grid(self) -> Grid:
        return Grid(x0=0.0, y0=0.0, cell=1.0, rows=GRID, cols=GRID)

    # seeded value fields: continuous (1000 levels of 0.1), 100 classes per
    # cell, 7 classes per 8x8 block
    def gseed(self) -> int:
        return self.run.seed % (1 << 20)

    def value_key(self, row, col):
        return row * GRID + col + self.gseed() * (1 << 22)

    def class_key(self, row, col):
        return (row * GRID + col) * 3 + self.gseed() * (1 << 23) + 1

    def block_key(self, row, col):
        return (row // 8) * GRID + col // 8 + self.gseed() * (1 << 24) + 2

    def inputs(self):
        row, col = F.col("row"), F.col("col")
        blocks = F.floor(row / 8) * GRID + F.floor(col / 8) + F.lit(self.gseed() * (1 << 24) + 2)
        self.fields = grid_df(self.spark, self.grid(), "0.0").select(
            "band", "row", "col",
            seeded_col(self.value_key(row, col), 1000, 0.1).alias("v"),
            seeded_col(self.class_key(row, col), 100).alias("c"),
            seeded_col(blocks, 7).alias("b"),
        ).persist()
        self.fields.count()
        self.gv, self.gc, self.gb = (
            self.fields.select("band", "row", "col", F.col(f).alias("value")) for f in "vcb")
        self.out = os.path.join(self.run.work, "sinks")

    def release(self):
        if hasattr(self, "fields"):
            self.fields.unpersist(blocking=True)

    def rows(self):
        return 5 * GRID * GRID  # one grid through the raster calls, four sinks

    def path(self, sink):
        return os.path.join(self.out, sink)

    def iteration(self, it):
        run, g, gv = self.run, self.grid(), self.gv
        wsum = dict(vsum=F.col("value"), vw=F.col("value") * weight_col())
        run.call(it, "focal.focal_tiles", lambda: digest(focal.focal_tiles(gv, g, r=2, tile=TILE), **wsum))
        run.call(it, "raster.overview_rollup", lambda: digest(
            raster.overview_rollup(gv, level=4, stat="avg"), **wsum))
        cl = run.build(it, "vectorize.cluster", lambda: vectorize.cluster(
            self.gc, g, lo=0.0, hi=54.0, tile=TILE, single_pass=True))
        if cl is not None:
            run.call(it, "vectorize.cluster", lambda: digest(
                cl, lsum=F.col("label"), lw=F.col("label") * weight_col()))
        pr = run.build(it, "vectorize.polygonize_rings", lambda: vectorize.polygonize_rings(self.gb, g, tile=TILE))
        if pr is not None:
            run.call(it, "vectorize.polygonize_rings", lambda: digest(
                pr, cells=F.col("n_cells"), cells2=F.col("n_cells") * F.col("n_cells"),
                vn=F.col("value") * F.col("n_cells")))

        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        nc = gv.select(F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"), "row", "col", "value")
        half = (SHARD // 2, SHARD // 2)
        writes = {
            "tiff.write_cog_parts": lambda p: tiff.write_cog_parts(
                gv, g, 1, p, shard=(SHARD, SHARD), tile=half, compress=1),
            "hdf5.write_netcdf4": lambda p: hdf5.write_netcdf4(
                nc, g, p, times=None, compress=1, shuffle=True, chunk=half, parallel=True),
            "hdf5.write_netcdf4_fixed": lambda p: hdf5.write_netcdf4(
                nc, g, p, times=None, compress=None, shuffle=True, chunk=half,
                index="fixed_array", parallel=True),
            "zarr.write_zarr": lambda p: zarr.write_zarr(
                gv, g, p, chunks=half, compress=3, zarr_format=3, shards=(SHARD, SHARD),
                codec="blosc:zstd"),
        }
        for name, fn in writes.items():
            if run.call(it, name, lambda fn=fn, name=name: fn(self.path(name))) is not None:
                run.results[(it, name)] = file_digest(self.path(name))  # outside the call's span

    def traced_only(self, it):
        self.run.call(it, "vectorize.polygonize", lambda: digest(
            vectorize.polygonize(self.gb, self.grid(), tile=TILE, single_pass=True)), counted=False)

    def after_loop(self, it):
        """Read the last iteration's sink files back (untimed): equal files
        across iterations plus one read-back prove every iteration."""
        readers = {
            "tiff.write_cog_parts": lambda p: tiff.read_geotiff_parts(self.spark, p)[0],
            "hdf5.write_netcdf4": lambda p: hdf5.read_netcdf4(self.spark, p)[0],
            "hdf5.write_netcdf4_fixed": lambda p: hdf5.read_netcdf4(self.spark, p)[0],
            "zarr.write_zarr": lambda p: zarr.read_zarr(self.spark, p)[0],
        }
        self.readback = {}
        for name, read in readers.items():
            try:
                self.readback[name] = digest(read(self.path(name)).select("row", "col", "value"))["digest"]
            except Exception:
                self.run.messages.append(f"{name} read-back raised:\n{traceback.format_exc()}")

    def check(self):
        run, g = self.run, self.grid()
        v = seeded_grid_np(g, self.value_key, 1000, 0.1)
        want = {
            "focal.focal_tiles": oracles.float_sums(oracles.focal_mean(v, 2)),
            "raster.overview_rollup": oracles.float_sums(oracles.block_mean(v, 4)),
            "vectorize.cluster": oracles.cluster_labels(seeded_grid_np(g, self.class_key, 100), 0.0, 54.0),
            "vectorize.polygonize_rings": oracles.region_sizes(seeded_grid_np(g, self.block_key, 7)),
        }
        for name, w in want.items():
            for (it, _), res in run.results_of(name):
                ok = all(close(res[k], w[k]) if isinstance(w[k], float) else res[k] == w[k] for k in w)
                run.expect(it, name, ok, f"{ {k: res[k] for k in w} } != oracle {w}")
                run.expect_digest(it, name, res["digest"])
        cells_digest = digest(self.gv.select("row", "col", "value"))["digest"]
        for name in self.SINKS:
            got = run.results_of(name)
            last = got[-1][1] if got else None
            for (it, _), res in got:
                run.expect(it, name, self.readback.get(name) == cells_digest,
                           f"read-back {self.readback.get(name)} != grid {cells_digest}")
                run.expect(it, name, res == last, f"files {res} differ from the last iteration's {last}")
                run.expect_digest(it, name, list(res))

    def derived(self, pl):
        run = self.run
        # the whole rings call (build + action) minus polygonize alone
        rings = [run.span_durations("vectorize.polygonize_rings").get(i, 0.0) + b
                 for i, b in run.span_durations("vectorize.polygonize_rings.build").items()]
        poly = list(run.span_durations("vectorize.polygonize").values())
        if rings and poly:
            pl["vectorize.ring_tail.s"] = float(np.median(rings) - np.median(poly))
        for name in self.SINKS:
            pl[f"{name}.bytes_per_cell"] = run.median_of(name, lambda r: r[0] / (GRID * GRID))


WORKLOADS = {w.name: w for w in (VectorJoins, RasterTiles)}
