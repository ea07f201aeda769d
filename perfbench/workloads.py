"""The workloads.  Each drives s2geometry_spark only through its
public module functions, wraps every layer call in a tracer span, and
returns its collected outputs so the oracles can check them afterwards.

Protocol used by ``perfbench.worker``:

* ``generate()``   seeded inputs, written once to the work directory;
* ``prepare()``    driver-side set-up that is not input generation;
* ``warm_up()``    untimed full-size passes until Python workers, JIT and
                   caches are hot (iteration times have levelled off);
* ``iteration()``  one timed unit of work over all inputs -> outputs;
* ``check(out)``   oracle problems per checked job, outside the timed region;
* ``probe()``      traced runs only: direct per-layer measurements.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from s2geometry_spark import functions as s2f
from s2geometry_spark.kernels import cellid, imagecodec
from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer
from s2geometry_spark.kernels.geotag import geotag_from_index
from s2geometry_spark.operators import density, image_pipeline, knn, tiling
from s2geometry_spark.operators.checkpoint import CheckpointedRun
from s2geometry_spark.operators.contains_join import RegionIndex, contains_join
from s2geometry_spark.sources.images import IMAGES_SCHEMA, make_row

from . import inputs, oracles

# Sizes per profile.  "full" is what BENCHMARK.json records; "tiny" is the
# smoke-test profile.
SIZES = {
    "full": {
        "tile_join": {"points": 200_000, "loops": 10, "holed": 4},
        "knn_mixed": {"metro": 20_000, "sprinkle": 30},
        "image_audit_resume": {"images": 512, "loops": 10, "holed": 4},
    },
    "tiny": {
        "tile_join": {"points": 4_000, "loops": 3, "holed": 1},
        "knn_mixed": {"metro": 2_000, "sprinkle": 20},
        "image_audit_resume": {"images": 96, "loops": 3, "holed": 1},
    },
}

TILE_LEVEL = 5  # tile counts, density and salting all key on level-5 tiles
KNN_K = 8
KNN_SAMPLE = 64  # queries checked against brute force
PX_SCALE = 2
N_BUCKETS = 4
AUDIT_LEVEL = 4
AUDIT_COL = f"cell_l{AUDIT_LEVEL}"
COVERER_OPTS = CovererOptions(max_cells=8, min_level=4, max_level=16, level_mod=1)
IMAGES_ARROW = pa.schema(
    [
        ("image_id", pa.string(), False),
        ("bytes", pa.binary(), False),
        ("w", pa.int32(), False),
        ("h", pa.int32(), False),
        ("fmt", pa.string(), False),
        ("caption", pa.string(), False),
        ("phash", pa.int64(), False),
    ]
)


def _write_parquet(cols: dict[str, np.ndarray], path: str, n_files: int) -> None:
    """Several files so Spark splits the scan over every core."""
    _write_table(pa.table(cols), path, n_files)


def _write_table(table: pa.Table, path: str, n_files: int) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, idx in enumerate(np.array_split(np.arange(table.num_rows), n_files)):
        pq.write_table(table.take(idx), os.path.join(path, f"part-{i:03d}.parquet"))


def _ddl(cols: dict[str, np.ndarray]) -> str:
    """Spark schema of a generated column dict, so reads skip inference."""
    types = {np.dtype(np.int64): "long", np.dtype(np.float64): "double"}
    return ", ".join(f"{k} {types[v.dtype]}" for k, v in cols.items())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _rate(n: float, seconds: float) -> float:
    return n / seconds if seconds > 0 else 0.0


def _timed(fn, reps: int = 3) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


class Workload:
    name = ""
    warm_iters = 1  # untimed full iterations before timing

    def __init__(self, spark, tracer, work_dir: str, seed: int, profile: dict, cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.profile = profile
        self.sizes = profile[self.name]
        self.cpus = cpus

    def cleanup(self, out: dict) -> None:
        """Drop what one iteration left on disk (outside the timed region)."""

    def warm_up(self) -> None:
        for _ in range(self.warm_iters):
            self.cleanup(self.iteration())
            self.spark.catalog.clearCache()

    def _index(self, specs) -> RegionIndex:
        with self.tracer.span("contains_join.index_build"):
            return RegionIndex({s.rid: s.region() for s in specs})

    def _covering_ms(self) -> float:
        coverer = RegionCoverer(COVERER_OPTS)
        regions = [s.region() for s in self.specs]
        return 1e3 * statistics.median(
            _timed(lambda r=r: coverer.get_covering(r), reps=1) for r in regions
        )

    def _pip_probe(self, xyz: np.ndarray, ids: np.ndarray) -> float:
        """Parity-kernel point tests per second, over the oracle's
        bounding-cap candidates."""
        tested = sum(int((xyz @ s.center_xyz() >= s.bounding_cos()).sum()) for s in self.specs)
        return _rate(tested, _timed(lambda: oracles.pip_pairs(xyz, ids, self.specs), reps=1))


class TileJoin(Workload):
    """Leaf encode -> salted level-5 tile counts -> polygon contains_join."""

    name = "tile_join"
    jobs = ("encode", "tile_counts_salted", "tile_counts", "contains_join")
    # On a 4-core VM an iteration takes ~20 s cold, then ~4.5 and ~3.7 s,
    # and levels off at ~3.4 s from the fourth; with one warm-up pass the
    # timed iterations were still speeding up and rows_per_s spread by
    # 20-28% over ten seeds.
    warm_iters = 3

    def generate(self) -> None:
        sz = self.sizes
        self.pts = inputs.hotspot_points(self.seed, sz["points"])
        self.specs = inputs.polygon_specs(self.seed, sz["loops"], sz["holed"])
        self.path = os.path.join(self.work, "points")
        _write_parquet(self.pts, self.path, 2 * self.cpus)

    def prepare(self) -> None:
        self.index = self._index(self.specs)
        self.n = self.rows = len(self.pts["pid"])
        # a level-5 tile is hot when it holds more than 1/64 of all rows,
        # which on this mixture singles out the hot-spot tiles
        self.rows_per_task = max(100, self.n // 64)

    def iteration(self) -> dict:
        span, spark = self.tracer.span, self.spark
        pts = spark.read.schema(_ddl(self.pts)).parquet(self.path)
        with span("functions.encode"):
            enc = tiling.with_cell_from_latlng(pts).cache()
            n = enc.count()
        with span("density.salt_factors"):
            dens = density.measure_density(enc, TILE_LEVEL)
            factors = density.salt_factors(dens, self.rows_per_task)
        with span("density.tile_counts_salted"):
            salted = density.tile_counts_salted(enc, TILE_LEVEL, factors=factors).toPandas()
        with span("tiling.tile_counts"):
            plain = tiling.tile_counts(enc, TILE_LEVEL).toPandas()
        with span("contains_join.exact"):
            pairs = contains_join(spark, enc, self.index).toPandas()
        enc.unpersist()
        return {"n": n, "factors": factors, "salted": salted, "plain": plain, "pairs": pairs}

    def span_metrics(self) -> dict[str, float]:
        med = self.tracer.median
        return {
            "tiling.tile_counts_s": med("tiling.tile_counts", "iteration"),
            "density.salted_tile_counts_s": med("density.salt_factors", "iteration")
            + med("density.tile_counts_salted", "iteration"),
            "contains_join.exact_s": med("contains_join.exact", "iteration"),
            "contains_join.index_build_s": med("contains_join.index_build"),
        }

    def expected(self) -> None:
        p = self.pts
        self.exp_tiles = oracles.tile_counts(p["lat"], p["lng"], TILE_LEVEL)
        xyz = np.stack([p["x"], p["y"], p["z"]], axis=1)
        self.exp_pairs = oracles.pip_pairs(xyz, p["pid"], self.specs)

    def check(self, out: dict) -> dict[str, list[str]]:
        return {
            "encode": [] if out["n"] == self.n else [f"encode: {out['n']} rows, expected {self.n}"],
            "tile_counts_salted": oracles.check_tile_counts(out["salted"], self.exp_tiles, "salted tiles")
            + oracles.check_tile_counts(out["salted"], oracles.as_tiles(out["plain"]), "salted vs unsalted"),
            "tile_counts": oracles.check_tile_counts(out["plain"], self.exp_tiles, "tile counts"),
            "contains_join": oracles.check_pip(out["pairs"], self.exp_pairs, "contains_join"),
        }

    def probe(self, last: dict) -> dict[str, float]:
        spark, p = self.spark, self.pts
        pts = spark.read.schema(_ddl(self.pts)).parquet(self.path)
        m = {}
        t = _timed(lambda: tiling.with_cell_from_latlng(pts).agg(F.max("cell")).collect())
        m["functions.encode_rows_per_s"] = _rate(self.n, t)
        enc = tiling.with_cell_from_latlng(pts).cache()
        enc.count()
        t0 = time.perf_counter()
        cand = contains_join(spark, enc, self.index, exact=False).count()
        m["contains_join.candidates_s"] = time.perf_counter() - t0
        enc.unpersist()
        hits = len(last["pairs"])
        m["contains_join.candidate_pairs"] = float(cand)
        m["contains_join.hits"] = float(hits)
        m["contains_join.refine_precision"] = hits / cand if cand else 0.0
        m["density.hot_tiles"] = float(len(last["factors"]))
        cnt = last["plain"]["cnt"]
        m["density.skew_max_over_mean"] = float(cnt.max() / cnt.mean())
        m["kernels.cellid.encode_per_s"] = _rate(
            self.n, _timed(lambda: cellid.from_latlng_degrees(p["lat"], p["lng"]))
        )
        xyz = np.stack([p["x"], p["y"], p["z"]], axis=1)
        m["kernels.predicates.contains_per_s"] = self._pip_probe(xyz, p["pid"])
        m["kernels.coverer.covering_ms"] = self._covering_ms()
        m.update(self._knn_layer())
        return m

    def _knn_layer(self) -> dict[str, float]:
        """The operators.knn layer on its own seeded inputs: an untraced
        warm-up call, then one traced and oracle-checked call."""
        part = KnnMixed(self.spark, self.tracer, self.work, self.seed, self.profile, self.cpus)
        part.generate()
        part.prepare()
        self.tracer.enabled = False
        part.warm_up()
        self.tracer.enabled = True
        with self.tracer.span("knn_probe"):
            out = part.iteration()
        part.expected()
        problems = part.check(out)["knn_join"]
        if problems:
            raise RuntimeError(f"knn_join failed its oracle: {problems}")
        m = {
            "knn.join_s": self.tracer.median("knn.join", "knn_probe"),
            "knn.result_s": self.tracer.median("knn.result", "knn_probe"),
        }
        m.update(part.probe(out))
        return m


class KnnMixed(Workload):
    """knn_join(k=8) at its default levels over metro clusters plus a
    sparse global sprinkle; encode of both sides rides inside the join.

    Measured by the tile_join traced run only (see TileJoin.probe): one
    call varies by 20-60% from call to call, because AQE coalesces the
    small cogroup into one task that runs every group serially, and one
    call costs 5-9 s whatever the input size, so no affordable number of
    calls per run gives a gateable end-to-end figure."""

    name = "knn_mixed"

    def generate(self) -> None:
        sz = self.sizes
        self.points, self.queries = inputs.knn_points(self.seed, sz["metro"], sz["sprinkle"])
        self.ppath = os.path.join(self.work, "knn_points")
        self.qpath = os.path.join(self.work, "knn_queries")
        _write_parquet(self.points, self.ppath, 2 * self.cpus)
        _write_parquet(self.queries, self.qpath, self.cpus)

    def prepare(self) -> None:
        self.nq = len(self.queries["qid"])

    def _inputs(self):
        spark = self.spark
        pts = spark.read.schema(_ddl(self.points)).parquet(self.ppath).withColumn(
            "p_cell", s2f.cell_from_xyz(F.col("px"), F.col("py"), F.col("pz"))
        )
        qs = spark.read.schema(_ddl(self.queries)).parquet(self.qpath).withColumn(
            "q_cell", s2f.cell_from_xyz(F.col("qx"), F.col("qy"), F.col("qz"))
        )
        return pts, qs

    def iteration(self) -> dict:
        pts, qs = self._inputs()
        with self.tracer.span("knn.join"):
            res = knn.knn_join(self.spark, pts, qs, KNN_K)
        with self.tracer.span("knn.result"):
            out = res.toPandas()
        self.spark.catalog.clearCache()
        return {"knn": out}

    def expected(self) -> None:
        rng = np.random.default_rng([self.seed, 4])
        qid = self.queries["qid"]
        sample = rng.choice(qid, min(KNN_SAMPLE, len(qid)), replace=False)
        self.exp = oracles.knn_topk(self.points, self.queries, sample, KNN_K)

    def check(self, out: dict) -> dict[str, list[str]]:
        return {"knn_join": oracles.check_knn(out["knn"], self.exp, self.nq, KNN_K)}

    def _xyz(self, cols: dict, prefix: str) -> np.ndarray:
        return np.stack([cols[prefix + "x"], cols[prefix + "y"], cols[prefix + "z"]], axis=1)

    def probe(self, last: dict) -> dict[str, float]:
        """Stage-1 shape (level 8 blocks cogrouped on level-6 prefixes,
        knn_join's defaults) recomputed with the public kernels."""
        spark = self.spark
        m = {}
        pts, _ = self._inputs()
        t = _timed(lambda: pts.agg(F.max("p_cell")).collect())
        m["functions.encode_rows_per_s"] = _rate(len(self.points["pid"]), t)

        P, Q = self._xyz(self.points, "p"), self._xyz(self.queries, "q")
        p_leaf = cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2])
        q_leaf = cellid.from_xyz(Q[:, 0], Q[:, 1], Q[:, 2])
        m["kernels.cellid.encode_per_s"] = _rate(
            len(p_leaf), _timed(lambda: cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2]))
        )
        level, group_level = 8, 6
        q_own = cellid.parent(q_leaf, level)
        m["kernels.cellid.neighbors_per_s"] = _rate(
            len(q_own), _timed(lambda: cellid.append_all_neighbors(q_own, level))
        )
        idx, nbrs = cellid.append_all_neighbors(q_own, level)
        blocks = [{int(c)} for c in q_own]
        for i, c in zip(idx.tolist(), nbrs.tolist()):
            blocks[i].add(c)

        p_blk = cellid.parent(p_leaf, level)
        p_groups = set(cellid.parent(p_blk, group_level).tolist())
        q_groups = set(
            cellid.parent(np.array(sorted(set().union(*blocks)), np.uint64), group_level).tolist()
        )
        m["knn.point_cells_l6"] = float(len(p_groups))
        m["knn.group_useful_ratio"] = len(p_groups & q_groups) / len(p_groups | q_groups)

        order = np.argsort(p_blk, kind="stable")
        p_blk_s, P_s = p_blk[order], P[order]
        bound = knn.query_bound_chord2(Q, q_leaf, level)
        n_cand, certified = [], 0
        for i, blk in enumerate(blocks):
            b = np.array(sorted(blk), np.uint64)
            lo, hi = np.searchsorted(p_blk_s, b, "left"), np.searchsorted(p_blk_s, b, "right")
            sel = np.concatenate([np.arange(a, z) for a, z in zip(lo, hi)])
            n_cand.append(len(sel))
            if len(sel) >= KNN_K:
                d = P_s[sel] - Q[i]
                dk = np.partition((d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]) + d[:, 2] * d[:, 2], KNN_K - 1)[KNN_K - 1]
                certified += int(dk < bound[i])
        m["knn.candidates_per_query"] = float(np.mean(n_cand))
        m["knn.stage1_certified_ratio"] = certified / len(blocks)
        return m


class ImageAuditResume(Workload):
    """Checkpointed fused decode/verify/tile audit, stopped after half the
    buckets and resumed, then the geotag polygon join."""

    name = "image_audit_resume"
    jobs = ("checkpointed_audit", "images_pip_join")
    warm_iters = 1  # ~20 s cold, then ~6 s from the second on a 4-core VM

    def generate(self) -> None:
        n, off = self.sizes["images"], inputs.image_id_offset(self.seed)
        self.n = self.rows = n
        self.path = os.path.join(self.work, "images")
        with self.tracer.span("sources.images_gen"):
            rows = pd.DataFrame([make_row(i, PX_SCALE) for i in range(off, off + n)])
        table = pa.Table.from_pandas(rows[IMAGES_SCHEMA.fieldNames()], schema=IMAGES_ARROW, preserve_index=False)
        _write_table(table, self.path, 2 * self.cpus)

    def prepare(self) -> None:
        sz = self.sizes
        self.specs = inputs.polygon_specs(self.seed, sz["loops"], sz["holed"])
        self.index = self._index(self.specs)
        self.n_iter = 0

    def _images(self):
        return self.spark.read.schema(IMAGES_SCHEMA).parquet(self.path)

    def _single_pass(self) -> pd.DataFrame:
        return image_pipeline.fused_tile_audit(self._images(), AUDIT_LEVEL).toPandas()

    def iteration(self) -> dict:
        span, spark = self.tracer.span, self.spark
        self.n_iter += 1
        out_dir = os.path.join(self.work, f"ckpt{self.n_iter}")
        images = self._images()
        first = CheckpointedRun(out_dir, n_buckets=N_BUCKETS, run_id="first")

        def unit(spark, b):
            return image_pipeline.fused_tile_audit(first.bucket_filter(images, "image_id", b), AUDIT_LEVEL)

        with span("checkpoint.first_half"):
            first.run(spark, unit, max_buckets=N_BUCKETS // 2)
        resumed = CheckpointedRun(out_dir, n_buckets=N_BUCKETS, run_id="resume")
        with span("checkpoint.resume"):
            resumed.run(spark, unit)
        with span("checkpoint.result"):
            merged = resumed.result(spark).toPandas()
        with span("image_pipeline.pip"):
            geo = image_pipeline.with_geotag(images)
            pip = image_pipeline.images_pip_join(spark, geo, self.index).toPandas()
        return {
            "dir": out_dir,
            "merged": merged,
            "lineage": resumed.lineage(),
            "pip": pip,
            "bytes": _dir_bytes(os.path.join(out_dir, "data")),
        }

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)

    def _geotags(self):
        t = pq.read_table(self.path, columns=["image_id", "phash"]).to_pandas()
        lat, lng = geotag_from_index(t["phash"].to_numpy(np.int64).astype(np.uint64))
        la, ln = np.radians(lat), np.radians(lng)
        xyz = np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], axis=1)
        return t["image_id"].to_numpy(object), lat, lng, xyz

    def span_metrics(self) -> dict[str, float]:
        med = self.tracer.median
        return {
            "sources.images_gen_rows_per_s": _rate(self.n, med("sources.images_gen")),
            "contains_join.index_build_s": med("contains_join.index_build"),
            "image_pipeline.pip_s": med("image_pipeline.pip", "iteration"),
            "checkpoint.resume_s": med("checkpoint.resume", "iteration"),
        }

    def expected(self) -> None:
        self.single_pass = self._single_pass()
        ids, _, _, xyz = self._geotags()
        self.exp_pairs = oracles.pip_pairs(xyz, ids, self.specs)

    def check(self, out: dict) -> dict[str, list[str]]:
        merged = oracles.merge_bucket_tiles(out["merged"].drop(columns="bucket"), AUDIT_COL)
        return {
            "checkpointed_audit": oracles.check_image_audit(
                merged, self.single_pass, out["lineage"], self.n, N_BUCKETS, AUDIT_COL
            ),
            "images_pip_join": oracles.check_pip(out["pip"], self.exp_pairs, "images_pip_join"),
        }

    def probe(self, last: dict) -> dict[str, float]:
        m = {}
        m["image_pipeline.audit_rows_per_s"] = _rate(self.n, _timed(self._single_pass, reps=1))
        walls = [r["wall_s"] for r in last["lineage"]]
        m["checkpoint.bucket_s"] = statistics.median(walls)
        buckets = [r["bucket"] for r in last["lineage"]]
        m["checkpoint.redone_buckets"] = float(len(buckets) - len(set(buckets)))
        m["checkpoint.bytes_written"] = float(last["bytes"])
        ids, lat, lng, xyz = self._geotags()
        m["kernels.cellid.encode_per_s"] = _rate(
            len(lat), _timed(lambda: cellid.from_latlng_degrees(lat, lng))
        )
        m["kernels.predicates.contains_per_s"] = self._pip_probe(xyz, ids)
        m["kernels.coverer.covering_ms"] = self._covering_ms()
        blobs = pq.read_table(self.path, columns=["bytes"]).column(0).to_pylist()[:256]
        m["kernels.imagecodec.decode_per_s"] = _rate(
            len(blobs), _timed(lambda: [imagecodec.decode(b) for b in blobs])
        )
        return m


WORKLOADS = {w.name: w for w in (TileJoin, ImageAuditResume)}
