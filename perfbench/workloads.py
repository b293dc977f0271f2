"""The benchmark's workloads.

Each workload is a closed loop with one caller: ``iterate`` runs one
job through the engine's public functions and returns when its output
is drained.  ``generate`` builds the inputs from the seed with the
engine's own generators (set-up, repeatable), ``check`` verifies the
outputs after the timed loop, and ``extras`` adds the per-layer
figures taken by calling a layer's public function on a sample.

The seed offsets the key range fed to the generators.  Offsets are
multiples of 10, so every seed keeps the generators' per-key patterns:
30% of points in the three hot cities, 10% ``q8`` images, and the
AOI fixture's holed and multi-part polygons.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mapchete_xarray_spark import cells, codecs, grid
from mapchete_xarray_spark.functions import portable
from mapchete_xarray_spark.functions.tiling import with_tile_columns
from mapchete_xarray_spark.geom import STRtree, points_in_polygon, polygon_bounds, wkb_rings
from mapchete_xarray_spark.operators.knn import knn_join
from mapchete_xarray_spark.operators.mosaic import candidate_tiles, materialize_tiles
from mapchete_xarray_spark.operators.pip import pip_join, pip_join_bruteforce
from mapchete_xarray_spark.sources import images as images_src
from mapchete_xarray_spark.sources.aoi import N_AOI, aoi_geometry, aoi_wkb
from mapchete_xarray_spark.sources.tiledir import TileDirConfig, TileDirectory

# every op a traced run reports, in this order
OPS = (
    "tiling.assign",
    "pip.join",
    "knn.join",
    "mosaic.candidates",
    "mosaic.paste",
    "tiledir.write",
    "tiledir.resume",
    "tiledir.tiles_exist",
    "tiledir.read_window",
    "tiledir.read_tile",
)


def _points(spark, start: int, n: int, parts: int, key: str = "key"):
    """n seeded points from the engine's portable synthesis SQL."""
    return spark.range(start, start + n, numPartitions=parts).select(
        F.col("id").alias(key),
        F.expr(portable.synth_lon_sql("id")).alias("lon"),
        F.expr(portable.synth_lat_sql("id")).alias("lat"),
    )


def _hot_share(keys: np.ndarray) -> float:
    return float(np.mean(keys % 10 < len(portable.HOT_CITIES)))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    name = ""
    # the closed loop runs at least this many iterations
    MIN_ITERATIONS: int

    def __init__(self, spark, seed: int, work: str, ledger, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.ledger = ledger
        self.tracer = tracer
        self.cores = spark.sparkContext.defaultParallelism
        self.off = (seed % 100_000) * 10_000_000
        self.rng = np.random.default_rng(seed)
        self.op_s: dict[str, list[float]] = {}

    @contextmanager
    def op(self, name: str):
        """One call into a layer: a span plus its own attempted/failed
        accounting.  A failure is recorded and the caller goes on."""
        t = time.perf_counter()
        with self.tracer.span(name) as sp, self.ledger.guard(name):
            yield sp
        self.op_s.setdefault(name, []).append(time.perf_counter() - t)

    def inputs(self) -> int:
        """Items one iteration consumes (points or images)."""
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def iterate(self) -> None:
        raise NotImplementedError

    def after_iteration(self) -> None:
        """Untimed clean-up between iterations."""

    def begin_measure(self) -> None:
        """Called once after the warm-up iteration."""

    def side_spans(self) -> None:
        """Traced run only, after each traced iteration and outside its
        timing: layer calls that run fused inside another op, each
        called on its own so it gets a span of its own."""

    def check(self) -> None:
        raise NotImplementedError

    def properties(self) -> dict:
        return {}

    def extras(self) -> dict:
        return {}


class TileAssign(Workload):
    """Points read from parquet, assigned to geodetic z5 and mercator z7
    tiles, per-tile counts drained.  All work is JVM tile math, scan and
    aggregation."""

    name = "tile_assign"
    N = 2_000_000
    GRIDS = (("geodetic", 5), ("mercator", 7))

    def inputs(self):
        return self.N

    def generate(self):
        self.path = os.path.join(self.work, "points")
        _points(self.spark, self.off, self.N, 2 * self.cores).write.mode(
            "overwrite"
        ).parquet(self.path)
        self.counts: dict[str, dict] = {}

    def iterate(self):
        pts = self.spark.read.parquet(self.path)
        for g, z in self.GRIDS:
            with self.op("tiling.assign") as sp:
                rows = (
                    with_tile_columns(pts, "lon", "lat", g, z)
                    .groupBy("tile_id")
                    .count()
                    .collect()
                )
                sp["rows_out"] = len(rows)
                counts = {r[0]: r[1] for r in rows}
                total = sum(counts.values())
                self.ledger.check(
                    "tiling.assign.count_sum", total == self.N, f"{g} z{z}: {total} != {self.N}"
                )
                first = self.counts.setdefault(g, counts)
                self.ledger.check(
                    "tiling.assign.repeatable", counts == first, f"{g} z{z} counts changed"
                )

    def check(self):
        keys = self.off + self.rng.choice(self.N, 400, replace=False)
        pts = self.spark.read.parquet(self.path).where(F.col("key").isin(keys.tolist()))
        for g, z in self.GRIDS:
            with self.ledger.guard("tiling.assign.sample_ids"):
                pdf = with_tile_columns(pts, "lon", "lat", g, z).toPandas()
                x, y = pdf.lon.to_numpy(), pdf.lat.to_numpy()
                if g == "mercator":
                    x, y = grid.lonlat_to_mercator(x, y)
                row, col = grid.tile_from_xy(grid.pyramid(g), x, y, z)
                want = cells.cell_id(np.full(len(row), z), row, col)
                bad = int((pdf.tile_id.to_numpy() != want).sum()) + len(keys) - len(pdf)
                self.ledger.check("tiling.assign.sample_ids", bad == 0, f"{g} z{z}: {bad} differ")

    def properties(self):
        return {"points": self.N, "hot_city_share": _hot_share(np.arange(self.off, self.off + self.N))}


class SpatialJoin(Workload):
    """Cached points: broadcast-STRtree PIP join against the AOI table,
    then cell-ring kNN for a few hundred query points."""

    name = "spatial_join"
    N = 150_000
    # enough queries that every seed has some in sparse cells, so every
    # seed takes the same number of kNN rounds (two); at 150 queries
    # some seeds took one round and ran the join twice as fast
    NQ = 500
    K = 8
    KNN_ZOOM = 8

    def inputs(self):
        return self.N

    def generate(self):
        for df in (getattr(self, "points", None), getattr(self, "queries", None)):
            if df is not None:
                df.unpersist()
        self.points = _points(self.spark, self.off, self.N, 2 * self.cores).persist()
        self.points.count()
        qoff = self.off + 5_000_000
        self.queries = _points(self.spark, qoff, self.NQ, 1, key="qkey").persist()
        self.queries.count()
        self.aoi = aoi_table(self.seed)
        self.pip_counts = None
        self.knn_rows = None
        self.knn_stats: dict = {}

    def iterate(self):
        with self.op("pip.join") as sp:
            rows = pip_join(self.points, self.aoi).groupBy("aoi_id").count().collect()
            sp["rows_out"] = sum(r[1] for r in rows)
            counts = {r[0]: r[1] for r in rows}
            self.pip_counts = self.pip_counts or counts
            self.ledger.check("pip.join.repeatable", counts == self.pip_counts, "hit counts changed")
        with self.op("knn.join") as sp:
            stats: dict = {}
            rows = knn_join(
                self.points, self.queries, k=self.K, zoom=self.KNN_ZOOM, stats=stats
            ).collect()
            sp["rows_out"] = len(rows)
            per_q = pd.Series([r.qkey for r in rows]).value_counts()
            ok = len(per_q) == self.NQ and bool((per_q == self.K).all())
            self.ledger.check("knn.join.k_rows", ok, "not exactly k rows per query")
            self.knn_rows, self.knn_stats = rows, stats

    def _sample(self, n: int) -> pd.DataFrame:
        keys = self.off + self.rng.choice(self.N, n, replace=False)
        return self.points.where(F.col("key").isin(keys.tolist())).toPandas()

    def check(self):
        with self.ledger.guard("pip.join.bruteforce"):
            sample = self._sample(2000)
            got = {
                (r.key, r.aoi_id)
                for r in pip_join(self.spark.createDataFrame(sample), self.aoi).collect()
            }
            want = pip_join_bruteforce(sample, self.aoi)
            self.ledger.check("pip.join.bruteforce", got == want, f"{len(got ^ want)} pairs differ")
        with self.ledger.guard("knn.join.bruteforce"):
            if self.knn_rows is None:
                raise RuntimeError("no kNN output to check")
            data = self.points.toPandas()
            qs = self.queries.toPandas()
            dk = data.key.to_numpy()
            for i in self.rng.choice(len(qs), 4, replace=False):
                q = qs.iloc[int(i)]
                dist = np.sqrt((data.lon.to_numpy() - q.lon) ** 2 + (data.lat.to_numpy() - q.lat) ** 2)
                want = dk[np.lexsort((dk, dist))[: self.K]].tolist()
                got = [r.key for r in sorted(
                    (r for r in self.knn_rows if r.qkey == q.qkey), key=lambda r: r.rn
                )]
                self.ledger.check("knn.join.bruteforce", got == want, f"query {q.qkey}")

    def properties(self):
        return {
            "points": self.N,
            "hot_city_share": _hot_share(np.arange(self.off, self.off + self.N)),
            "queries": self.NQ,
            "k": self.K,
            "aoi_polygons": len(self.aoi),
        }

    def extras(self):
        out = {
            "knn.join.rounds": self.knn_stats.get("rounds", 0),
            "knn.join.start_radius": self.knn_stats.get("start_radius", 0),
        }
        sample = self._sample(20_000)
        px, py = sample.lon.to_numpy(), sample.lat.to_numpy()
        tree = STRtree(self.aoi[["minx", "miny", "maxx", "maxy"]].to_numpy())
        p_idx, box_idx = tree.query_points(px, py)
        hits = 0
        for b in np.unique(box_idx):
            sel = p_idx[box_idx == b]
            hits += int(points_in_polygon(px[sel], py[sel], wkb_rings(self.aoi.wkb.iloc[b])).sum())
        out["geom.query.candidates_per_point"] = len(p_idx) / max(len(px), 1)
        out["geom.refine.hit_ratio"] = hits / max(len(p_idx), 1)
        return out


def aoi_table(seed: int) -> pd.DataFrame:
    """The 200-polygon AOI table: the three hot-city polygons plus 197
    seeded ones, as ``sources.aoi.aoi_pandas`` builds its rows."""
    first = 3 + (seed % 1000) * N_AOI
    rows = []
    for j in [0, 1, 2, *range(first, first + N_AOI - 3)]:
        parts = aoi_geometry(j)
        minx, miny, maxx, maxy = polygon_bounds([r for p in parts for r in p])
        rows.append((f"aoi{j:07d}", aoi_wkb(j), minx, miny, maxx, maxy))
    return pd.DataFrame(rows, columns=["aoi_id", "wkb", "minx", "miny", "maxx", "maxy"])


class Points(Workload):
    """Tile assignment, then the spatial joins, in one iteration.  No
    work reaches tiledir or the codecs."""

    name = "points"
    # ~3 s per iteration, with ~10% noise from one to the next; after the
    # warm-up the first is still ~1.2x the later ones (JIT)
    MIN_ITERATIONS = 6

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [TileAssign(*args), SpatialJoin(*args)]
        for p in self.parts:
            p.op_s = self.op_s

    def inputs(self):
        return sum(p.inputs() for p in self.parts)

    def generate(self):
        for p in self.parts:
            p.generate()

    def iterate(self):
        for p in self.parts:
            p.iterate()

    def check(self):
        for p in self.parts:
            p.check()

    def properties(self):
        return {p.name: p.properties() for p in self.parts}

    def extras(self):
        return {k: v for p in self.parts for k, v in p.extras().items()}


class Tiles(Workload):
    """Seeded images (90% raw, 10% q8) mosaicked at geodetic z6 and
    written into a fresh TileDirectory; then, against that sink, a
    continue-mode re-submit of the same job (which must write nothing),
    tiles_exist over the worklist, one bounded read drained, and
    single-tile lookups of written tiles plus one absent tile."""

    name = "tiles"
    # ~6 s per iteration: the first after the warm-up is still ~1.1x
    # the next, and the median of three is the steady one
    MIN_ITERATIONS = 3
    N_IMG = 160
    ZOOM = 6
    PYR = grid.GEODETIC
    BANDS = 3
    LOOKUPS = 2
    WINDOW = (13.0, 45.0, 20.0, 52.0)  # around the Vienna hot city

    def inputs(self):
        return self.N_IMG

    def generate(self):
        self.img_path = os.path.join(self.work, "images")

        def gen(batches):
            for b in batches:
                yield images_src._gen_batch(b["id"].to_numpy())

        df = self.spark.range(
            self.off, self.off + self.N_IMG, numPartitions=self.cores
        ).mapInPandas(gen, images_src.IMAGES_SCHEMA)
        images_src.with_geometry(df).write.mode("overwrite").parquet(self.img_path)
        self.images = self.spark.read.parquet(self.img_path)
        self._plan()
        self.n = 0
        self.latencies_ms: list[float] = []

    def _tiles(self):
        return materialize_tiles(self.images, self.PYR, self.ZOOM, bands=self.BANDS)

    def _plan(self):
        """Expected tiles, worklist, window rows and lookup picks, taken
        from the mosaic output rather than from a sink."""
        rows = self._tiles().select("tile_row", "tile_col").distinct().collect()
        self.written = {(int(r[0]), int(r[1])) for r in rows}
        (r0,), (c0,) = grid.tile_from_xy(self.PYR, [self.WINDOW[0]], [self.WINDOW[3]], self.ZOOM)
        (r1,), (c1,) = grid.tile_from_xy(self.PYR, [self.WINDOW[2]], [self.WINDOW[1]], self.ZOOM)
        inside = sum(r0 <= r <= r1 and c0 <= c <= c1 for r, c in self.written)
        self.window_rows = self.BANDS * inside
        # tiles_exist answers per storage chunk, so the absent tile is
        # taken from a chunk that holds no written tile
        ct = TileDirConfig(path="").chunk_tiles
        full = {(r // ct, c // ct) for r, c in self.written}
        cc = next(c for c in range(self.PYR.matrix_width(self.ZOOM) // ct) if (0, c) not in full)
        self.absent = (0, cc * ct)
        ordered = sorted(self.written)
        picks = self.rng.choice(len(ordered), self.LOOKUPS - 1, replace=False)
        self.picks = [ordered[int(i)] for i in picks] + [self.absent]
        if getattr(self, "worklist", None) is not None:
            self.worklist.unpersist()
        self.worklist = self.spark.createDataFrame(
            ordered + [self.absent], "tile_row long, tile_col long"
        ).persist()

    def begin_measure(self):
        self.latencies_ms = []

    def iterate(self):
        self.n += 1
        path = os.path.join(self.work, f"sink{self.n}")
        td = None
        with self.op("tiledir.write") as sp:
            td = TileDirectory(TileDirConfig(path=path, zoom=self.ZOOM, bands=self.BANDS))
            td.prepare()
            # the candidate explode and the paste run lazily inside write
            r = td.write(self._tiles())
            sp["rows_out"] = r["tiles"]
            self.written_tiles = r["tiles"]
            self.ledger.check(
                "tiledir.write.tile_count",
                r["tiles"] == len(self.written),
                f"{r['tiles']} != {len(self.written)}",
            )
        if td is None:
            return
        self.td = td
        with self.op("tiledir.resume") as sp:
            r = td.write(self._tiles(), mode="continue")
            sp["rows_out"] = r["tiles"]
            self.ledger.check("tiledir.resume.zero_chunks", r["chunks"] == 0, f"{r['chunks']} chunks")
        with self.op("tiledir.tiles_exist") as sp:
            rows = td.tiles_exist(self.worklist).collect()
            sp["rows_out"] = len(rows)
            exists = {(r.tile_row, r.tile_col) for r in rows if r.exists}
            ok = self.written <= exists and self.absent not in exists
            self.ledger.check("tiledir.tiles_exist.flags", ok, "written tile missing or absent tile present")
        with self.op("tiledir.read_window") as sp:
            row = (
                td.read(self.spark, bounds=self.WINDOW)
                .agg(F.count("*").alias("n"), F.sum(F.length("payload")).alias("b"))
                .collect()[0]
            )
            sp["rows_out"] = row.n
            self.ledger.check(
                "tiledir.read_window.rows", row.n == self.window_rows, f"{row.n} != {self.window_rows}"
            )
        for tile in self.picks:
            with self.op("tiledir.read_tile") as sp:
                t = time.perf_counter()
                arr = td.read_tile_array(self.spark, *tile)
                self.latencies_ms.append((time.perf_counter() - t) * 1e3)
                sp["rows_out"] = 1
                filled = bool((arr == 0).all())
                self.ledger.check(
                    "tiledir.read_tile.content", filled == (tile == self.absent), f"tile {tile}"
                )

    def side_spans(self):
        with self.op("mosaic.candidates") as sp:
            sp["rows_out"] = candidate_tiles(self.images, self.PYR, self.ZOOM).count()
            self.candidates = sp["rows_out"]
        with self.op("mosaic.paste") as sp:
            # drains the payloads, so the paste cannot be pruned away
            sp["rows_out"] = self._tiles().agg(F.count("*"), F.sum(F.length("payload"))).collect()[0][0]

    def after_iteration(self):
        if self.n > 1:
            shutil.rmtree(os.path.join(self.work, f"sink{self.n - 1}"), ignore_errors=True)

    def check(self):
        with self.ledger.guard("tiledir.sink.visible"):
            n = self.td.read(self.spark).count()
            want = self.BANDS * len(self.written)
            self.ledger.check("tiledir.sink.visible", n == want, f"{n} != {want} rows")

    def properties(self):
        idx = np.arange(self.off, self.off + self.N_IMG)
        fmts = images_src.image_fmt(idx)
        size, files = _dir_bytes(self.td.path)
        host_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        return {
            "images": self.N_IMG,
            "raw_share": float(np.mean(fmts == "raw")),
            "q8_share": float(np.mean(fmts == "q8")),
            "hot_city_share": _hot_share(idx),
            "tiles": len(self.written),
            "sink_bytes": size,
            "sink_files": files,
            "sink_share_of_host_ram": size / host_bytes,
            "lookups_per_iteration": self.LOOKUPS,
        }

    def extras(self):
        size, files = _dir_bytes(self.td.path)
        payload = self.written_tiles * self.BANDS * self.PYR.tile_size**2
        lat = sorted(self.latencies_ms)
        n = len(lat)
        # the highest percentile with at least ten samples beyond it;
        # with ten samples or fewer there is none, and the maximum is
        # reported at 100%
        i = n - 11 if n > 10 else n - 1
        out = {
            "tiledir.write.files": files,
            "tiledir.write.stored_bytes_per_payload_byte": size / max(payload, 1),
            "mosaic.candidates.per_image": getattr(self, "candidates", 0) / self.N_IMG,
            "tiledir.read_tile.p50_ms": statistics.median(lat) if n else 0.0,
            "tiledir.read_tile.tail_ms": lat[i] if n else 0.0,
            "tiledir.read_tile.tail_pct": 100.0 * (i + 1) / n if n else 0.0,
            "tiledir.read_tile.samples": n,
        }
        sample = images_src._gen_batch(np.arange(self.off, self.off + 2))
        for fmt in ("raw", "q8"):
            r = sample[sample.fmt == fmt].iloc[0]
            reps = 200
            t = time.perf_counter()
            for _ in range(reps):
                codecs.decode_image(r.bytes, int(r.w), int(r.h), fmt)
            out[f"codecs.decode.{fmt}_us"] = (time.perf_counter() - t) / reps * 1e6
        return out


WORKLOADS = {w.name: w for w in (Points, Tiles)}
