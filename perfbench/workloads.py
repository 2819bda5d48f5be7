"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

Each workload object is built from ``(seed, scale, workdir)`` and offers:

- ``prepare(spark, cores)``: write the seeded input tables under
  ``workdir`` (once per seed) and compute the expected outputs. Not part
  of ``setup_s``.
- ``register(spark)``: bind the inputs as DataFrames of a (new) session.
- ``steps``: the ordered ``(name, fn)`` actions of one pass. Each ``fn(spark)``
  runs one Spark action to completion and returns its collected output.
- ``check(step, out)``: a list of failure messages (empty when correct),
  computed against a single-process NumPy replay of the same inputs.
- ``items_per_pass``: the input units one pass consumes (images or tiles).
- ``warm_seconds``: untimed passes after the first, until the JVM has
  compiled the pass's hot paths and pass walls stop falling.
- ``sample_tiles()``: a sample of the encoded input tiles, for the traced
  run's per-unit codec and grid costs.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from raster_functions_spark import codec, fixtures, grid, pipeline
from raster_functions_spark.operators import focal, stack, zonal
from raster_functions_spark.plans import chain


def _seed_table(path: str, write) -> None:
    """Write a seeded input table once; drop tables of other seeds so the
    work directory stays bounded."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    parent = os.path.dirname(path)
    if os.path.isdir(parent):
        for old in os.listdir(parent):
            shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
    write(path)


def _inside(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon over an open ring (the oracle's own copy,
    with the half-open edge rule the engine documents)."""
    inside = np.zeros(px.shape, bool)
    for i in range(rx.size):
        x0, y0, x1, y1 = rx[i], ry[i], rx[(i + 1) % rx.size], ry[(i + 1) % ry.size]
        crosses = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (px < xint)
    return inside


def check_flagship(rows, expected: dict[int, tuple[int, int]]) -> list[str]:
    """Flagship output against the replay: per-AOI image counts, no
    undecodable payload, and the per-AOI max phash distance."""
    got = {int(r["aoi_id"]): r for r in rows}
    if set(got) != set(expected):
        return [f"AOI set differs from the PIP replay: {sorted(set(got) ^ set(expected))[:5]}"]
    for k, (n, ham) in expected.items():
        r = got[k]
        if (r["n_images"], r["n_bad"], r["max_phash_ham"]) != (n, 0, ham):
            return [f"aoi {k}: (n_images, n_bad, max_phash_ham) = "
                    f"{(r['n_images'], r['n_bad'], r['max_phash_ham'])}, want {(n, 0, ham)}"]
    return []


class Flagship:
    """decode → cell → broadcast PIP → zonal over a stored image+caption
    table: the paper's headline job, one long action per pass."""

    name = "flagship"
    n_aoi = 200
    warm_seconds = 10.0   # walls fall for about five passes after the first

    def __init__(self, seed: int, scale: float, workdir: str):
        self.n_images = max(64, int(round(3000 * scale)))
        # fixtures are pure functions of the row index: the seed picks a
        # disjoint index window, so every seed gets different images
        self.first = (seed % 1_000_003) * 1_000_000
        self.table = os.path.join(workdir, "tables", "flagship",
                                  f"seed{seed}_n{self.n_images}")
        self.items_per_pass = self.n_images
        self.steps = [("flagship", self._flagship)]

    def prepare(self, spark, cores: int) -> None:
        first, n = self.first, self.n_images

        def gen(batches):
            for pdf in batches:
                yield fixtures.images_pdf(pdf["id"].to_numpy())

        def write(path):
            (spark.range(first, first + n, 1, 2 * cores)
             .mapInPandas(gen, schema=fixtures.IMAGES_SCHEMA)
             .write.parquet(path))

        _seed_table(self.table, write)
        self.hams = self._hams()
        self.expected = self.replay(self.n_aoi)

    def register(self, spark) -> None:
        self.images = spark.read.parquet(self.table)
        self.aoi = fixtures.aoi_df(spark, self.n_aoi)

    def lonlat(self) -> np.ndarray:
        """The generator's own (lon, lat) of every image, in index order."""
        return np.array([fixtures.tile_lonlat(i)
                         for i in range(self.first, self.first + self.n_images)])

    def _hams(self) -> np.ndarray:
        """Expected phash distance of every image. The table stores the
        phash of the original pixels, so a lossless payload must decode to
        distance 0; a lossy (dct) one moves by what its decode moves,
        replayed here on the stored bytes."""
        t = pq.read_table(self.table, columns=["image_id", "bytes", "phash"],
                          filters=[("fmt", "=", "dct")]).to_pandas()
        ham = np.zeros(self.n_images, np.int64)
        for iid, b, h in zip(t["image_id"], t["bytes"], t["phash"]):
            px = codec.decode(bytes(b))
            ham[int(iid[3:]) - self.first] = codec.hamming64(codec.phash64(px), int(h))
        return ham

    def replay(self, n_aoi: int) -> dict[int, tuple[int, int]]:
        """Per-AOI (image count, max phash distance): single-process PIP
        over the generator's lon/lat, with a bbox prefilter."""
        ll = self.lonlat()
        out = {}
        for k in range(n_aoi):
            rx, ry = fixtures.aoi_ring(k)
            near = np.nonzero((ll[:, 0] >= rx.min()) & (ll[:, 0] <= rx.max())
                              & (ll[:, 1] >= ry.min()) & (ll[:, 1] <= ry.max()))[0]
            hit = near[_inside(ll[near, 0], ll[near, 1], rx, ry)]
            if hit.size:
                out[k] = (int(hit.size), int(self.hams[hit].max()))
        return out

    def _flagship(self, spark):
        return pipeline.flagship(spark, self.images, self.aoi).collect()

    def check(self, step: str, rows) -> list[str]:
        return check_flagship(rows, self.expected)

    def sample_tiles(self, k: int, seed: int) -> pd.DataFrame:
        t = pq.read_table(self.table, columns=["bytes", "phash", "lon", "lat"]).to_pandas()
        idx = np.random.default_rng(seed).choice(len(t), size=min(k, len(t)), replace=False)
        return t.iloc[np.sort(idx)].reset_index(drop=True)


class TileChain:
    """The tile→tile path: a DEM scene through hillshade → stretch with a
    halo shuffle and re-encoded tiles, per-pixel zonal statistics over a
    cell-derived zone band, and a QA-masked median over a time stack."""

    name = "tile_chain"
    warm_seconds = 4.0    # walls are flat from the second pass on
    tile = 32
    n_zones = 20
    zone_res = 15
    n_times = 12
    chain_spec = [{"op": "hillshade", "args": {"geographic": True}},
                  {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                             "out_min": 0, "out_max": 1}}]

    def __init__(self, seed: int, scale: float, workdir: str):
        self.side = max(2, int(round(12 * math.sqrt(scale))))
        self.n_scenes = max(2, int(round(16 * scale)))
        self.seed = seed
        # the seed shifts the crop window on the analytic DEM and the
        # stack's scene ids, so every seed gets different pixels
        self.off_x = seed % 96
        self.off_y = (seed // 96) % 80
        self.lon0 = -170.0 + (seed % 3400) / 10.0
        self.lat0 = 80.0 - (seed % 1600) / 10.0
        tag = f"seed{seed}_s{self.side}_k{self.n_scenes}"
        self.dem_path = os.path.join(workdir, "tables", "tile_dem", tag)
        self.stack_path = os.path.join(workdir, "tables", "tile_stack", tag)
        n_tiles = self.side * self.side
        self.items_per_pass = 2 * n_tiles + self.n_scenes * self.n_times
        self.steps = [("chain", self._chain), ("zonal", self._zonal),
                      ("stack", self._stack)]

    # ------------------------------------------------------------ inputs --
    def _scene(self) -> np.ndarray:
        t, s = self.tile, self.side
        full = fixtures.dem_scene(s + 4, s + 4, t)
        return full[self.off_y:self.off_y + s * t, self.off_x:self.off_x + s * t]

    def _dem_pdf(self) -> pd.DataFrame:
        z, t = self._scene(), self.tile
        rows = []
        for ty in range(self.side):
            for tx in range(self.side):
                px = np.ascontiguousarray(z[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t])
                rows.append({"scene_id": "dem", "tx": tx, "ty": ty, "w": t, "h": t,
                             "fmt": "zlib", "bytes": codec.encode(px[None], "zlib"),
                             "cell_dx": fixtures.CELL_DEG, "cell_dy": fixtures.CELL_DEG,
                             "xmin": self.lon0 + tx * t * fixtures.CELL_DEG,
                             "ymax": self.lat0 - ty * t * fixtures.CELL_DEG})
        return pd.DataFrame(rows)

    def _scene_ids(self) -> list[int]:
        return [(self.seed % 100_000) * 100 + s for s in range(self.n_scenes)]

    def prepare(self, spark, cores: int) -> None:
        def writer(make_pdf):
            def write(path):
                (spark.createDataFrame(make_pdf()).repartition(2 * cores)
                 .write.parquet(path))
            return write

        _seed_table(self.dem_path, writer(self._dem_pdf))
        _seed_table(self.stack_path, writer(
            lambda: fixtures.stack_images_pdf(self._scene_ids(), self.n_times, self.tile)))
        self.expected_chain = None     # filled from the first checked output
        self.want_shade = self._replay_chain()
        self.want_zones = self._replay_zonal()
        self.want_median = self._replay_stack()

    def register(self, spark) -> None:
        self.dem = spark.read.parquet(self.dem_path)
        self.stack = spark.read.parquet(self.stack_path)

    # ------------------------------------------------------------- steps --
    def _chain(self, spark):
        out = chain.build_chain(self.dem, self.chain_spec, fmt_out="zlib")
        return out.select("tx", "ty", "bytes").toPandas()

    def zonal_df(self):
        return zonal.zonal_statistics_px(
            self.dem, zonal.zone_band_from_cells(self.zone_res, self.n_zones),
            value_band=0, zone_band=1,
            meta_cols=("xmin", "ymax", "cell_dx", "cell_dy"))

    def _zonal(self, spark):
        return self.zonal_df().collect()

    def _stack(self, spark):
        med = stack.stack_composite(self.stack, "median", qa_band=1,
                                    clear_values=fixtures.QA_CLEAR_C1)
        return med.select("scene_id", "bytes", "n_rasters").toPandas()

    # ----------------------------------------------------------- oracles --
    def _replay_chain(self) -> np.ndarray:
        z = self._scene().astype(np.float64)
        dx, dy = focal.effective_cellsize(fixtures.CELL_DEG, geographic=True)
        shade = focal.hillshade_np(np.pad(z, 1, mode="edge"), dx, cellsize_y=dy)
        return np.clip(shade.astype(np.float64) / 255.0, 0.0, 1.0).astype(np.float32)

    def _replay_zonal(self) -> dict[int, tuple[int, float]]:
        s, t, d = self.side, self.tile, fixtures.CELL_DEG
        z = self._scene().astype(np.float64)
        # pixel centres of every tile, exactly as each tile derives them
        cols = np.arange(s * t)
        lon = self.lon0 + (cols // t) * t * d + (cols % t + 0.5) * d
        lat = self.lat0 - (cols // t) * t * d - (cols % t + 0.5) * d
        glon, glat = np.meshgrid(lon, lat)
        cells = grid.encode_np(glon.ravel(), glat.ravel(), self.zone_res)
        zone = (cells >> grid.RES_BITS) % self.n_zones + 1
        n = np.bincount(zone, minlength=self.n_zones + 1)
        tot = np.bincount(zone, weights=z.ravel(), minlength=self.n_zones + 1)
        return {int(k): (int(n[k]), float(tot[k])) for k in np.nonzero(n)[0]}

    def _replay_stack(self) -> dict[str, np.ndarray]:
        pdf = fixtures.stack_images_pdf(self._scene_ids(), self.n_times, self.tile)
        out = {}
        for sid, g in pdf.groupby("scene_id"):
            st = np.stack([codec.decode(bytes(b)) for b in g["bytes"]])
            clear = np.isin(st[:, 1], fixtures.QA_CLEAR_C1)
            vals = np.where(clear, st[:, 0].astype(np.float64), np.nan)
            with np.errstate(all="ignore"):
                out[sid] = np.nanmedian(vals, axis=0).astype(np.float32)
        return out

    def check(self, step: str, out) -> list[str]:
        return getattr(self, f"_check_{step}")(out)

    def _check_chain(self, pdf: pd.DataFrame) -> list[str]:
        if len(pdf) != self.side * self.side:
            return [f"chain: {len(pdf)} tiles, want {self.side * self.side}"]
        pdf = pdf.sort_values(["ty", "tx"]).reset_index(drop=True)
        blobs = [bytes(b) for b in pdf["bytes"]]
        if self.expected_chain is not None:
            # later passes must reproduce the verified output byte for byte
            return [] if blobs == self.expected_chain else ["chain: output bytes changed"]
        t = self.tile
        for (tx, ty), b in zip(zip(pdf["tx"], pdf["ty"]), blobs):
            want = self.want_shade[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
            got = codec.decode(b)[0]
            if got.shape != want.shape or not np.allclose(got, want, atol=1e-6):
                return [f"chain: tile ({tx},{ty}) differs from the whole-scene hillshade"]
        self.expected_chain = blobs
        return []

    def _check_zonal(self, rows) -> list[str]:
        got = {int(r["zone"]): (int(r["n"]), float(r["sum"])) for r in rows}
        if set(got) != set(self.want_zones):
            return [f"zonal: zones {sorted(got)} != {sorted(self.want_zones)}"]
        for k, (n, tot) in self.want_zones.items():
            gn, gtot = got[k]
            if gn != n or not math.isclose(gtot, tot, rel_tol=1e-9, abs_tol=1e-6):
                return [f"zonal: zone {k} got n={gn} sum={gtot}, want n={n} sum={tot}"]
        return []

    def _check_stack(self, pdf: pd.DataFrame) -> list[str]:
        if set(pdf["scene_id"]) != set(self.want_median):
            return ["stack: scene set differs"]
        for sid, b, n in zip(pdf["scene_id"], pdf["bytes"], pdf["n_rasters"]):
            got = codec.decode(bytes(b))[0]
            if n != self.n_times or not np.array_equal(got, self.want_median[sid],
                                                       equal_nan=True):
                return [f"stack: scene {sid} median differs"]
        return []

    def sample_tiles(self, k: int, seed: int) -> pd.DataFrame:
        t = pq.read_table(self.dem_path, columns=["bytes", "xmin", "ymax"]).to_pandas()
        idx = np.random.default_rng(seed).choice(len(t), size=min(k, len(t)), replace=False)
        return t.iloc[np.sort(idx)].reset_index(drop=True)


WORKLOADS = {w.name: w for w in (Flagship, TileChain)}
