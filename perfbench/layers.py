"""Per-layer metrics of the traced run.

Per-unit costs (codec, grid, PIP) come from calling the layers' public
functions on a sample of the workload's own generated inputs. Stage times,
shuffle bytes and task counts come from Spark's event log, matched to the
job group the benchmark set around every step. A layer that a workload
never calls reports 0. BENCHMARK.json names every metric and its unit.
"""

from __future__ import annotations

import statistics

import numpy as np
import pandas as pd

from raster_functions_spark import codec, fixtures, grid, pipeline, spatial
import workloads
from tracing import per_unit_us

LARGE_AOI = 12000      # above pipeline's broadcast threshold of 10 000
SAMPLE = 256


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _step_stages(stages_by_group, pass_groups, step: str) -> list[list[dict]]:
    """Per pass, the stages of that pass's ``step`` job group."""
    return [stages_by_group.get(g, []) for groups in pass_groups
            for g in groups if g.endswith("/" + step)]


def codec_grid(sample: pd.DataFrame, lon: np.ndarray, lat: np.ndarray,
               res: int, encode_fmt: str | None) -> dict[str, float]:
    bufs = [bytes(b) for b in sample["bytes"]]
    pxs = [codec.decode(b) for b in bufs]
    fmts = [encode_fmt or codec.peek_header(b)["fmt"] for b in bufs]
    reps = max(1, 100_000 // lon.size)
    glon, glat = np.tile(lon, reps), np.tile(lat, reps)
    return {
        "codec.decode_us": per_unit_us(codec.decode, bufs),
        "codec.phash64_us": per_unit_us(codec.phash64, pxs),
        "codec.encode_us": per_unit_us(lambda i: codec.encode(pxs[i], fmts[i]),
                                       range(len(pxs))),
        "codec.bytes_per_image": float(np.mean([len(b) for b in bufs])),
        "grid.encode_np_ns": per_unit_us(lambda _: grid.encode_np(glon, glat, res),
                                         [0]) * 1e3 / glon.size,
    }


def flagship_live(spark, wl, tracer, seed: int) -> tuple[dict[str, float], list[str]]:
    """Flagship layer metrics that need the live session, plus the failures
    of the one traced partitioned-route action (checked like a pass)."""
    sample = wl.sample_tiles(SAMPLE, seed)
    x, y = sample["lon"].to_numpy(np.float64), sample["lat"].to_numpy(np.float64)
    out = codec_grid(sample, x, y, 7, None)

    with tracer.span("spatial.broadcast_aoi"):
        baoi = spatial.broadcast_aoi(spark, wl.aoi)
    a = baoi.value
    out["spatial.pip_assign_np_us"] = per_unit_us(
        lambda _: spatial.pip_assign_np(a, x, y), [0]) / x.size
    out["spatial.broadcast_aoi_s"] = _med(tracer.durations("spatial.broadcast_aoi"))
    out["pipeline.prepare_aoi_s"] = _med(tracer.durations("pipeline.prepare_aoi"))

    # the kernel body as one mapInPandas batch runs it, single process
    hashes = sample["phash"].to_numpy()

    def body(_):
        grid.encode_np(x, y, 7)
        for b, h in zip(sample["bytes"], hashes):
            px = codec.decode(bytes(b))
            codec.hamming64(codec.phash64(px), int(h))
            f = px.astype(np.float64)
            f.mean(), f.std()
        spatial.pip_assign_np(a, x, y)

    out["_body_s"] = per_unit_us(body, [0], 0.5) / 1e6 / len(sample)
    baoi.unpersist()

    # the partitioned route: same image table, more AOIs than the
    # broadcast threshold
    big = fixtures.aoi_df(spark, LARGE_AOI)
    with tracer.span("spatial.auto_cover_res_distributed") as sp:
        res = spatial.auto_cover_res_distributed(big)
    out["spatial.auto_cover_res_s"] = sp["end"] - sp["start"]
    spark.sparkContext.setJobGroup("trace/partitioned", "trace/partitioned")
    with tracer.span("pipeline.partitioned_flagship") as sp:
        rows = pipeline.flagship(spark, wl.images, big).collect()
    out["pipeline.partitioned_flagship_s"] = sp["end"] - sp["start"]
    errs = [f"partitioned flagship: {e}"
            for e in workloads.check_flagship(rows, wl.replay(LARGE_AOI))]
    cover = np.concatenate([spatial.polygon_cover_cells(*fixtures.aoi_ring(k), res)
                            for k in range(LARGE_AOI)])
    ll = wl.lonlat()
    cells = grid.encode_np(ll[:, 0], ll[:, 1], res)
    uc, cnt = np.unique(cover, return_counts=True)
    pos = np.clip(np.searchsorted(uc, cells), 0, uc.size - 1)
    cand = int(np.where(uc[pos] == cells, cnt[pos], 0).sum())
    out["spatial.cover_rows"] = float(cover.size)
    out["spatial.join_candidates"] = float(cand)
    out["spatial.refine_hit_ratio"] = sum(r["n_images"] for r in rows) / max(cand, 1)
    return out, errs


def flagship_log(live, wl, stages_by_group, pass_groups, cores: int) -> dict[str, float]:
    """Flagship stage times from the event log. The kernel stage is the
    scan stage (parquet → mapInPandas); the zonal aggregation is every
    later stage that reads the shuffle."""
    kernel, agg = [], []
    for st in _step_stages(stages_by_group, pass_groups, "flagship"):
        scans = [s for s in st if s["input_bytes"] > 0]
        if not scans:
            continue
        k = max(scans, key=lambda s: s["run_s"])
        kernel.append(k["wall_s"])
        agg.append(sum(s["wall_s"] for s in st
                       if s is not k and s["shuffle_read_bytes"] > 0))
    body_s = live.pop("_body_s")
    return {"pipeline.kernel_stage_s": _med(kernel),
            "pipeline.zonal_agg_stage_s": _med(agg),
            # ideal kernel wall (body cost spread over the cores) ÷ the
            # measured one: the rest is scan, Arrow and worker overhead
            "pipeline.kernel_body_share":
                body_s * wl.n_images / cores / _med(kernel) if kernel else 0.0}


def tile_chain_live(spark, wl, tracer, seed: int) -> tuple[dict[str, float], list[str]]:
    sample = wl.sample_tiles(32, seed)
    t, d = wl.tile, fixtures.CELL_DEG
    lon = np.concatenate([np.repeat(xm + (np.arange(t) + 0.5) * d, t) for xm in sample["xmin"]])
    lat = np.concatenate([np.tile(ym - (np.arange(t) + 0.5) * d, t) for ym in sample["ymax"]])
    out = codec_grid(sample, lon, lat, wl.zone_res, "zlib")
    out["chain.build_chain_s"] = _med(tracer.durations("step.chain"))
    out["zonal.zonal_statistics_px_s"] = _med(tracer.durations("step.zonal"))
    out["stack.stack_composite_s"] = _med(tracer.durations("step.stack"))
    plan = wl.zonal_df()._jdf.queryExecution().executedPlan().toString()
    out["zonal.python_passes"] = float(plan.count("MapInPandas"))
    return out, []


def tile_chain_log(live, wl, stages_by_group, pass_groups, cores: int) -> dict[str, float]:
    def step_sum(step, key):
        return _med([sum(s[key] for s in st)
                     for st in _step_stages(stages_by_group, pass_groups, step)])

    # the chain's only shuffle is the focal halo exchange
    return {"focal.halo_msgs_per_tile":
                step_sum("chain", "shuffle_write_records") / (wl.side * wl.side),
            "focal.halo_shuffle_bytes": step_sum("chain", "shuffle_write_bytes"),
            "stack.shuffle_bytes": step_sum("stack", "shuffle_write_bytes")}


# workload → (metrics read from the live session, metrics read from the log)
LAYERS = {"flagship": (flagship_live, flagship_log),
          "tile_chain": (tile_chain_live, tile_chain_log)}
