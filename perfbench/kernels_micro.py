"""Kernel microbench: the engine's geometry and text kernels timed in this
process, outside Spark, on inputs captured from a workload. Each result is
time per unit of work plus the operation counts that define the unit."""

from __future__ import annotations

import statistics
import time

import numpy as np

from geopull_spark.kernels import cells, overlay, pointops, polygonize, texthash, wkb
from geopull_spark.kernels.clip import clip_segments_to_polygons
from geopull_spark.operators.spatial_join import INDEX_RES


def _per_call(fn, budget_s: float = 0.4, max_calls: int = 25) -> float:
    """Median seconds per call of ``fn`` over repeated calls."""
    fn()  # warm caches and lazy imports
    times: list[float] = []
    t_end = time.perf_counter() + budget_s
    while len(times) < 3 or (time.perf_counter() < t_end and len(times) < max_calls):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def world_kernels(cap: dict) -> tuple[dict, dict]:
    """polygonize, overlay and WKB on one region of the world."""
    land = [p for b in cap["land"] for p in wkb.get_parts(wkb.loads(b)) if p[0] == "Polygon"]
    lines = [wkb.loads(b) for b in cap["lines"]]

    def polygonize_blocks():
        # the blocker's kernel sequence: clip lines to land, add the land
        # rings as enclosure, node, extract faces
        clipped = clip_segments_to_polygons(polygonize.geoms_to_segments(lines), land)
        ring_segs = polygonize.geoms_to_segments([("LineString", rings[0]) for _, rings in land])
        segs = np.vstack([clipped, ring_segs]) if len(clipped) else ring_segs
        return polygonize.extract_faces(polygonize.node_segments(segs))

    water = [wkb.loads(b) for b in cap["water"]]

    def normalize_overlay():
        return overlay.overlay(overlay.dissolve(cap["admin"]), water, "difference")

    def wkb_roundtrip():
        for b in cap["blocks"]:
            wkb.dumps(wkb.loads(b))

    n_faces = len(polygonize_blocks())
    polys = [p for g in [wkb.loads(b) for b in cap["admin"]] + water for p in wkb.get_parts(g)]
    n_vertices = sum(len(r) for _, rings in polys for r in rings)
    n_geoms = len(cap["blocks"])
    metrics = {
        "kernel.polygonize.us_per_block": _per_call(polygonize_blocks) / n_faces * 1e6,
        "kernel.overlay.us_per_vertex": _per_call(normalize_overlay) / n_vertices * 1e6,
        "kernel.wkb.us_per_geom": _per_call(wkb_roundtrip) / n_geoms * 1e6,
    }
    counts = {"polygonize.faces": n_faces, "polygonize.line_segments": len(polygonize.geoms_to_segments(lines)),
              "overlay.vertices": n_vertices, "wkb.geoms": n_geoms,
              "wkb.bytes": sum(len(b) for b in cap["blocks"])}
    return metrics, counts


def point_kernels(cap: dict) -> tuple[dict, dict]:
    """Cell ids and the vectorised point-in-polygon refine, on captured doc
    points against the blocks whose bounding box holds them."""
    lon, lat, bs = cap["lon"], cap["lat"], cap["blockset"]
    pts, gids = [], []
    for g, (x0, y0, x1, y1) in enumerate(bs.boxes):
        idx = np.flatnonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
        pts.append(idx)
        gids.append(np.full(len(idx), g, dtype=np.int64))
    pt, gid = np.concatenate(pts), np.concatenate(gids)
    soup = pointops.build_edge_soup([("Polygon", rings) for rings in bs.rings])
    px, py = lon[pt], lat[pt]
    edges_per_geom = np.diff(soup[4])
    metrics = {
        "kernel.pointops.ns_per_candidate": _per_call(lambda: pointops.points_in_geoms(px, py, gid, soup)) / len(pt) * 1e9,
        "kernel.pointops.edge_tests": float(edges_per_geom[gid].sum()),
        "kernel.cells.ns_per_point": _per_call(lambda: cells.cell_id(lon, lat, INDEX_RES)) / len(lon) * 1e9,
    }
    return metrics, {"pointops.candidates": len(pt), "cells.points": len(lon)}


def text_kernels(cap: dict) -> tuple[dict, dict]:
    datas = [t.encode("utf-8") for t in cap["texts"]]
    per = _per_call(lambda: texthash.minhash_bands_batch(datas, 8, 8))
    return ({"kernel.texthash.us_per_doc": per / len(datas) * 1e6},
            {"texthash.docs": len(datas), "texthash.bytes": sum(map(len, datas))})


def run(cap: dict) -> tuple[dict, dict]:
    """Every kernel whose inputs ``cap`` holds."""
    metrics, counts = {}, {}
    for key, fn in (("land", world_kernels), ("lon", point_kernels), ("texts", text_kernels)):
        if key in cap:
            m, c = fn(cap)
            metrics.update(m)
            counts.update(c)
    return metrics, counts
