"""Independent output checks.

Nothing here imports ``geopull_spark``: the point-in-polygon reference is a
plain even-odd ray cast over a WKB parser written for this file, so a defect
in the engine's kernels cannot hide itself by also being in the check.
"""

from __future__ import annotations

import struct

import numpy as np


class CheckFailed(AssertionError):
    """An output check found a wrong result."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- WKB ----------------------------------------------------------------------

def wkb_rings(buf: bytes) -> list[np.ndarray]:
    """All rings of a 2-D Polygon / MultiPolygon WKB as (n, 2) arrays."""
    rings: list[np.ndarray] = []
    _read_geom(memoryview(bytes(buf)), 0, rings)
    return rings


def _read_geom(buf: memoryview, pos: int, rings: list) -> int:
    endian = "<" if buf[pos] == 1 else ">"
    (code,) = struct.unpack_from(endian + "I", buf, pos + 1)
    pos += 5
    if code == 3:
        (n_rings,) = struct.unpack_from(endian + "I", buf, pos)
        pos += 4
        for _ in range(n_rings):
            (n,) = struct.unpack_from(endian + "I", buf, pos)
            pos += 4
            xy = np.frombuffer(buf, dtype=endian + "f8", count=2 * n, offset=pos)
            rings.append(xy.reshape(n, 2).astype(np.float64))
            pos += 16 * n
        return pos
    if code == 6:
        (n_parts,) = struct.unpack_from(endian + "I", buf, pos)
        pos += 4
        for _ in range(n_parts):
            pos = _read_geom(buf, pos, rings)
        return pos
    raise CheckFailed(f"block geometry has WKB type {code}, expected a polygon")


# -- point in polygon ---------------------------------------------------------

class BlockSet:
    """Blocks as ring lists plus bounding boxes, for brute-force assignment."""

    def __init__(self, block_ids: list[str], wkbs: list[bytes]):
        order = np.argsort(np.asarray(block_ids, dtype=object))
        self.ids = [block_ids[i] for i in order]  # ascending: first hit wins
        self.rings = [wkb_rings(wkbs[i]) for i in order]
        boxes = []
        for rs in self.rings:
            allv = np.vstack(rs)
            boxes.append((allv[:, 0].min(), allv[:, 1].min(), allv[:, 0].max(), allv[:, 1].max()))
        self.boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)

    def assign(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        """Index into ``ids`` of the min block_id whose polygon contains each
        point (even-odd rule over all rings), or -1."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        out = np.full(len(lon), -1, dtype=np.int64)
        order = np.argsort(lon, kind="stable")
        slon = lon[order]
        for b, (x0, y0, x1, y1) in enumerate(self.boxes):
            lo = np.searchsorted(slon, x0, side="left")
            hi = np.searchsorted(slon, x1, side="right")
            cand = order[lo:hi]
            cand = cand[(lat[cand] >= y0) & (lat[cand] <= y1) & (out[cand] < 0)]
            if len(cand) == 0:
                continue
            inside = ray_cast(lon[cand], lat[cand], self.rings[b])
            out[cand[inside]] = b
        return out

    def block_id(self, idx: int) -> str | None:
        return None if idx < 0 else self.ids[idx]


def ray_cast(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd crossing count of a rightward ray from each point."""
    crossings = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        for j in range(len(x0)):
            straddle = (y0[j] > py) != (y1[j] > py)
            if not straddle.any():
                continue
            xs = x0[j] + (py - y0[j]) * (x1[j] - x0[j]) / np.where(y1[j] == y0[j], 1.0, y1[j] - y0[j])
            crossings += straddle & (px < xs)
    return (crossings % 2).astype(bool)

