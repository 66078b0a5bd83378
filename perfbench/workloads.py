"""The workloads. Each calls only the engine's default public API.

A workload has ``setup`` (inputs and warm-up, all counted in ``setup_s``),
``timed`` (the closed loop that yields the end-to-end metrics),
``release`` and, for traced runs, ``ratios`` and ``kernel_inputs``. Every
output check raises :class:`checks.CheckFailed`.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geopull_spark.operators import blocker, dedup, extract, normalize, spatial_join
from geopull_spark.sources import synth
from geopull_spark.sources.manifest import SnapshotTable

from . import checks
from .checks import require

# Sizes. "full" is what the registered benchmark runs; "tiny" is for the
# smoke tests. WORLD_DIGEST pins the (block_id, geometry) digest of each
# world_build size: synth has no seed, so the world depends only on its size.
SIZES = {
    "full": {"world": (8, 200), "side_world": (4, 200), "batch_docs": 5_000, "dedup_docs": 1_000},
    "tiny": {"world": (2, 40), "side_world": (2, 40), "batch_docs": 500, "dedup_docs": 500},
}
WORLD_DIGEST = {(8, 200): "13d5b1bd109dd140", (2, 40): "d55577880af50792"}


@dataclass
class Ctx:
    spark: object
    cpus: int
    seed: int
    size: dict
    work: str
    tracer: object
    trace: bool
    seconds: float


@dataclass
class Timed:
    """What a timed loop produced."""
    metrics: dict
    attempted: int
    failed: int
    rep_walls: list
    detail: list


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far. On a virtual machine the
    load average shows only this machine's work; steal shows the co-tenants."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def closed_loop(ctx: Ctx, op, reps: int) -> list[dict]:
    """Run ``op`` ``reps`` times back to back. Each record carries ``ok``,
    the load average before and after, and the share of CPU time stolen by
    other tenants; an op that raises or fails its check is not ok.

    Rep counts follow from ``--seconds`` alone, never from how fast the reps
    go: the JVM is still speeding up over the first reps, so a time-bounded
    loop would move the median along that curve from run to run."""
    records = []
    while len(records) < reps:
        load0, (steal0, total0) = loadavg(), cpu_ticks()
        try:
            with ctx.tracer.span("rep"):
                rec = op()
            rec["ok"] = True
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            rec = {"ok": False}
        steal1, total1 = cpu_ticks()
        rec["load"] = [load0, loadavg()]
        rec["steal"] = (steal1 - steal0) / max(total1 - total0, 1)
        records.append(rec)
    return records


def _median(records: list[dict], key: str) -> float:
    vals = [r[key] for r in records if r["ok"]]
    return statistics.median(vals) if vals else 0.0


def _release(*frames) -> None:
    for df in frames:
        df.unpersist()


def _count(df) -> int:
    return df.persist().count()


# -- the block world ------------------------------------------------------------

@dataclass
class World:
    ways: object
    n_regions: int
    land: object
    blocks: object
    bc: object
    gc: object
    n_blocks: int
    frames: list


def gen_ways(ctx: Ctx, n_regions: int, streets: int):
    """osm_ways, with the rows of its partitions permuted by the seed."""
    ways = synth.gen_osm_ways(ctx.spark, streets_per_region=streets, n_regions=n_regions)
    ways = ways.repartition(2 * ctx.cpus, F.xxhash64("way_id", F.lit(ctx.seed)))
    _count(ways)
    return ways


def build_world(ctx: Ctx, ways, n_regions: int) -> World:
    """extract → normalize → build_blocks → cell index + refine geometry,
    each materialised. Traced runs split build_blocks into its two halves
    so the blocker's layers get a span each."""
    tr, spark = ctx.tracer, ctx.spark
    coast = synth.gen_coastline(spark, n_regions=n_regions)
    if ctx.trace:
        with tr.span("extract"):
            admin, water, lines = (extract.extract_admin(ways), extract.extract_water(ways),
                                   extract.extract_linestrings(ways))
            for df in (admin, water, lines):
                _count(df)
        with tr.span("normalize"):
            land = normalize.normalize_land(admin, water, coast)
            _count(land)
        with tr.span("blocker.pre"):
            pre = blocker.build_blocks_pre(land, lines)
            _count(pre)
        with tr.span("blocker.ids"):
            blocks = blocker.assign_block_ids(pre)
            n_blocks = _count(blocks)
        extra = [admin, water, lines, pre]
    else:
        land = normalize.normalize_land(extract.extract_admin(ways), extract.extract_water(ways), coast)
        _count(land)
        blocks = blocker.build_blocks(land, extract.extract_linestrings(ways))
        n_blocks = _count(blocks)
        extra = []
    with tr.span("spatial_join.index"):
        bc = spatial_join.build_block_cell_index(blocks)
        _count(bc)
    with tr.span("spatial_join.refine_geom"):
        gc = spatial_join.build_refine_geometry(blocks)
        _count(gc)
    return World(ways, n_regions, land, blocks, bc, gc, n_blocks, extra + [land, blocks, bc, gc])


def collect_blocks(world: World) -> tuple[list[str], list[bytes]]:
    rows = world.blocks.select("block_id", "geometry").collect()
    return [r[0] for r in rows], [bytes(r[1]) for r in rows]


def world_digest(ids: list[str], geoms: list[bytes]) -> str:
    h = hashlib.sha256()
    for bid, g in sorted(zip(ids, geoms)):
        h.update(bid.encode() + b"\0" + hashlib.sha256(g).digest())
    return h.hexdigest()[:16]


def check_world(ids: list[str], geoms: list[bytes], pinned: str) -> str:
    require(len(ids) > 0, "no blocks were built")
    require(len(set(ids)) == len(ids), f"block_id not unique: {len(ids) - len(set(ids))} repeats")
    d = world_digest(ids, geoms)
    require(d == pinned, f"world digest {d} != pinned {pinned}")
    return d


def gen_points(rng: np.random.Generator, n: int, n_regions: int) -> tuple[np.ndarray, np.ndarray]:
    """Points over the region boxes (2°-pitch row at the equator) with a 5%
    margin outside each box, so some docs fall in no block."""
    ridx = rng.integers(0, n_regions, n)
    lon = 2.0 * ridx + rng.uniform(-0.05, 1.05, n)
    lat = rng.uniform(-0.05, 1.05, n)
    return lon, lat


def side_world(ctx: Ctx) -> tuple[World, checks.BlockSet]:
    """The world doc workloads assign to, built in their set-up."""
    n_regions, streets = ctx.size["side_world"]
    world = build_world(ctx, gen_ways(ctx, n_regions, streets), n_regions)
    return world, checks.BlockSet(*collect_blocks(world))


def world_kernel_inputs(world: World) -> dict:
    """Region 0's admin (level 4), water, lines, land parts and blocks."""
    r0 = next(iter(synth.region_specs(world.n_regions)))

    def wkbs(df):
        return [bytes(r[0]) for r in df.filter(F.col("region_code") == r0).select("geometry").collect()]

    ways = world.ways
    return {
        "admin": wkbs(extract.extract_admin(ways).filter(F.col("admin_level") == "4")),
        "water": wkbs(extract.extract_water(ways)), "lines": wkbs(extract.extract_linestrings(ways)),
        "land": wkbs(world.land), "blocks": wkbs(world.blocks),
    }


def refine_ratios(ctx: Ctx, world: World, docs, n_docs: int, n_assigned: int) -> dict:
    """Assigned docs over cell-join candidate pairs, with the candidates
    counted from the public ``docs_with_cell`` and the cell index."""
    res_list = [r[0] for r in world.bc.select("cell_res").distinct().collect()]
    cand = 0
    for r in res_list:
        idx = world.bc.filter(F.col("cell_res") == r).select("cell")
        cand += spatial_join.docs_with_cell(docs, r).join(idx, "cell").count()
    return {
        "spatial_join.refine_hit_ratio": n_assigned / cand if cand else 0.0,
        "spatial_join.unassigned_frac": 1.0 - n_assigned / n_docs,
    }


# -- world_build ---------------------------------------------------------------

class WorldBuild:
    name = "world_build"

    def setup(self, ctx: Ctx) -> dict:
        n_regions, streets = ctx.size["world"]
        ways = gen_ways(ctx, n_regions, streets)
        for _ in range(2):  # one warm-up build leaves the next ones still speeding up
            warm = build_world(ctx, ways, n_regions)
            check_world(*collect_blocks(warm), WORLD_DIGEST[ctx.size["world"]])
            _release(*warm.frames)
        return {"ways": ways, "n_regions": n_regions}

    def release(self, state: dict) -> None:
        _release(state["ways"])

    def timed(self, ctx: Ctx, state: dict) -> Timed:
        pinned = WORLD_DIGEST[ctx.size["world"]]

        def op():
            t0 = time.perf_counter()
            world = build_world(ctx, state["ways"], state["n_regions"])
            wall = time.perf_counter() - t0
            try:
                reads = []
                for _ in range(3):  # one collect is ~0.1 s: too short to time once
                    t1 = time.perf_counter()
                    blocks = collect_blocks(world)
                    reads.append(time.perf_counter() - t1)
                digest = check_world(*blocks, pinned)
            finally:
                _release(*world.frames)
            return {"wall": wall, "items": world.n_blocks, "readback": statistics.median(reads),
                    "digest": digest}

        recs = closed_loop(ctx, op, reps=max(3, math.ceil(ctx.seconds / 3)))
        ok = [r for r in recs if r["ok"]]
        return Timed(
            {"items_per_s": statistics.median(r["items"] / r["wall"] for r in ok) if ok else 0.0,
             "op_p50_s": _median(recs, "wall"), "readback_s": _median(recs, "readback")},
            len(recs), len(recs) - len(ok), [r["wall"] for r in ok], recs)

    def ratios(self, ctx: Ctx, state: dict) -> dict:
        return {}

    def kernel_inputs(self, ctx: Ctx, state: dict) -> dict:
        world = build_world(ctx, state["ways"], state["n_regions"])
        try:
            return world_kernel_inputs(world)
        finally:
            _release(*world.frames)


# -- ingest_append -------------------------------------------------------------

def gen_corpus(seed: int, n_docs: int, copies: int) -> tuple[list[str], list[tuple[int, int]]]:
    """``n_docs`` texts in families of ``copies``: a base doc followed by
    near-duplicates with one word replaced. Returns the texts and the
    planted (base, copy) index pairs.

    Every word is a fresh random string, so docs of different families share
    no shingles. Each family is then one component, the dedup pass does the
    same rounds at every seed, and recovering the planted pairs is a real
    check. With a shared vocabulary the families chain into one giant
    component, whose size and rounds vary by seed and which holds every
    pair."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"

    def word() -> str:
        return "".join(rng.choices(letters, k=rng.randint(3, 9)))

    texts, planted = [], []
    for base in range(0, n_docs, copies):
        words = [word() for _ in range(rng.randint(30, 90))]
        texts.append(" ".join(words))
        for c in range(1, copies):
            w = list(words)
            w[rng.randrange(len(w))] = word()
            texts.append(" ".join(w))
            planted.append((base, base + c))
    return texts, planted


class IngestAppend:
    """Batches of documents are located (assign_docs_to_blocks) and stored
    (SnapshotTable.append); the table is then scanned, and the first
    ``dedup_docs`` documents of each timed batch are deduplicated
    (minhash_lsh_pairs, then connected_components)."""

    name = "ingest_append"
    copies = 10  # docs per near-duplicate family; divides batch_docs and dedup_docs
    warm_batches = 2  # the table's first commit and a first append

    @staticmethod
    def timed_batches(ctx: Ctx) -> int:
        """Fixed by the run length alone, which also gives every run's
        scans a table of the same shape."""
        return max(3, math.ceil(ctx.seconds / 4))

    def setup(self, ctx: Ctx) -> dict:
        world, blockset = side_world(ctx)
        per, per_dedup = ctx.size["batch_docs"], ctx.size["dedup_docs"]
        # docs for three timed loops: a traced run has two untraced ones too
        n = per * (self.warm_batches + 3 * self.timed_batches(ctx))
        rng = np.random.default_rng(ctx.seed)
        lon, lat = gen_points(rng, n, ctx.size["side_world"][0])
        texts, planted = gen_corpus(ctx.seed, n, self.copies)
        ids = np.array([f"d{i:09d}" for i in range(n)], dtype=object)
        batch = np.arange(n) // per
        in_dedup = np.arange(n) % per < per_dedup
        pdf = pd.DataFrame({"doc_id": ids, "lon": lon, "lat": lat, "batch": batch,
                            "in_dedup": in_dedup, "text": texts})
        docs = ctx.spark.createDataFrame(pdf).repartition(ctx.cpus * 4)
        _count(docs)
        hit = blockset.assign(lon, lat)
        state = {
            "world": world, "docs": docs, "per": per, "ids": ids, "batch": batch,
            "lon": lon, "lat": lat, "texts": texts, "blockset": blockset,
            "expected": {i: blockset.block_id(b) for i, b in zip(ids, hit) if b >= 0},
            "expected_rows": np.bincount(batch[hit >= 0], minlength=batch[-1] + 1),
            "per_dedup": per_dedup,
            "planted": [(ids[a], ids[b], batch[a]) for a, b in planted if in_dedup[a]],
            "table": SnapshotTable(os.path.join(ctx.work, "tables", f"ingest-{time.time_ns()}")),
            "next": self.warm_batches,  # the next batch to append
        }
        for b in range(self.warm_batches):
            self._batch(ctx, state, b)
        self._scan(ctx, state)
        self.dedup_pass(ctx, state, [0])
        return state

    def release(self, state: dict) -> None:
        _release(state["docs"], state["world"].ways, *state["world"].frames)
        shutil.rmtree(state["table"].root, ignore_errors=True)

    def _batch(self, ctx: Ctx, state: dict, b: int) -> dict:
        w = state["world"]
        batch_docs = state["docs"].filter(F.col("batch") == b).select("doc_id", "lon", "lat")
        t0 = time.perf_counter()
        with ctx.tracer.span("spatial_join.assign"):
            out = spatial_join.assign_docs_to_blocks(batch_docs, w.blocks, w.bc, geom_cells=w.gc)
            n_assigned = _count(out)
        with ctx.tracer.span("manifest.append"):
            state["table"].append(out, f"batch-{b}", lineage=[f"batch-{b}"])
        wall = time.perf_counter() - t0
        try:
            check_assignment(out, state, b, n_assigned)
        finally:
            _release(out)
        return {"wall": wall}

    def _scan(self, ctx: Ctx, state: dict) -> dict:
        """read_range over batch 0's doc ids, then a full read().count()."""
        table, spark, per = state["table"], ctx.spark, state["per"]
        t0 = time.perf_counter()
        with ctx.tracer.span("manifest.read_range"):
            n_range = table.read_range(spark, "doc_id", state["ids"][0], state["ids"][per - 1]).count()
        with ctx.tracer.span("manifest.read"):
            n_all = table.read(spark).count()
        wall = time.perf_counter() - t0
        want = state["expected_rows"][0]
        require(n_range == want, f"read_range saw {n_range} rows of batch 0, expected {want}")
        return {"wall": wall, "n_all": n_all}

    def dedup_pass(self, ctx: Ctx, state: dict, batches: list[int]) -> dict:
        """minhash_lsh_pairs then connected_components over the first
        ``dedup_docs`` docs of each of ``batches``; every planted pair among
        them must share a component."""
        docs = state["docs"].filter(F.col("batch").isin(batches) & F.col("in_dedup"))
        docs = docs.select("doc_id", "text")
        t0 = time.perf_counter()
        with ctx.tracer.span("dedup.minhash_lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(docs)
            n_pairs = _count(pairs)
        with ctx.tracer.span("dedup.connected_components"):
            cc = dedup.connected_components(pairs)
            _count(cc)
        wall = time.perf_counter() - t0
        try:
            comp = dict(cc.collect())
            want = [(a, b) for a, b, bt in state["planted"] if bt in batches]
            lost = [p for p in want if comp.get(p[0]) is None or comp.get(p[0]) != comp.get(p[1])]
            require(not lost, f"{len(lost)} of {len(want)} planted duplicate pairs not recovered, "
                              f"e.g. {lost[:3]}")
        finally:
            _release(pairs, cc)
        state["pairs_per_doc"] = n_pairs / (state["per_dedup"] * len(batches))
        return {"wall": wall}

    def timed(self, ctx: Ctx, state: dict) -> Timed:
        timed = list(range(state["next"], state["next"] + self.timed_batches(ctx)))
        state["next"] += len(timed)
        batches = iter(timed)
        t0 = time.perf_counter()
        recs = closed_loop(ctx, lambda: self._batch(ctx, state, next(batches)), reps=len(timed))
        loop_wall = time.perf_counter() - t0
        scans = closed_loop(ctx, lambda: self._scan(ctx, state), reps=6)
        dd = closed_loop(ctx, lambda: self.dedup_pass(ctx, state, timed), reps=1)
        ops = recs + scans + dd
        failed = sum(not r["ok"] for r in ops)
        try:
            self._check_table(ctx, state, state["next"], scans)
        except checks.CheckFailed:
            traceback.print_exc()
            failed = len(ops)
        n_ok = sum(r["ok"] for r in recs)
        return Timed(
            {"items_per_s": state["per"] * n_ok / (loop_wall + _median(dd, "wall")),
             "op_p50_s": _median(recs, "wall"), "readback_s": _median(scans, "wall")},
            len(ops), failed, [r["wall"] for r in recs if r["ok"]], ops)

    def _check_table(self, ctx: Ctx, state: dict, n_batches: int, scans: list) -> None:
        table = state["table"]
        want = int(state["expected_rows"][:n_batches].sum())
        rows = table.current_snapshot()["row_count"]
        require(rows == want, f"manifest row_count {rows} != {want} rows appended")
        links = len(table.history()) - 1
        require(links == n_batches - 1,
                f"snapshot chain has {links} links for {n_batches - 1} appends after the first commit")
        counts = [s["n_all"] for s in scans if s["ok"]]
        require(all(c == want for c in counts), f"read().count() gave {counts}, expected {want}")
        distinct = table.read(ctx.spark).select("doc_id").distinct().count()
        require(distinct == want, f"{want - distinct} duplicate doc_id values in the table")

    def ratios(self, ctx: Ctx, state: dict) -> dict:
        table = state["table"]
        # each snapshot's data_dir holds the files its batch wrote
        sizes = [sum(os.path.getsize(os.path.join(s["data_dir"], f)) for f in os.listdir(s["data_dir"])
                     if f.endswith(".parquet")) for s in table.history()]
        first = state["docs"].filter(F.col("batch") == 0).select("doc_id", "lon", "lat")
        out = refine_ratios(ctx, state["world"], first, state["per"], int(state["expected_rows"][0]))
        scan = table.last_scan
        out.update({
            "manifest.bytes_per_append": statistics.mean(sizes),
            "manifest.files_read_frac": scan["files_read"] / scan["files_total"],
            "dedup.pairs_per_doc": state["pairs_per_doc"],
        })
        return out

    def kernel_inputs(self, ctx: Ctx, state: dict) -> dict:
        k = min(50_000, len(state["lon"]))
        return {**world_kernel_inputs(state["world"]), "lon": state["lon"][:k],
                "lat": state["lat"][:k], "blockset": state["blockset"], "texts": state["texts"][:10_000]}


def check_assignment(out, state: dict, b: int, n_assigned: int) -> None:
    """Each doc of batch ``b`` is assigned at most once, and to the block
    brute-force ray casting picks (min block_id on ties), or to none."""
    got = out.select("doc_id", "block_id").collect()
    require(len(got) == n_assigned, f"count() gave {n_assigned} rows, collect() {len(got)}")
    got_map = dict(got)
    require(len(got_map) == len(got), f"{len(got) - len(got_map)} docs assigned more than once")
    ids = state["ids"][state["batch"] == b]
    exp = state["expected"]
    bad = [i for i in ids if got_map.get(i) != exp.get(i)]
    require(not bad, f"{len(bad)} of {len(ids)} docs of batch {b} assigned differently from "
                     f"brute force, e.g. {[(i, got_map.get(i), exp.get(i)) for i in bad[:3]]}")


WORKLOADS = {w.name: w for w in (WorldBuild, IngestAppend)}
