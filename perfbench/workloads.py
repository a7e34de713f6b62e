"""The three benchmark workloads. Each one derives every generator
parameter from the seed, persists its inputs to parquet during set-up,
runs one job per call and checks that job's output.

A job calls the package's public functions as a user would. Its traced
variant runs the same work one public stage per Spark action, each inside a
span, so the per-layer times add up to the job.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etf_topox_spark.operators import images as OI
from etf_topox_spark.operators import spatial as OS
from etf_topox_spark.operators import topology as OT
from etf_topox_spark.operators import topology_codes as codes
from etf_topox_spark.plans import lineage as PL
from etf_topox_spark.sources import images as SI
from etf_topox_spark.sources import mosaic as SM
from etf_topox_spark.sources.points import synthetic_points
from etf_topox_spark.sources.tables import load_table
from tracing import Tracer


def dir_bytes(path: str) -> int:
    """Bytes in a file, or in every file below a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


# Arrow twins of the sources' Spark schemas, for inputs written from the
# driver (sources.mosaic.RING_SCHEMA, sources.images.IMAGE_SCHEMA,
# sources.points.POINT_SCHEMA)
RING_ARROW = pa.schema([
    ("feature_id", pa.int64()), ("theme", pa.string()), ("ring_idx", pa.int32()),
    ("is_exterior", pa.bool_()), ("xs", pa.list_(pa.float64())),
    ("ys", pa.list_(pa.float64())),
])
IMAGE_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])
POINT_ARROW = pa.schema([("point_id", pa.int64()), ("x", pa.float64()), ("y", pa.float64())])


def write_parquet(pdf: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False)
    pq.write_table(table, path)


def read_col(path: str, col: str) -> np.ndarray:
    return pq.read_table(path, columns=[col]).column(col).to_numpy()


class Workload:
    """One workload: seeded plan in __init__, inputs in generate/load, one
    job per run(), its output judged by check()."""

    name = ""
    tables: tuple[str, ...] = ()
    rows = 0  # input rows one job processes (the rows_per_s numerator)
    # timed jobs per run, whatever --seconds says (one per half of a traced
    # run), so that the median stays clear of one slow job
    MIN_JOBS = 3

    def __init__(self, spark, seed: int, tracer: Tracer, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work_dir = work_dir
        self.input_dir = ""
        self.df: dict = {}

    def generate(self, out_dir: str) -> None:
        """Write every input table as {out_dir}/{table}.parquet."""
        raise NotImplementedError

    def load(self, input_dir: str) -> None:
        """Bind the persisted inputs through the source layer."""
        self.input_dir = input_dir
        self.df = {t: load_table(self.spark, input_dir, t) for t in self.tables}

    def scan_inputs(self) -> None:
        """Read every input column once through the source layer."""
        for df in self.df.values():
            df.write.format("noop").mode("overwrite").save()

    def input_bytes(self) -> int:
        return sum(dir_bytes(f"{self.input_dir}/{t}.parquet") for t in self.tables)

    def sizes(self) -> dict:
        return {}

    def run(self, traced: bool) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Problems found in one job's output; empty when it is correct."""
        raise NotImplementedError

    def cleanup(self, out: dict) -> None:
        pass


# --------------------------------------------------------------------------
# topology-validate
# --------------------------------------------------------------------------

TOPO_BLOCK = 10  # squares per block side
TOPO_CELL = 2.0
# defect class → error codes it adds when it fills one block of a larger
# valid mosaic (FIXTURES.md §2; the block placement was checked against the
# single-process oracle in tests/topology_oracle.py)
DEFECT_ERRORS = {
    "dup_boundary": {codes.DUPLICATE_BOUNDARY: 4},
    "self_intersect": {
        codes.RING_SELF_INTERSECTION: 1,
        codes.RING_ORIENTATION: 1,
        codes.OVERLAPPING_BOUNDARY: 1,
    },
    "free_standing": {codes.FREE_STANDING_SURFACE: 1},
    "hole_defect": {codes.EMPTY_INTERIOR: 1},
    "zero_edge": {codes.INVALID_EDGE: 1},
}


def block_rings(block_ids, blocks: int, origin, fid_base: int, classes) -> pd.DataFrame:
    """Rings of the given blocks. Each block is a sources.mosaic fixture of
    one DEFECTS class moved into place; neighbouring blocks share their
    edges exactly, so the grid is one surface body."""
    b = TOPO_BLOCK
    parts = []
    for k in block_ids.tolist():
        by, bx = divmod(k, blocks)
        ids = np.arange(SM.n_features(b, b, classes[k]), dtype=np.int64)
        pdf = SM.mosaic_rings(
            ids, b, b, classes[k], origin[0] + bx * b, origin[1] + by * b, "theme0"
        )
        pdf["feature_id"] += fid_base + k * (b * b + 1)
        parts.append(pdf)
    return pd.concat(parts, ignore_index=True)


class TopologyValidate(Workload):
    name = "topology-validate"
    tables = ("rings",)
    BLOCKS = 8  # BLOCKS × BLOCKS blocks of TOPO_BLOCK² unit squares
    DEFECTS = 6

    def __init__(self, *a):
        super().__init__(*a)
        rng = np.random.default_rng([self.seed, 0x70B0])
        n = self.BLOCKS * self.BLOCKS
        self.origin = rng.integers(-400, 400, 2).astype(np.float64)
        self.fid_base = int(rng.integers(0, 1 << 24))
        self.classes = np.array(["valid_mosaic"] * n, dtype=object)
        where = rng.choice(n, self.DEFECTS, replace=False)
        self.classes[where] = rng.choice(sorted(DEFECT_ERRORS), self.DEFECTS)
        self.expected = Counter()
        for c in self.classes:
            self.expected.update(DEFECT_ERRORS.get(c, {}))

    def generate(self, out_dir: str) -> None:
        blocks = np.arange(self.BLOCKS * self.BLOCKS)
        rings = block_rings(blocks, self.BLOCKS, self.origin, self.fid_base, self.classes)
        write_parquet(rings, RING_ARROW, f"{out_dir}/rings.parquet")

    def load(self, input_dir: str) -> None:
        super().load(input_dir)
        xs = pq.read_table(f"{input_dir}/rings.parquet", columns=["xs"]).column("xs")
        # closed rings: one directed edge per vertex after the first
        self.rows = int(sum(len(v) - 1 for v in xs.to_pylist()))
        self.n_rings = len(xs)

    def sizes(self) -> dict:
        defects = Counter(c for c in self.classes if c != "valid_mosaic")
        return {"rings": self.n_rings, "directed_edges": self.rows, "defects": dict(defects)}

    def run(self, traced: bool) -> dict:
        rings = self.df["rings"]
        if not traced:
            return {"errors": OT.validate_topology(self.spark, rings, TOPO_CELL).toPandas()}
        t = self.tracer
        with t.span("topology.rings_to_edges"):
            edges = OT.rings_to_edges(rings, TOPO_CELL).localCheckpoint(eager=True)
            meta = OT.ring_meta_from_edges(edges).localCheckpoint(eager=True)
            zero = edges.filter(F.col("h1") == F.col("h2")).select(
                "theme",
                F.lit(codes.INVALID_EDGE).alias("error_code"),
                F.col("x1").alias("x"),
                F.col("y1").alias("y"),
                F.col("feature_id").alias("feature_a"),
                F.col("feature_id").alias("feature_b"),
            ).toPandas()
        ok = edges.filter(F.col("h1") != F.col("h2"))
        with t.span("topology.edge_stats"):
            stats = OT.undirected_edge_stats(ok, with_holes=True).localCheckpoint(eager=True)
        with t.span("topology.boundary"):
            boundary = OT.boundary_errors(stats).toPandas()
        with t.span("topology.intersection"):
            inter = OT.intersection_errors(ok, TOPO_CELL).toPandas()
        with t.span("topology.free_standing"):
            free = OT.free_standing_errors(stats, meta).toPandas()
        with t.span("topology.interior"):
            interior = OT.interior_errors(ok, stats, meta).toPandas()
        errors = pd.concat([zero, boundary, inter, free, interior], ignore_index=True)
        t.count("topology.edges", self.rows)
        t.count("topology.errors", len(errors))
        return {"errors": errors}

    def check(self, out: dict) -> list[str]:
        got = Counter(out["errors"]["error_code"].tolist())
        if got != self.expected:
            return [f"error codes {dict(got)} != expected {dict(self.expected)}"]
        return []


# --------------------------------------------------------------------------
# spatial-join
# --------------------------------------------------------------------------


class SpatialJoin(Workload):
    name = "spatial-join"
    tables = ("points", "polygons", "probes", "corpus")
    POINTS = 60_000
    PROBES = 1_500
    CORPUS = 20_000
    K = 5
    PIP_SAMPLE = 2_000
    KNN_SAMPLE = 100

    def __init__(self, *a):
        super().__init__(*a)
        rng = np.random.default_rng([self.seed, 0x5A71])
        # an even id offset keeps sources.points' 50% hot-cell split
        self.id_offset = int(rng.integers(0, 1 << 28)) * 2
        # the mosaic's origin and extent are seeded but always cover the
        # points' [0, 20)² window, so every point has a container
        lo, hi = rng.integers(1, 6, 2), rng.integers(1, 6, 2)
        self.ox, self.oy = -int(lo[0]), -int(lo[1])
        self.cols, self.nrows = 20 + int(lo[0] + hi[0]), 20 + int(lo[1] + hi[1])
        self.rng = rng
        self.rows = self.POINTS + self.PROBES

    def generate(self, out_dir: str) -> None:
        # one sources.points pass makes all three point sets: consecutive id
        # ranges (even lengths keep each set's 50% hot-cell split)
        sizes = (self.POINTS, self.PROBES, self.CORPUS)
        pts = synthetic_points(self.spark, sum(sizes), self.id_offset).toPandas()
        pts = pts.sort_values("point_id", ignore_index=True)
        start = 0
        for table, n in zip(("points", "probes", "corpus"), sizes):
            write_parquet(pts.iloc[start : start + n], POINT_ARROW, f"{out_dir}/{table}.parquet")
            start += n
        polys = SM.mosaic_rings_pandas(
            self.nrows, self.cols, "valid_mosaic", origin=(float(self.ox), float(self.oy))
        )
        write_parquet(polys, RING_ARROW, f"{out_dir}/polygons.parquet")

    def load(self, input_dir: str) -> None:
        super().load(input_dir)
        pts = pq.read_table(f"{input_dir}/points.parquet").to_pandas()
        smp = pts.iloc[self.rng.choice(len(pts), self.PIP_SAMPLE, replace=False)]
        # closed form over the unit-square mosaic: a point on a shared edge
        # or vertex goes to the min feature_id among its containers
        c = np.clip(np.ceil(smp["x"].to_numpy() - self.ox) - 1, 0, self.cols - 1)
        r = np.clip(np.ceil(smp["y"].to_numpy() - self.oy) - 1, 0, self.nrows - 1)
        self.pip_expect = pd.Series(
            (r * self.cols + c).astype(np.int64), index=smp["point_id"].to_numpy()
        )
        probes = pq.read_table(f"{input_dir}/probes.parquet").to_pandas()
        corpus = pq.read_table(f"{input_dir}/corpus.parquet").to_pandas()
        cx, cy = corpus["x"].to_numpy(), corpus["y"].to_numpy()
        cid = corpus["point_id"].to_numpy()
        self.knn_expect = {}
        for p in probes.iloc[self.rng.choice(len(probes), self.KNN_SAMPLE, replace=False)].itertuples():
            dx, dy = p.x - cx, p.y - cy
            d2 = dx * dx + dy * dy
            self.knn_expect[p.point_id] = cid[np.lexsort((cid, d2))[: self.K]].tolist()

    def sizes(self) -> dict:
        return {
            "points": self.POINTS,
            "polygons": self.cols * self.nrows,
            "knn_probes": self.PROBES,
            "knn_corpus": self.CORPUS,
            "k": self.K,
        }

    def run(self, traced: bool) -> dict:
        d, t = self.df, self.tracer
        with t.span("spatial.pip"):
            pip = OS.pip_join(self.spark, d["points"], d["polygons"], strategy="auto").toPandas()
        with t.span("spatial.knn"):
            knn = OS.knn_join(
                self.spark, d["probes"], d["corpus"], k=self.K, strategy="auto"
            ).toPandas()
        t.count("spatial.pip_rows", len(pip))
        t.count("spatial.knn_rows", len(knn))
        return {"pip": pip, "knn": knn}

    def check(self, out: dict) -> list[str]:
        bad = []
        pip, knn = out["pip"], out["knn"]
        if len(pip) != self.POINTS or pip["point_id"].nunique() != self.POINTS:
            bad.append(f"pip: {len(pip)} rows, {pip['point_id'].nunique()} distinct points")
        won = pip.set_index("point_id")["feature_id"].reindex(self.pip_expect.index)
        n_wrong = int((won != self.pip_expect).sum())
        if n_wrong:
            bad.append(f"pip: {n_wrong}/{len(self.pip_expect)} sampled winners wrong")
        per_probe = knn.groupby("query_id").size()
        if len(per_probe) != self.PROBES or (per_probe != self.K).any():
            bad.append("knn: not exactly k rows for every probe")
        got = knn[knn["query_id"].isin(list(self.knn_expect))].sort_values(["query_id", "rn"])
        got = got.groupby("query_id")["neighbor_id"].apply(list).to_dict()
        n_wrong = sum(got.get(q) != ids for q, ids in self.knn_expect.items())
        if n_wrong:
            bad.append(f"knn: {n_wrong}/{len(self.knn_expect)} sampled probes differ from brute force")
        return bad


# --------------------------------------------------------------------------
# tile-checkpoint
# --------------------------------------------------------------------------

RAW_TILE_BYTES = 12 + OI.TILE * OI.TILE * 3  # RAW0 header + RGB payload


class TileCheckpoint(Workload):
    name = "tile-checkpoint"
    tables = ("images",)
    IMAGES = 36
    PARTITIONS = 4

    def __init__(self, *a):
        super().__init__(*a)
        rng = np.random.default_rng([self.seed, 0x711E])
        self.id_offset = int(rng.integers(0, 1 << 24))
        # share of the tile-id range the killed run had completed
        self.done_share = float(rng.uniform(0.3, 0.7))
        self.n_jobs = 0

    def generate(self, out_dir: str) -> None:
        ids = range(self.id_offset, self.id_offset + self.IMAGES)
        images = pd.DataFrame([SI.make_image_row(i) for i in ids], columns=IMAGE_ARROW.names)
        write_parquet(images, IMAGE_ARROW, f"{out_dir}/images.parquet")

    def load(self, input_dir: str) -> None:
        super().load(input_dir)
        # the one-shot tile set every resumed run must reproduce
        one_shot = OI.tile_images(self.df["images"]).select("tile_id").toPandas()
        self.one_shot = np.sort(one_shot["tile_id"].to_numpy())
        self.split = int(self.one_shot[int(len(self.one_shot) * self.done_share)])
        self.rows = len(self.one_shot)

    def sizes(self) -> dict:
        return {
            "images": self.IMAGES,
            "tiles": self.rows,
            "killed_after_tiles": int((self.one_shot < self.split).sum()),
            "checkpoint_partitions": self.PARTITIONS,
        }

    def run(self, traced: bool) -> dict:
        s, t, images = self.spark, self.tracer, self.df["images"]
        self.n_jobs += 1
        base = os.path.join(self.work_dir, f"ckpt-{self.n_jobs}")
        shutil.rmtree(base, ignore_errors=True)
        with t.span("images.tile"):
            tiles = OI.tile_images(images)
            if traced:
                tiles = tiles.localCheckpoint(eager=True)
        # the killed run: only the ranges below the split were checkpointed
        with t.span("lineage.write"):
            PL.checkpoint_write(
                tiles.filter(F.col("tile_id") < self.split),
                base, "tiles", "tile_id", num_partitions=self.PARTITIONS,
            )
        t0 = time.perf_counter()
        with t.span("lineage.resume"):
            with t.span("lineage.resume_filter"):
                rest = PL.resume_filter(tiles, s, base, "tiles", "tile_id")
                if traced:
                    rest = rest.localCheckpoint(eager=True)
            with t.span("lineage.write"):
                PL.checkpoint_write(
                    rest, base, "resumed", "tile_id", num_partitions=self.PARTITIONS
                )
        resume_s = time.perf_counter() - t0
        with t.span("images.invariants"):
            inv = OI.tiling_invariants(images).toPandas()
        return {"base": base, "resume_s": resume_s, "invariants": inv}

    def stats(self, out: dict) -> dict:
        """Checkpoint figures of one job, read back from disk."""
        base = out["base"]
        man = pq.read_table(os.path.join(base, "manifest")).to_pandas()
        done = man[man["stage"] == "tiles"]
        covered = np.zeros(len(self.one_shot), bool)
        for lo, hi in zip(done["cell_min"], done["cell_max"]):
            covered |= (self.one_shot >= lo) & (self.one_shot <= hi)
        passed = int(man.loc[man["stage"] == "resumed", "row_count"].sum())
        outside = int((~covered).sum())
        inv = out["invariants"]
        written = dir_bytes(base)
        return {
            "bytes_written": written,
            "manifest_rows": len(man),
            "rows_passed": passed,
            "rows_skipped": self.rows - passed,
            "recompute_ratio": passed / outside if outside else float("nan"),
            "write_amp": written / (self.rows * RAW_TILE_BYTES),
            "violations": int(
                ((inv["psnr"] < 40) | ~inv["caption_ok"] | ~inv["phash_ok"]).sum()
                + (self.IMAGES - len(inv))
            ),
            "tiles": int(inv["n_tiles"].sum()),
        }

    def check(self, out: dict) -> list[str]:
        bad = []
        st = self.stats(out)
        if st["violations"]:
            bad.append(f"{st['violations']} tiling invariant violations")
        if st["tiles"] != self.rows:
            bad.append(f"invariants saw {st['tiles']} tiles, one-shot has {self.rows}")
        ids = np.sort(
            np.concatenate(
                [read_col(os.path.join(out["base"], "data", st_), "tile_id")
                 for st_ in ("tiles", "resumed")]
            )
        )
        if len(ids) != self.rows or not np.array_equal(ids, self.one_shot):
            bad.append(f"pre-kill ∪ resumed has {len(ids)} tiles; not the one-shot set")
        if st["recompute_ratio"] != 1.0:
            bad.append(f"recompute_ratio {st['recompute_ratio']} != 1.0")
        out["stats"] = st
        return bad

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["base"], ignore_errors=True)


class SpatialTile(Workload):
    """spatial-join's job, then tile-checkpoint's, on one set-up. The two
    layers share a workload only to fit the benchmark's time budget (see
    README.md); their traced spans stay separate."""

    name = "spatial-tile"

    def __init__(self, *a):
        super().__init__(*a)
        self.parts = (SpatialJoin(*a), TileCheckpoint(*a))
        self.tables = tuple(t for p in self.parts for t in p.tables)

    def generate(self, out_dir: str) -> None:
        for p in self.parts:
            p.generate(out_dir)

    def load(self, input_dir: str) -> None:
        super().load(input_dir)
        for p in self.parts:
            p.load(input_dir)
        self.rows = sum(p.rows for p in self.parts)

    def sizes(self) -> dict:
        return {k: v for p in self.parts for k, v in p.sizes().items()}

    def run(self, traced: bool) -> dict:
        return {**self.parts[0].run(traced), **self.parts[1].run(traced)}

    def check(self, out: dict) -> list[str]:
        return [m for p in self.parts for m in p.check(out)]

    def cleanup(self, out: dict) -> None:
        self.parts[1].cleanup(out)


WORKLOADS = {
    w.name: w for w in (TopologyValidate, SpatialJoin, TileCheckpoint, SpatialTile)
}
