"""One benchmark run of one workload, in a fresh Python process and JVM.

Started by run.py, which pins the environment (master, driver memory, local
and tables dirs, PYTHONPATH, SPARK_CONF_DIR) and samples memory from outside.
This process sets the engine up, runs the workload's query for the configured
number of seconds, checks every output against the oracle expectations and
writes a result JSON. With tracing on it also records spans, tags Spark jobs
with the span path and runs the per-layer probes.

    python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()  # set-up is timed from process start

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import tracing  # noqa: E402

GEOMETRY_REPS = 3  # driver-side geometry probe repetitions (median kept)
CHECKPOINT_BATCH = 4  # jobs/run_aez.py --batch-size default


# ---------------------------------------------------------------- host noise
#
# Recorded with every timed operation, never acted on: the 1-min loadavg and
# the share of the machine's CPU time the hypervisor stole ("steal") while
# the operation ran. run.py flags a noisy window from them.

def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine's CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


class Run:
    """State shared by set-up, the timed loop and the probes."""

    def __init__(self, cfg: dict):
        self.fx = cfg["inputs_dir"]
        self.work = cfg["run_dir"]
        with open(os.path.join(self.fx, "expected.json")) as f:
            self.expected = json.load(f)
        self.spark = None
        self.ops: list[dict] = []
        self.spans = tracing.Spans(cfg["trace"], on_change=self._tag)

    def _tag(self, path: str):
        """Tag the Spark jobs started inside the open spans."""
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(
                f"layer={path}" if path else None)

    def span(self, name):
        return self.spans.span(name)

    def op(self, kind: str, fn, check=None, **extra) -> dict:
        """Run one timed operation; an exception or a failed check counts
        as a failed operation."""
        rec = {"kind": kind, "load1": load1(), "ok": False,
               "error": None, **extra}
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            out = fn()
            rec["s"] = time.perf_counter() - t0
            rec["steal"] = steal_share(ticks, cpu_ticks())
            if check is not None:
                check(out)
            rec["ok"] = True
        except Exception as e:  # recorded, counted as failed
            rec.setdefault("s", time.perf_counter() - t0)
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
            traceback.print_exc()
        self.ops.append(rec)
        return rec


# ------------------------------------------------------------------ workloads

class DocsFused:
    """documents.assign_zone_counts with the shard-manifest tile lookup."""
    name = "docs_fused"

    def setup(self, r: Run):
        from aezspark.joins import tile_shard_lookup
        from aezspark.pipelines import World
        from aezspark.tables import default_tables_root

        self.r = r
        with r.span("pipelines.World"):
            self.w = World(r.spark, r.fx)
        with r.span("tables.imported_read"):
            self.docs = self.w.documents()
        with r.span("joins.tile_shard_lookup"):
            self.tsl = tile_shard_lookup(r.spark, os.path.join(r.fx, "tiles_sink"),
                                         self.w.fine,
                                         tables_root=default_tables_root())
        self.items = r.expected["docs"]

    def query(self):
        from aezspark import documents as D

        with self.r.span("documents.assign_zone_counts"):
            return D.assign_zone_counts(self.docs, self.w.bidx, self.tsl,
                                        self.w.fine).collect()

    def check(self, r: Run):
        return lambda rows: checks.zone_counts(rows, r.expected["zone_counts"])

    def probes(self, r: Run, layers: dict):
        from pyspark.sql import functions as F

        from aezspark import documents as D
        from aezspark.joins import assign_points

        with r.span("documents.geo_key_points.cache"):
            pts = D.geo_key_points(self.docs).cache()
            layers["documents.points"] = pts.count()
        with r.span("documents.geo_key_points"):
            (D.geo_key_points(self.docs).write.format("noop")
             .mode("overwrite").save())

        def kernel():
            return (assign_points(pts, self.w.bidx, tile_lookup=self.tsl,
                                  fine=self.w.fine, project=["doc_key"],
                                  emit="zone_counts", doc_col="doc_key")
                    .groupBy("country", "aez_code")
                    .agg(F.sum("n_docs").alias("n_docs")).collect())
        with r.span("joins.assign_points"):
            r.op("probe", kernel, self.check(r), layer="joins.assign_points")
        pts.unpersist()
        geometry_probes(r, self.w.index, layers)
        with r.span("checkpoint"):
            checkpoint_probe(r, self, layers)


class RasterZonal:
    """World(cache_assignment=False).aez() plus the World.tiles() class
    histogram: the mask build (build_assignment) and zonal pipeline."""
    name = "raster_zonal"

    def setup(self, r: Run):
        from aezspark.pipelines import World

        self.r = r
        with r.span("pipelines.World"):
            self.w = World(r.spark, r.fx, cache_assignment=False)
        with r.span("tables.imported_read"):
            for name in ("cells_kg", "cells_slope", "cells_wk", "cells_lc"):
                self.w.cells(name)
        self.items = r.expected["fine_pixels"]

    def query(self):
        with self.r.span("pipelines.World.aez"):
            aez = self.w.aez().collect()
        with self.r.span("pipelines.World.tiles"):
            hist = self.w.tiles().groupBy(*checks.TILE_CODES).count().collect()
        return aez, hist

    def check(self, r: Run):
        def check(out):
            checks.aez_km2(out[0], r.expected["aez_km2"])
            checks.tiles_histogram(out[1], r.expected["tiles_histogram"])
        return check

    def probes(self, r: Run, layers: dict):
        from aezspark.joins import build_assignment
        from aezspark.pipelines import World

        w = self.w
        with r.span("pipelines.World.asg.cache"):
            wc = World(r.spark, r.fx)
            wc.asg.count()
        with r.span("joins.build_assignment"):
            (build_assignment(r.spark, w.fine, w.index).write.format("noop")
             .mode("overwrite").save())
        layers["joins.assignment_candidates"] = bbox_cells(w.fine, w.index)
        with r.span("zonal.aez_long"):
            r.op("probe", lambda: wc.aez().collect(),
                 lambda rows: checks.aez_km2(rows, r.expected["aez_km2"]),
                 layer="zonal.aez_long")
        with r.span("tiles.tile_codes"):
            r.op("probe", lambda: w.tiles().groupBy(*checks.TILE_CODES)
                 .count().collect(),
                 lambda rows: checks.tiles_histogram(
                     rows, r.expected["tiles_histogram"]),
                 layer="tiles.tile_codes")
        wc.asg.unpersist()
        geometry_probes(r, w.index, layers)


WORKLOADS = {c.name: c for c in (DocsFused, RasterZonal)}


# -------------------------------------------------------------------- probes

def bbox_cells(grid, index) -> int:
    """Σ bbox cells over features: the (cell, feature) candidates
    build_assignment tests (same bbox → cell rule as joins.py)."""
    total = 0
    for poly in index.polygons:
        lat_min, lat_max, lon_min, lon_max = poly.bbox
        y0, x0 = grid.lonlat_to_yx(lon_min, lat_max)
        y1, x1 = grid.lonlat_to_yx(lon_max, lat_min)
        total += int((y1 - y0 + 1) * (x1 - x0 + 1))
    return total


def _median_time(fn, reps=GEOMETRY_REPS):
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def geometry_probes(r: Run, index, layers: dict) -> None:
    """Driver-side BoundaryIndex calls on the workload's point sample."""
    lon, lat = np.load(os.path.join(r.fx, "sample_points.npy"))
    n = len(lon)
    with r.span("geometry.BoundaryIndex.candidates"):
        t_c, (cand_pt, _pos) = _median_time(
            lambda: index.candidates(index.bucket_of(lon, lat)))
    with r.span("geometry.BoundaryIndex.pip"):
        t_pip, (pt, _pp) = _median_time(lambda: index.pip(lon, lat))
    un = np.ones(n, dtype=bool)
    un[pt] = False
    n_un = int(un.sum())
    with r.span("geometry.BoundaryIndex.nearest"):
        t_knn, _ = _median_time(lambda: index.nearest(lon[un], lat[un]))
    layers.update({
        "geometry.sample_points": n,
        "geometry.candidates": len(cand_pt),
        "geometry.matches": len(pt),
        "geometry.candidates_ns_per_point": t_c / n * 1e9,
        "geometry.pip_ns_per_point": t_pip / n * 1e9,
        "geometry.candidates_per_point": len(cand_pt) / n,
        "geometry.pip_hit_ratio": len(pt) / max(len(cand_pt), 1),
        "geometry.knn_points": n_un,
        "geometry.knn_ns_per_point": t_knn / n_un * 1e9 if n_un else 0.0,
        "geometry.knn_fallback_frac": n_un / n,
    })


def checkpoint_probe(r: Run, wl: DocsFused, layers: dict) -> None:
    """The docs job of jobs/run_aez.py on the first `checkpoint_docs` docs:
    indexed_points keyed by 16 part_keys through
    PartitionCheckpointer.run(batch_size=4), the transform being
    assign_points(emit='rows') with the shard tile lookup. The job crashes
    after 2 batches and a timed rerun completes it; the output must hold
    exactly the rows of an uninterrupted run, i.e. the oracle's rows (row
    keys compared as a sorted multiset)."""
    from pyspark.sql import functions as F

    from aezspark import cellindex, documents as D
    from aezspark.checkpoint import PartitionCheckpointer
    from aezspark.joins import assign_points

    import inputs

    n_docs = r.expected["checkpoint_docs"]
    docs = wl.docs.filter(F.col("doc_id") < f"doc-{n_docs:08d}")
    pts = D.indexed_points(docs).withColumn(
        "part_key", cellindex.parent_col(F.col("index_cell"), 6, 1)
        .bitwiseAND(F.lit((1 << 28) - 1)) % 16)
    bidx, tsl, fine = wl.w.bidx, wl.tsl, wl.w.fine

    def transform(df):
        return assign_points(df, bidx, tile_lookup=tsl, fine=fine,
                             project=["doc_id", "span_idx", "lat", "lon",
                                      "part_key"])

    state = os.path.join(r.work, "checkpoint")

    def run(**kw):
        return PartitionCheckpointer(r.spark, state).run(
            pts, "part_key", transform, batch_size=CHECKPOINT_BATCH,
            lineage={"input": r.fx, "job": "doc_enrich"}, **kw)

    def check(out_dir):
        got = (r.spark.read.parquet(out_dir).select(inputs.checkpoint_row_key(
            F.substring("doc_id", 5, 8).cast("long"),
            F.col("span_idx").cast("long"), F.col("feature_id").cast("long"),
            F.col("aez_code").cast("long"),
            (F.col("method") == "knn").cast("long")).alias("k"))
            .toPandas()["k"].to_numpy())
        checks.same_rows(np.sort(got), np.load(
            os.path.join(r.fx, "checkpoint_keys.npy")))

    with r.span("checkpoint.failpoint_run"):
        try:
            run(failpoint_after_batches=2)
        except RuntimeError as e:
            if "failpoint" not in str(e):
                raise
    with r.span("checkpoint.resume"):
        layers["checkpoint.resume_s"] = r.op(
            "probe", run, check, layer="checkpoint.resume")["s"]

    ledger = PartitionCheckpointer(r.spark, state).metrics().toPandas()
    batch_ms = ledger.groupby("batch_id")["wall_ms"].sum()
    files = []
    for dirpath, _d, names in os.walk(os.path.join(state, "output")):
        files += [os.path.join(dirpath, n) for n in names
                  if n.endswith(".parquet")]
    nbytes = sum(os.path.getsize(f) for f in files)
    rows = int(ledger["rows_out"].sum())
    layers.update({
        "checkpoint.batches": int(len(batch_ms)),
        "checkpoint.batch_s": float(batch_ms.median()) / 1000.0,
        "checkpoint.rows": rows,
        "checkpoint.bytes_written": nbytes,
        "checkpoint.files_written": len(files),
        "checkpoint.bytes_per_row": nbytes / max(rows, 1),
    })


# ---------------------------------------------------------------------- main

def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    r = Run(cfg)
    wl = WORKLOADS[cfg["workload"]]()
    result: dict = {"workload": wl.name, "trace": cfg["trace"]}

    with r.span(f"{wl.name}.setup"):
        from aezspark.session import get_spark

        with r.span("session.get_spark"):
            r.spark = get_spark(f"perfbench-{wl.name}")
        wl.setup(r)
    result["setup_s"] = time.perf_counter() - PROCESS_T0

    check = wl.check(r)
    with r.span(f"{wl.name}.first_query"):
        first = r.op("first", wl.query, check)
    result["first_query_s"] = first["s"]
    # the JVM is still compiling the query's code paths after the cold run,
    # so the next warmup_reps repetitions (checked, not timed) are discarded
    for _ in range(cfg["warmup_reps"]):
        with r.span(f"{wl.name}.warmup"):
            r.op("warmup", wl.query, check)
    # timed repetitions: at least min_reps, and for at least `seconds`; a
    # repetition that could not end before `stop_by` (wall clock, the whole
    # run's limit) is not started
    deadline = time.perf_counter() + cfg["seconds"]
    reps = 0
    while reps < cfg["min_reps"] or time.perf_counter() < deadline:
        with r.span(f"{wl.name}.query"):
            rec = r.op("rep", wl.query, check)
        reps += 1
        if time.time() + 1.5 * rec["s"] > cfg["stop_by"]:
            break

    layers: dict = {}
    if cfg["trace"]:
        with r.span(f"{wl.name}.probes"):
            wl.probes(r, layers)
        result["spans"] = r.spans.records
        result["self_times"] = r.spans.self_times()
    result.update(items=wl.items, ops=r.ops, layers=layers,
                  env={"master": r.spark.sparkContext.master,
                       "spark": r.spark.version,
                       "driver_memory": r.spark.conf.get("spark.driver.memory"),
                       "local_dir": r.spark.conf.get("spark.local.dir")})
    r.spark.stop()
    tmp = cfg["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, cfg["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
