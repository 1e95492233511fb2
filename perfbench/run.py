"""aezspark benchmark: seeded, oracle-checked workloads, measured from outside.

    python3 perfbench/run.py --workload docs_fused --seed 7 --seconds 10 --trace 0

Run it from the root of a checkout (the directory holding aezspark/).
Workloads (inputs are generated from --seed; the engine only sees files):

  docs_fused    documents.assign_zone_counts with the shard-manifest tile
                lookup on a 0.25 deg world (153 tile shards, more than the
                kernel's 64-shard LRU). Its traced run also runs the
                jobs/run_aez.py docs job (PartitionCheckpointer.run,
                assign_points(emit='rows')) and a crash-and-resume on the
                first `checkpoint_docs` docs.
  raster_zonal  World(cache_assignment=False).aez() plus the World.tiles()
                class histogram on a 1 deg world (583k fine pixels): mask
                build (PIP on every bbox cell) and zonal pipeline; no
                documents.

Each run builds (or reuses) its inputs and the numpy-oracle answers, then
starts one fresh Python process + JVM (worker.py) that sets the engine up
(setup_s), runs one cold query and WARMUP_REPS warm-up repetitions (all
kept out of query_s), then repeats the warm query for --seconds, at least
MIN_REPS times; query_s is the median of these timed repetitions. Every output is checked against the
oracle; an exception or a mismatch counts as a failed operation. Memory is
the peak summed RSS of the worker's whole process tree (driver, JVM, Python
workers), sampled from /proc.

Host noise is recorded, not acted on: every timed operation carries the
1-min loadavg and the share of CPU time the hypervisor stole while it ran,
and a run whose repetitions exceed NOISY_LOAD_PER_CORE or NOISY_STEAL is
flagged `noisy_window` in the printed details.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics: it first makes a short untraced reference run (TRACE_REPS warm
repetitions, none discarded), then the traced run (event log on, spans, job descriptions,
layer probes), and reports the tracing overhead as traced ÷ untraced
query_s of the two. A layer a workload does not run reports 0.

The cold query's time, first_query_s, is a per-layer metric taken from the
untraced reference run, so it has no regression bound: it is a single
sample per run, and on raster_zonal its spread between runs (0.28 of its
median over 10 seeds on a 4-vCPU VM, ~12 s with no hypervisor steal vs
15-16.5 s at 2-5% steal) exceeds the largest bound a metric may have.

Stdout: a readable table, then ONE JSON line (the last line):
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes stays under perfbench/.work/ in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import tracing

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(BENCH_DIR, ".work")
TIME_LIMIT_S = 170  # the whole run, inputs included, must end before 180 s

SIZES = {
    "docs_fused": {"coarse_px": 0.25, "docs": 100_000,
                   "checkpoint_docs": 10_000},
    "raster_zonal": {"coarse_px": 1.0},
}
# warm queries timed, even when --seconds runs out first. Host noise on a
# shared VM comes in windows longer than a run, so repetitions of one run
# are correlated and more of them barely narrow the spread between runs;
# three keep one slow repetition out of the median and the whole run set
# inside the benchmark's time budget
MIN_REPS = 3
# repetitions after the cold query that are checked but not timed: the
# JVM's JIT is still compiling the query's code paths (raster_zonal's
# second and third repetitions measured ~15% and ~20% faster than its first)
WARMUP_REPS = 1
# timed warm queries, with no warm-up repetition, of each of the two worker
# runs with --trace 1 (both must fit in the run's time limit)
TRACE_REPS = 2
# the last warm query starts no later than this before the run's time limit
# (the traced run still runs its layer probes after it)
STOP_MARGIN_S = {False: 10, True: 45}
NOISY_LOAD_PER_CORE = 1.5  # 1-min loadavg above this × cores flags the window
NOISY_STEAL = 0.1  # share of CPU time stolen by the hypervisor that flags it

# ------------------------------------------------------------ environment

def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal")).split()[1])
    return min(3072, total_kb // 1024 // 3)


def worker_env(root: str, run_dir: str, conf_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Python workers import aezspark from the checkout, wherever cwd is
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "AEZSPARK_MASTER": f"local[{cores()}]",
        "AEZSPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
        "AEZSPARK_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "AEZSPARK_TABLES_ROOT": os.path.join(run_dir, "tables"),
        # the engine's collector; the heap is sized up front (-Xms = driver
        # memory) so its resident size does not depend on when it grew
        "AEZSPARK_JAVA_OPTS": f"-XX:+UseParallelGC -Xms{driver_mem_mb()}m "
                              f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_CONF_DIR": conf_dir,
        "TMPDIR": tmp,
    })
    for k in ("AEZSPARK_RAW_PARQUET", "AEZSPARK_WARM_WORKERS",
              "AEZSPARK_MAX_PARTITION_BYTES", "AEZSPARK_OPEN_COST_BYTES",
              "AEZSPARK_ZC_DEDUP_BUDGET_ROWS", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    return env


def write_conf(conf_dir: str, event_dir: str | None) -> None:
    """spark-defaults.conf: the event log is on only in traced runs, and
    uncompressed (the default zstd codec needs `zstandard`)."""
    os.makedirs(conf_dir, exist_ok=True)
    lines = ["spark.ui.enabled false"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        lines += ["spark.eventLog.enabled true",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled true",
                  f"spark.eventLog.dir file://{event_dir}"]
    else:
        lines.append("spark.eventLog.enabled false")
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


# ------------------------------------------------------- process tree / RSS

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict:
    """pid → (ppid, rss bytes) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE)
    return out


def descendants(root_pid: int, table: dict | None = None) -> dict:
    table = table if table is not None else _proc_table()
    kids: dict = {}
    for pid, (ppid, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root_pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out[c] = table[c][1]
            stack.append(c)
    return out


def _label(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return "gone"
    for key, label in (("worker.py", "driver"), ("java", "jvm"),
                       ("pyspark.daemon", "python_workers")):
        if key in cmd:
            return label
    return "other"


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process's descendants, with the split
    of that peak sample by process kind."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_split: dict = {}
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            tree = descendants(me)
            total = sum(tree.values())
            if total > self.peak:
                self.peak = total
                split: dict = {}
                for pid, rss in tree.items():
                    key = _label(pid)
                    n, b = split.get(key, (0, 0))
                    split[key] = (n + 1, b + rss)
                self.peak_split = {k: {"processes": n, "mb": b / 2**20}
                                   for k, (n, b) in split.items()}
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def become_subreaper() -> None:
    """Orphaned descendants (the JVM's Python daemon) re-parent to this
    process, so they stay visible to the sampler and can be reaped."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_descendants(timeout: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, every descendant; reap until none is left."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants(me)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        _reap()
        time.sleep(0.2)
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive: {sorted(pids)}")
    _reap()


def _reap() -> None:
    while True:
        try:
            pid, _st = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ------------------------------------------------------------------ worker

def run_worker(root: str, run_dir: str, cfg: dict, deadline: float) -> dict:
    """One fresh worker process; returns its result plus peak tree RSS."""
    os.makedirs(run_dir, exist_ok=True)
    conf_dir = os.path.join(run_dir, "conf")
    event_dir = os.path.join(run_dir, "eventlog") if cfg["trace"] else None
    write_conf(conf_dir, event_dir)
    cfg = dict(cfg, run_dir=run_dir,
               result=os.path.join(run_dir, "result.json"),
               stop_by=time.time() + deadline - time.monotonic()
               - STOP_MARGIN_S[cfg["trace"]])
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, "worker.log")
    sampler = RssSampler()
    sampler.start()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "worker.py"), cfg_path],
            cwd=run_dir, env=worker_env(root, run_dir, conf_dir),
            stdin=subprocess.DEVNULL, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
    peak = sampler.stop()
    stop_descendants()
    if code != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exited {code}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    with open(cfg["result"]) as f:
        res = json.load(f)
    res["peak_rss_mb"] = peak / 2**20
    res["peak_rss_split"] = sampler.peak_split
    if event_dir:
        res["eventlog"] = tracing.fold_event_log(event_dir)
    return res


# ----------------------------------------------------------------- metrics

def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def warm_reps(res: dict) -> list[float]:
    return [o["s"] for o in res["ops"] if o["kind"] == "rep"]


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(metrics, details): the end-to-end values and what they rest on."""
    reps = warm_reps(res)
    loads = [o["load1"] for o in res["ops"] if o["kind"] == "rep"]
    steal = [o.get("steal", 0.0) for o in res["ops"] if o["kind"] == "rep"]
    q1, med, q3 = quartiles(reps)
    m = {"setup_s": res["setup_s"], "query_s": med,
         "items_per_s": res["items"] / med, "peak_rss_mb": res["peak_rss_mb"]}
    details = {
        "first_query_s": res["first_query_s"],
        "query_s": {"median": med, "q1": q1, "q3": q3, "n": len(reps),
                    "samples": reps},
        "items_per_s": {"items": res["items"], "query_s": med},
        "peak_rss_split": res["peak_rss_split"],
        "load1": {"min": min(loads), "max": max(loads)},
        "steal": {"first": res["ops"][0].get("steal", 0.0), "reps": steal},
        "noisy_window": (max(loads) > NOISY_LOAD_PER_CORE * cores()
                         or max(steal) > NOISY_STEAL),
    }
    return m, details


def metric_units() -> tuple[dict, dict] | None:
    """(end-to-end, per-layer) metric name → unit, as BENCHMARK.json at the
    checkout root declares them."""
    try:
        with open(os.path.join(os.path.dirname(BENCH_DIR),
                               "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return None
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def per_layer(wl: str, res: dict, ref: dict, expected: dict, names) -> dict:
    """The per-layer table of a traced run `res`, for the metric `names`;
    `ref` is the untraced reference run."""
    spans = res["self_times"]
    ev = res["eventlog"]
    lay = dict(res["layers"])

    def span_s(name):
        return spans.get(name, {}).get("self_s", 0.0)

    def ev_sum(pred, key=None, node=None, metric=None):
        total = 0.0
        for desc, v in ev.items():
            path = desc[len("layer="):] if desc.startswith("layer=") else ""
            if not pred(path):
                continue
            if key:
                total += v.get(key, 0.0)
            else:
                for nname, metrics in v["nodes"].items():
                    if node is None or nname == node:
                        total += metrics.get(metric, 0.0)
        return total

    def ends(name):
        return lambda p: p == name or p.endswith("/" + name)

    def under(prefix):
        return lambda p: p == prefix or p.startswith(prefix + "/")

    reps = warm_reps(res)
    n_reps = len(reps)
    traced_q = statistics.median(reps)
    untraced_q = statistics.median(warm_reps(ref))
    kern = ends("joins.assign_points")
    query = under(f"{wl}.query")
    lay.update({
        "session.get_spark_s": span_s("session.get_spark"),
        "session.py_init_s": ev_sum(under(f"{wl}.first_query"),
                                    metric="time to initialize Python workers") / 1e3,
        "pipelines.world_s": span_s("pipelines.World"),
        "tables.import_s": span_s("tables.imported_read"),
        "joins.tile_shard_lookup_s": span_s("joins.tile_shard_lookup"),
        "documents.scan_parse_s": span_s("documents.geo_key_points"),
        "joins.kernel_s": span_s("joins.assign_points"),
        "joins.kernel_cpu_s": ev_sum(kern, "cpu_ns") / 1e9,
        "joins.py_bytes_in": ev_sum(kern, metric="data sent to Python workers"),
        "joins.py_bytes_out": ev_sum(kern, metric="data returned from Python workers"),
        "joins.py_run_s": ev_sum(kern, metric="time to run Python workers") / 1e3,
        "joins.partials_rows": ev_sum(kern, node="MapInPandas",
                                      metric="number of output rows"),
        "joins.shuffle_write_bytes": ev_sum(kern, "shuffle_write_bytes"),
        "joins.build_assignment_s": span_s("joins.build_assignment"),
        "joins.assignment_rows": ev_sum(ends("joins.build_assignment"),
                                        node="MapInPandas",
                                        metric="number of output rows"),
        "zonal.aez_long_s": span_s("zonal.aez_long"),
        "zonal.shuffle_write_bytes": ev_sum(ends("zonal.aez_long"),
                                            "shuffle_write_bytes"),
        "zonal.exchanges": ev_sum(ends("zonal.aez_long"), "exchanges"),
        "tiles.tile_codes_s": span_s("tiles.tile_codes"),
        "spark.query_cpu_s": ev_sum(query, "cpu_ns") / 1e9 / n_reps,
        "spark.query_gc_s": ev_sum(query, "gc_ms") / 1e3 / n_reps,
        "spark.query_spill_bytes": ev_sum(query, "spill_bytes") / n_reps,
        "spark.query_shuffle_write_bytes":
            ev_sum(query, "shuffle_write_bytes") / n_reps,
        "spark.query_tasks": ev_sum(query, "tasks") / n_reps,
        "spark.query_jobs": ev_sum(query, "jobs") / n_reps,
        "first_query_s": ref["first_query_s"],
        "trace.query_s": traced_q,
        "trace.untraced_query_s": untraced_q,
        "trace.overhead_ratio": traced_q / untraced_q,
    })
    cand = lay.get("joins.assignment_candidates", 0)
    lay["joins.assignment_hit_ratio"] = (lay["joins.assignment_rows"] / cand
                                         if cand else 0.0)
    if "checkpoint.rows" in lay:
        # the whole job: the run that crashed plus the resumed run
        read = ev_sum(under(f"{wl}.probes/checkpoint"), "input_bytes")
        lay.update({"checkpoint.bytes_read": read,
                    "checkpoint.corpus_bytes": expected["corpus_bytes"],
                    "checkpoint.read_amplification":
                        read / expected["corpus_bytes"]})
    return {name: lay.get(name, 0) for name in names}


# -------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    deadline = started + TIME_LIMIT_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aezspark", "__init__.py")):
        print(f"no aezspark package under {root}: run from a checkout root",
              file=sys.stderr)
        return 2
    declared = metric_units()
    if declared is None:
        print("no BENCHMARK.json next to perfbench/", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared
    sys.path.insert(0, root)
    import inputs  # needs aezspark

    become_subreaper()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl, size = args.workload, SIZES[args.workload]
    t0 = time.perf_counter()
    fx, expected = inputs.ensure_inputs(os.path.join(WORK_DIR, "inputs"),
                                        wl, args.seed, size)
    inputs_s = time.perf_counter() - t0
    runs_root = os.path.join(WORK_DIR, "runs")
    shutil.rmtree(runs_root, ignore_errors=True)
    cfg = {"workload": wl, "inputs_dir": fx, "seconds": args.seconds,
           "min_reps": MIN_REPS, "warmup_reps": WARMUP_REPS, "trace": False}

    try:
        if not args.trace:
            res = run_worker(root, os.path.join(runs_root, "untraced"), cfg,
                             deadline)
            results = [res]
            values, details = end_to_end(res)
            units = e2e_units
        else:
            short = dict(cfg, seconds=0, warmup_reps=0, min_reps=TRACE_REPS)
            ref = run_worker(root, os.path.join(runs_root, "untraced"), short,
                             deadline)
            res = run_worker(root, os.path.join(runs_root, "traced"),
                             dict(short, trace=True), deadline)
            results = [ref, res]
            units = layer_units
            values = per_layer(wl, res, ref, expected, units)
            details = {"span_self_times": res["self_times"]}
    finally:
        stop_descendants()
    ops = [o for res_ in results for o in res_["ops"]]
    failed = [o for o in ops if not o["ok"]]

    print(f"workload {wl} seed {args.seed} size {size} master "
          f"{res['env']['master']} driver_memory "
          f"{res['env']['driver_memory']} inputs_s {inputs_s:.2f} "
          f"wall_s {time.monotonic() - started:.1f}")
    print(json.dumps({"details": details}))
    for o in failed:
        print(f"FAILED {o['kind']} {o.get('layer', '')}: {o['error']}")
    for name, v in values.items():
        print(f"  {name:36s} {v:>16.6g} {units[name]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
