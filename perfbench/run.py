#!/usr/bin/env python3
"""fiona_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload spatial_join --seed 0 --seconds 10 --trace 0

Run from the repository root.  The program runs at local[N] with N half
the CPUs this process may use, driven from this one process.  Inputs are
generated untimed from the seed (``inputs.py``), references are computed
without the engine (``reference.py``), and every timed call's output
digest is compared with its reference.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop under Spark job groups plus an event log and prints the per-layer
metrics instead.  A ``{"meta": ...}`` line with host health (steal time,
load, foreign Spark processes, calibration probes) precedes the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HALF_CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
# the measured driver heap; the engine's own default is a pre-touched 12g
DRIVER_MEM = "2g"
MIN_ITERS = 3
MIN_WARM_PASSES = 3
WARM_S = 10.0

sys.path.insert(0, ROOT)

import fiona_spark  # noqa: E402,F401  (fails fast outside a checkout)

import inputs  # noqa: E402
import probes  # noqa: E402
import reference as ref  # noqa: E402
import tracing  # noqa: E402
import workloads as wls  # noqa: E402

END_TO_END = {"setup_s": "s", "images_per_s": "images/s",
              "core_s_per_kimage": "core-s/kimage", "peak_rss_mb": "MB",
              "ok_frac": "ratio"}

_OP_FULL = ["call_s", "first_s", "driver_s", "jobs", "task_cpu_s", "cpu_s",
            "shuffle_write_mb", "rows_out"]
_LANE = ["call_s", "driver_s", "jobs", "task_cpu_s", "shuffle_write_mb",
         "rows_out"]
_UNITS = {"jobs": "count", "rows_out": "count", "shards": "count",
          "shuffle_write_mb": "MB", "spill_mb": "MB", "rss_mb": "MB",
          "failed_tasks": "count", "bytes_per_image": "bytes",
          "images_per_s": "images/s"}


def _per_layer() -> dict[str, str]:
    names = ["session.get_spark_s", "session.warmup_s", "session.rss_mb"]
    for op in ("pip_join", "knn_join"):
        names += [f"{op}.{m}" for m in _OP_FULL]
    for op in ("pip_join_shuffled", "knn_join_shuffled"):
        names += [f"{op}.{m}" for m in _LANE]
    names += ["with_covering_cells.call_s", "with_covering_cells.rows_out",
              "block_tiles.call_s", "block_tiles.task_cpu_s",
              "block_tiles.cpu_s", "block_tiles.rows_out"]
    for op in ("decode_stats", "verify_roundtrip"):
        names += [f"{op}.call_s", f"{op}.task_cpu_s", f"{op}.cpu_s"]
    for m in ("decode_us", "decode_batch_us", "encode_us"):
        names += [f"codec.{m}.{f}" for f in ("raw", "rle", "q6")]
    names += ["codec.phash_us", "engine.scan_s", "engine.arrow_roundtrip_s",
              "run_checkpointed.call_s", "run_checkpointed.resume_s",
              "run_checkpointed.shards", "run_checkpointed.bytes_per_image",
              "run_checkpointed.shuffle_write_mb", "run_checkpointed.cpu_s",
              "spark.gc_s", "spark.spill_mb", "spark.failed_tasks",
              "traced.images_per_s"]
    return {n: _unit(n) for n in names}


def _unit(name: str) -> str:
    for part in reversed(name.split(".")):
        if part in _UNITS:
            return _UNITS[part]
        if part.endswith("_us"):
            return "us"
        if part.endswith("_s"):
            return "s"
    raise ValueError(name)


PER_LAYER = _per_layer()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def isolate_run() -> None:
    """Keep every file the run writes inside the checkout, and fix the
    driver heap at ``DRIVER_MEM`` whatever the caller's environment says
    (the engine's pre-touched 12g default would take most of a 16 GB
    host).  Must run before the JVM starts."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))


def start_spark(trace: bool):
    from fiona_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(cores=HALF_CPUS, app="perfbench",
                      extra_conf=tracing.eventlog_conf() if trace else None)
    t1 = time.time()
    warmup(spark, HALF_CPUS)
    return spark, t1 - t0, time.time() - t1


def warmup(spark, cores: int) -> None:
    """Generic warm-up: a trivial job, then one Arrow UDF job that spawns
    a Python worker per core."""
    from pyspark.sql import functions as F

    spark.range(1000).select(F.sum("id")).collect()
    plus = F.pandas_udf(lambda v: v * 1.0, "double")
    (spark.range(0, 1000 * cores, 1, cores)
     .select(F.sum(plus(F.col("id").cast("double")))).collect())


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait until the whole tree is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(probes.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in probes.tree_pids()[1:]:       # stragglers past the deadline
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


# ---------------------------------------------------------------------------
# calls
# ---------------------------------------------------------------------------

class Runner:
    """Times each public call, ends it in its digest and checks it.

    A call's CPU is read from the process tree as of the last
    :meth:`rescan`, outside the call's span.  ``probe_s`` is the wall time
    spent in these /proc reads."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.errors: list[str] = []
        self.pids: list[int] = []
        self.probe_s = 0.0
        self.rescan()

    def rescan(self) -> float:
        """Rescan the process tree; returns its CPU seconds."""
        t0 = time.perf_counter()
        self.pids = probes.tree_pids()
        cpu = probes.tree_cpu_s(self.pids)
        self.probe_s += time.perf_counter() - t0
        return cpu

    def _cpu(self) -> float:
        t0 = time.perf_counter()
        cpu = probes.tree_cpu_s(self.pids)
        self.probe_s += time.perf_counter() - t0
        return cpu

    def call(self, op, ctx):
        """One call on ``ctx``'s inputs; returns (span, ok)."""
        cpu0 = self._cpu()
        span = self.tracer.begin(op.name)
        try:
            out = op.fn(ctx)
            dig = (out if isinstance(out, list)
                   else ref.spark_digest(out, op.kind))
            want = (ref.manifest_digest(ctx.expected["shards"])
                    if op.kind == "manifest" else ctx.expected[op.kind])
            ok = dig == want
            if not ok:
                self.errors.append(f"{op.name}: digest {dig} != {want}")
        except Exception:  # a failed call is a miss, not a crash
            dig, ok = None, False
            self.errors.append(f"{op.name}: {traceback.format_exc()[-600:]}")
        self.tracer.end(span)
        span.cpu_s = self._cpu() - cpu0
        span.rows_out = dig[0] if dig else 0
        span.extra["digest"] = dig
        return span, ok


def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------------------
# traced-only layer probes
# ---------------------------------------------------------------------------

def engine_probes(ctx, columns, reps: int = 3) -> dict:
    """Noop-sink scan of the columns the workload reads, and the same scan
    through an identity mapInArrow: the floor under any kernel work."""
    df = ctx.images.select(*columns)
    ident = df.mapInArrow(lambda it: it, df.schema)

    def t(frame):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        return med(ts)

    return {"engine.scan_s": t(df), "engine.arrow_roundtrip_s": t(ident)}


def codec_probes(chunk: int, per_fmt: int = 200, reps: int = 3) -> dict:
    """Driver-side codec timings on this workload's own 32x32 payloads."""
    from fiona_spark import codec

    t = inputs.read_chunk(chunk, columns=["bytes", "fmt", "w", "h"]).to_pydict()
    out, phash = {}, []
    for fmt in ("raw", "rle", "q6"):
        datas = [b for b, f, w, h in zip(t["bytes"], t["fmt"], t["w"], t["h"])
                 if f == fmt and w == 32 and h == 32][:per_fmt]
        m = len(datas)

        def per_image(fn):
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            return min(ts) / max(1, m) * 1e6

        imgs = [codec.decode(d, fmt, 32, 32) for d in datas]
        out[f"codec.decode_us.{fmt}"] = per_image(
            lambda: [codec.decode(d, fmt, 32, 32) for d in datas])
        out[f"codec.decode_batch_us.{fmt}"] = per_image(
            lambda: codec.decode_batch(datas, fmt, 32, 32))
        out[f"codec.encode_us.{fmt}"] = per_image(
            lambda: [codec.encode(im, fmt) for im in imgs])
        phash.append(per_image(lambda: [codec.phash64(im) for im in imgs]))
    out["codec.phash_us"] = med(phash)
    return out


def _files(d: str) -> dict:
    out = {}
    for root, _dirs, fs in os.walk(d):
        for f in fs:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(wls.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--images", type=int, default=None,
                   help="override the workload's image count (smoke tests)")
    p.add_argument("--zones", type=int, default=None,
                   help="override the workload's zone count (smoke tests)")
    p.add_argument("--corrupt", default=None,
                   help="perturb the reference digest of this call, to show "
                        "that the output check is live (smoke tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    wl = wls.WORKLOADS[args.workload]
    n_images = args.images or wl.n_images
    n_zones = (args.zones or wl.n_zones) if wl.n_zones else None
    t_proc = probes.process_start_epoch()
    isolate_run()

    # untimed input generation and references
    t_prep = time.time()
    chunks = inputs.chunk_ids(args.seed, n_images)
    paths = inputs.ensure_images(chunks)
    zpath = inputs.ensure_zones(n_zones) if n_zones else None
    lanes = trace and wl.name == "spatial_join"
    kinds = [o.kind for o in wl.ops] + (["shards"] if lanes else [])
    expected = ref.expected(chunks, kinds, zpath)
    sub = chunks[:max(1, len(chunks) // 5)]
    sub_expected = ref.expected(sub, ["pip", "knn"], zpath) if lanes else None
    if args.corrupt:
        kind = next(o.kind for o in wl.ops if o.name == args.corrupt)
        n, a, b = expected[kind]
        expected[kind] = [n, a + 1, b]
    meta = {"workload": wl.name, "seed": args.seed, "cores": HALF_CPUS,
            "n_images": n_images, "n_zones": n_zones, "chunks": chunks,
            "load1_start": probes.load1(),
            "foreign_spark": probes.foreign_spark(),
            "calib_start": probes.calibrate()}
    meta["prep_s"] = round(time.time() - t_prep, 3)
    layer: dict[str, float] = {}
    correct = True

    with probes.PeakPss() as pss:
        spark, get_spark_s, warmup_s = start_spark(trace)
        # process start to warm session, less the untimed input prep
        setup_s = time.time() - t_proc - meta["prep_s"]
        layer["session.get_spark_s"] = get_spark_s
        layer["session.warmup_s"] = warmup_s
        layer["session.rss_mb"] = pss.sample()
        meta["driver_memory"] = spark.sparkContext.getConf().get(
            "spark.driver.memory")

        images = spark.read.parquet(*paths)
        zones = spark.read.parquet(zpath) if zpath else None
        ctx = wls.Ctx(images, zones, n_zones, expected)
        tracer = tracing.Tracer(spark, trace)
        run = Runner(tracer)

        # untimed warm-up passes: the first compiles plans, imports the
        # package in the workers and builds broadcasts; the CPU cost of an
        # iteration keeps falling for two or three passes after that (JIT,
        # worker heaps)
        first, warm_passes, t_warm = {}, 0, time.perf_counter()
        while (warm_passes < MIN_WARM_PASSES
               or time.perf_counter() - t_warm < WARM_S):
            run.rescan()
            for op in wl.ops:
                span, ok = run.call(op, ctx)
                first.setdefault(op.name, span)
                correct &= ok
            warm_passes += 1
        meta["warm_passes"] = warm_passes

        # timed window
        steal0, t_win = probes.steal_s(), time.perf_counter()
        probe0, pss0 = run.probe_s, pss.busy_s
        iters, calls, faults = [], [], []
        attempted = failed = 0
        while True:
            # iteration CPU from full tree scans, outside every span
            wall, cpu0 = 0.0, run.rescan()
            flt0 = probes.tree_minflt(run.pids)
            for op in wl.ops:
                span, ok = run.call(op, ctx)
                attempted += 1
                failed += not ok
                wall += span.wall
                calls.append(span)
            iters.append((wall, run.rescan() - cpu0))
            faults.append(probes.tree_minflt(run.pids) - flt0)
            if (time.perf_counter() - t_win >= args.seconds
                    and len(iters) >= MIN_ITERS):
                break
        meta["window_s"] = round(time.perf_counter() - t_win, 3)
        meta["steal_s"] = round(probes.steal_s() - steal0, 2)
        # the benchmark's own /proc reads in the window: the driver's call
        # probes (outside the spans) and the PSS sampler thread
        meta["probe_s"] = round(run.probe_s - probe0, 4)
        meta["pss_sampler_s"] = round(pss.busy_s - pss0, 4)
        meta["iter_wall_s"] = [round(w, 3) for w, _ in iters]
        meta["iter_cpu_s"] = [round(c, 3) for _, c in iters]
        meta["iter_minflt"] = faults
        meta["digests"] = {op.name: first[op.name].extra["digest"]
                           for op in wl.ops}

        images_per_s = n_images / med([w for w, _ in iters])
        core_s_per_kimage = med([c for _, c in iters]) / n_images * 1000.0

        if trace:
            layer.update(engine_probes(ctx, wl.columns))
            if wl.name == "raster_payload":
                layer.update(codec_probes(chunks[0]))
            if lanes:
                correct &= cross_lane(spark, run, ctx, sub, sub_expected, meta)
                correct &= checkpoint_probes(run, ctx, n_images, layer, meta)
        peak_rss_mb = pss.peak_mb
        stop_spark(spark)

    meta["load1_end"] = probes.load1()
    meta["calib_end"] = probes.calibrate()
    meta["errors"] = run.errors[:10]

    if trace:
        layer["traced.images_per_s"] = images_per_s
        layer.update(span_metrics(tracer.spans, first, calls, len(iters)))
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "images_per_s": images_per_s,
                  "core_s_per_kimage": core_s_per_kimage,
                  "peak_rss_mb": peak_rss_mb,
                  "ok_frac": (attempted - failed) / attempted}
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in END_TO_END.items()}
    print(json.dumps({"meta": meta}), flush=True)
    print(json.dumps({"correct": bool(correct and failed == 0),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def lane_calls(run, ops, ctx) -> list:
    """Calls made after the window.  Of a name called more than once, the
    first call is its warm-up."""
    out = []
    run.rescan()
    for op in ops:
        span, ok = run.call(op, ctx)
        span.extra["lane"] = True
        out.append((span, ok))
    return out


def cross_lane(spark, run, ctx, sub, sub_expected, meta) -> bool:
    """The shuffled PIP and kNN lanes on a fifth of the inputs: each must
    match its reference and the broadcast lane's digest on the same rows."""
    sub_ctx = wls.Ctx(spark.read.parquet(
        *[inputs.chunk_path(c) for c in sub]), ctx.zones, ctx.n_zones,
        sub_expected)
    done = lane_calls(run, [*wls.SUBSET_OPS, *wls.SHUFFLED_OPS], sub_ctx)
    digests = {}
    for span, _ in done:
        digests.setdefault(span.name, span.extra["digest"])
    same = (digests["pip_join_subset"] == digests["pip_join_shuffled"]
            and digests["knn_join_subset"] == digests["knn_join_shuffled"])
    meta["cross_lane"] = {"images": len(sub) * inputs.CHUNK, "same": same,
                          "digests": digests}
    return same and all(ok for _, ok in done)


def checkpoint_probes(run, ctx, n_images, layer, meta) -> bool:
    """Three checkpointed runs into fresh directories, then a re-run into
    the last one, whose shards are all committed: it must write nothing."""
    wls.clear_checkpoints()
    done = lane_calls(run, [wls.checkpoint_op(i) for i in range(3)], ctx)
    out_dir = wls.checkpoint_dir(2)
    before = _files(out_dir)
    span, ok = run.call(wls.checkpoint_op(2, "run_checkpointed_resume"), ctx)
    after = _files(out_dir)
    wls.clear_checkpoints()
    layer["run_checkpointed.resume_s"] = span.wall
    layer["run_checkpointed.bytes_per_image"] = sum(
        size for p, (size, _) in before.items() if "/data/" in p) / n_images
    layer["run_checkpointed.shards"] = sum(p.endswith(".json")
                                           for p in before)
    meta["resume_wrote_nothing"] = before == after
    return ok and before == after and all(g for _, g in done)


def span_metrics(spans, first, calls, n_iters) -> dict:
    """Per-layer figures: medians over the timed calls of each operator,
    joined with the event log by job group.  A lane probed after the
    window reports its first call as ``first_s`` and the rest as calls."""
    groups = tracing.parse_eventlog()
    timed = {id(s) for s in calls}
    by_name: dict[str, list] = {}
    for s in spans:
        if id(s) in timed or s.extra.get("lane"):
            by_name.setdefault(s.name, []).append(s)
    out = {f"{name}.first_s": s.wall for name, s in first.items()}
    for name, ss in by_name.items():
        if ss[0].extra.get("lane") and len(ss) > 1:
            out[f"{name}.first_s"] = ss[0].wall
            ss = ss[1:]
        st = [groups.get(s.group, tracing.GroupStats()) for s in ss]
        out[f"{name}.call_s"] = med([s.wall for s in ss])
        out[f"{name}.cpu_s"] = med([s.cpu_s for s in ss])
        out[f"{name}.jobs"] = med([s.jobs for s in ss])
        out[f"{name}.rows_out"] = ss[0].rows_out
        out[f"{name}.driver_s"] = med([tracing.uncovered_s(
            s.start, s.end, g.intervals) for s, g in zip(ss, st)])
        out[f"{name}.task_cpu_s"] = med([g.task_cpu_s for g in st])
        out[f"{name}.shuffle_write_mb"] = med([g.shuffle_write_mb
                                               for g in st])
    window = [groups.get(s.group, tracing.GroupStats()) for s in calls]
    out["spark.gc_s"] = sum(g.gc_s for g in window) / n_iters
    out["spark.spill_mb"] = sum(g.spill_mb for g in window) / n_iters
    out["spark.failed_tasks"] = sum(g.failed_tasks for g in window) / n_iters
    return {k: v for k, v in out.items() if k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
