"""Repository benchmark: one named workload, closed loop, one client.

    python3 perfbench/run.py --workload decode_x8 --seed 1 --seconds 25 --trace 0

Runs from the root of a checkout on local[4] in this one driver process.
Set-up (JVM start, input materialization, Spark-free expected outputs and an
untimed warm-up) is followed by timed iterations for `--seconds`; each
iteration runs the workload's operations in order and checks every output
against its expected fingerprint.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics: half the time untraced, the other half with Spark's event log
attached to the same session, then untimed counts, in-process replays of the
decode layers and (decode_x8) a one-core run for the scaling ratio. The last
stdout line is one JSON object {correct, attempted, failed, metrics}; a human
summary and the host context go to stderr.
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

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 120.0  # stop iterating well before the 180 s run limit
MIN_ITERS = 3
WARMUP_ITERS = 1  # with C1 only, the second iteration is already at the plateau

END_TO_END = {"wall_s": "s", "setup_s": "s"}

PER_LAYER = {
    "tiff.meta.decode_metadata_ms": "ms",
    "tiff.meta.pixel_chunks_ms": "ms",
    "tiff.pixels.decompress_ms": "ms",
    "tiff.pixels.decode_chunk_ms": "ms",
    "udfs.meta_row_ms": "ms",
    "udfs.decode_full_ms": "ms",
    "udfs.cell_groups_ms": "ms",
    "udfs.reduce_by_cell_ms": "ms",
    "udfs.batch_fn_s": "s",
    "udfs.meta_parses_per_image": "count",
    "arrow.bytes_to_python": "bytes",
    "arrow.rows_to_python": "count",
    "arrow.overhead_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.task_cpu_s": "s",
    "spark.decode_stage_s": "s",
    "spark.decode_stage_tasks": "count",
    "spark.decode_stage_max_over_median_task": "ratio",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "chunks.rows": "count",
    "cells.cover_rows": "count",
    "skew.hot_cells": "count",
    "spatial.pip_useful_ratio": "ratio",
    "window.useful_ratio": "ratio",
    "checkpoint.write_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.verify_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.resume_useful_ratio": "ratio",
    "phase.flagship_s": "s",
    "phase.window_read_s": "s",
    "phase.pip_s": "s",
    "phase.knn_s": "s",
    "phase.within_s": "s",
    "images_per_s": "1/s",
    "scaling.eff_1to4": "ratio",
    "memory.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_frac": "ratio",
}

SPARK_PER_ITERATION = ("jobs", "stages", "tasks", "job_s", "driver_gap_s", "scheduler_delay_s",
                       "task_cpu_s", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                       "spill_bytes")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Runner:
    """Runs operations, checks them and keeps the tally."""

    def __init__(self, ops: dict, expect: dict):
        self.ops, self.expect = ops, expect
        self.attempted = self.failed = 0

    def check(self, name: str, fn) -> float:
        t0 = time.perf_counter()
        try:
            got = fn()
            ok = got == self.expect[name]
            if not ok:
                log(f"{name}: output {got} != expected {self.expect[name]}")
        except Exception as exc:  # noqa: BLE001 — any raise is a failed operation
            ok = False
            log(f"{name}: raised {type(exc).__name__}: {str(exc)[:300]}")
        self.attempted += 1
        self.failed += not ok
        return time.perf_counter() - t0

    def loop(self, seconds: float, min_iters: int = MIN_ITERS):
        """Closed loop for `seconds`: (iteration walls, per-op times, per-op
        (start, end) epoch marks of each iteration)."""
        walls: list[float] = []
        per_op: dict[str, list[float]] = {n: [] for n in self.ops}
        marks: list[dict] = []
        t_end = time.perf_counter() + seconds
        while len(walls) < min_iters or time.perf_counter() < t_end:
            if time.perf_counter() - T_START > DEADLINE_S:
                break
            it_marks = {}
            t0 = time.perf_counter()
            for name, fn in self.ops.items():
                e0 = time.time()
                per_op[name].append(self.check(name, fn))
                it_marks[name] = (e0, time.time())
            walls.append(time.perf_counter() - t0)
            marks.append(it_marks)
        return walls, per_op, marks


def session(work: str, cores: int):
    from aira_spark.session import get_spark
    from probes import EVENT_LOG_CONF

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # C1 only: the default tiered JIT keeps speeding iterations up for
        # longer than a run lasts, so each run would measure another point
        # of the warm-up curve
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        **EVENT_LOG_CONF,
    }
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=max(2 * cores, 16), extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_context(args, when: str) -> dict:
    import pyspark

    sha = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            sha = f.read().strip()
        ref = os.path.join(ROOT, ".git", sha[5:])
        if sha.startswith("ref: ") and os.path.exists(ref):
            with open(ref) as f:
                sha = f.read().strip()
    return {
        "when": when,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": next((ln for ln in subprocess.run(["java", "-version"], capture_output=True,
                                                  text=True).stderr.splitlines()
                      if " version " in ln), None),
        "git_sha": sha,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": args.cores,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="read the part/customer/supplier/nation keys from this "
                    "directory instead of generating them from the seed")
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] width; the traced run uses 1 for the scaling ratio")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    spec = W.configure(args.workload)
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401 — fails fast when the program is absent

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    # every JVM (launcher and driver) and Python worker keeps its temp files
    # in the checkout
    os.environ.update(
        TMPDIR=f"{work}/tmp",
        SPARK_LOCAL_DIRS=f"{work}/local",
        SPARK_GRAFT_DRIVER_MEM="2g",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    ctx = [host_context(args, "start")]
    # a SIGTERM still ends Spark's processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, detail = run(args, spec, work, W)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    ctx.append(host_context(args, "end"))
    log(f"host {json.dumps(ctx)}")
    with open(os.path.join(HERE, "_work", "history.jsonl"), "a") as f:
        f.write(json.dumps({"host": ctx, "result": result, **detail}) + "\n")
    print(json.dumps(result))
    return 0


def stop_processes() -> None:
    """Stop Spark, then wait until its JVM and every other process this one
    started has ended. The JVM outlives spark.stop(): it exits when its stdin
    closes, which would otherwise happen only after this process is gone."""
    import probes
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # already on the way out
    started = probes.descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as exc:  # noqa: BLE001 — the JVM is ended below either way
            log(f"spark stop raised {type(exc).__name__}: {str(exc)[:300]}")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            pass  # signalled below
    probes.end_processes({**started, **probes.descendants(os.getpid())})


def run(args, spec: dict, work: str, W) -> dict:
    import probes

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = session(work, args.cores)
    session_s = time.perf_counter() - t0

    # input materialization, repeated so set-up reports a median
    mats = []
    for rep in range(3):
        t0 = time.perf_counter()
        W.write_tables(f"{work}/data{rep}", spec, args.seed, args.tables)
        if spec["images"]:
            n_images = W.materialize_images(f"{work}/data{rep}", f"{work}/images{rep}")
        mats.append(time.perf_counter() - t0)
    data_dir, img_dir = f"{work}/data0", f"{work}/images0"
    if spec["images"]:
        spec = dict(spec, images=n_images)

    t0 = time.perf_counter()
    expect = W.expected(args.workload, data_dir, traced)
    oracle_s = time.perf_counter() - t0

    images = spark.read.parquet(img_dir) if spec["images"] else None
    runner = Runner(W.operations(args.workload, spark, images, data_dir), expect)
    t0 = time.perf_counter()
    runner.loop(0, min_iters=WARMUP_ITERS)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + median(mats) + oracle_s + warmup_s
    log(f"setup {setup_s:.2f}s: session {session_s:.2f} materialize {[round(m, 2) for m in mats]} "
        f"oracle {oracle_s:.2f} warm-up {warmup_s:.2f}")

    sampler = probes.RssSampler() if traced else None
    walls, per_op, _ = runner.loop(args.seconds / 2 if traced else args.seconds)
    wall_s = median(walls)
    log(f"wall_s {wall_s:.3f} over {len(walls)} iterations {[round(w, 3) for w in walls]}; "
        f"per operation {({n: round(median(v), 3) for n, v in per_op.items()})}")

    if traced:
        sampler.close()
        metrics = traced_metrics(args, spec, work, W, spark, runner, images, data_dir,
                                 img_dir, wall_s, per_op, sampler.peak)
        units = PER_LAYER
    else:
        metrics = {"wall_s": wall_s, "setup_s": setup_s}
        units = END_TO_END
    log(f"failed_frac {runner.failed / max(runner.attempted, 1):.4f} "
        f"({runner.failed}/{runner.attempted})")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }
    return result, {"iteration_walls": walls, "operation_times": per_op}


def traced_metrics(args, spec, work, W, spark, runner, images, data_dir, img_dir,
                   wall_s, per_op, peak_rss) -> dict:
    """Per-layer metrics; layers a workload does not exercise read 0."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    import probes
    from aira_spark.functions.cells import cell_from_xy
    from aira_spark.operators.skew import hot_keys
    from aira_spark.sources.vectors import points_table

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["memory.peak_rss_mb"] = peak_rss / 2**20
    phase = {n: median(v) for n, v in per_op.items()}
    for n, v in phase.items():
        m[f"phase.{n}_s"] = v
    if spec["images"]:
        m["images_per_s"] = spec["images"] / phase["flagship"]

    # the same operations with Spark's event log attached
    elog = probes.EventLog(spark, f"{work}/events")
    twalls, _, windows = runner.loop(args.seconds / 2)
    m["trace.wall_s"] = median(twalls)
    m["trace.overhead_frac"] = m["trace.wall_s"] / wall_s - 1
    ck: dict = {}
    if args.workload == "decode_x8":
        ck_path = f"{work}/checkpoint"
        runner.check("checkpoint", lambda: W.checkpoint_pass(spark, images, ck_path, ck))
    events = elog.close()

    iters = [probes.window_stats(events, min(w[0] for w in it.values()),
                                 max(w[1] for w in it.values())) for it in windows]
    for k in SPARK_PER_ITERATION:
        m[f"spark.{k}"] = median([s[k] for s in iters])
    m["arrow.bytes_to_python"] = median([s["py_bytes"] for s in iters])
    m["arrow.rows_to_python"] = median([s["py_rows"] for s in iters])

    # counts of work done, untimed, on the same inputs
    pts = points_table(spark, data_dir).withColumn(
        "cell", cell_from_xy(F.col("x"), F.col("y"), em.CELL_RES))
    m["skew.hot_cells"] = hot_keys(pts, "cell", sample_frac=None).count()
    if args.workload == "vector_joins":
        from aira_spark.operators.spatial import polygon_cells
        from aira_spark.sources.vectors import polygons_table

        cand = pts.join(polygon_cells(polygons_table(spark, data_dir), em.CELL_RES), "cell")
        m["spatial.pip_useful_ratio"] = runner.expect["pip"][0] / cand.count()
    if args.workload == "decode_x8":
        from aira_spark.operators.chunks import cell_cover, chunks_df, with_meta

        wm = with_meta(images).persist()
        m["chunks.rows"] = chunks_df(wm).count()
        m["cells.cover_rows"] = cell_cover(wm, em.CELL_RES).count()
        wm.unpersist()
        m["window.useful_ratio"] = runner.expect["window_read"][0] / m["chunks.rows"]

        dec = [probes.window_stats(events, *it["flagship"]) for it in windows]
        for k in ("decode_stage_s", "decode_stage_tasks", "decode_stage_max_over_median_task"):
            m[f"spark.{k}"] = median([s[k] for s in dec])
        m.update(probes.replay_decode(img_dir, em.CELL_RES, 2048))
        m["arrow.overhead_s"] = (median([s["decode_stage_task_s"] for s in dec])
                                 - m["udfs.batch_fn_s"])

        if ck:
            for n in ("write", "resume", "verify"):
                m[f"checkpoint.{n}_s"] = ck[n][1] - ck[n][0]
            m["checkpoint.bytes_written"], m["checkpoint.files_written"] = probes.dir_size(ck_path)
            pending = list(range(W.CKPT_KILLED_AFTER, W.CKPT_BUCKETS))
            pending_images = images.filter(
                F.pmod(F.xxhash64("image_id"), F.lit(W.CKPT_BUCKETS)).isin(pending)).count()
            decoded = probes.window_stats(events, *ck["resume"])["py_rows"]
            m["checkpoint.resume_useful_ratio"] = pending_images / max(decoded, 1)

        m["scaling.eff_1to4"] = one_core_wall(args) / (4 * wall_s)
    return m


def one_core_wall(args) -> float:
    """wall_s of the same workload and seed on local[1], from a child run
    (one JVM hosts one SparkContext at a time)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0", "--cores", "1"]
    if args.tables:
        cmd += ["--tables", args.tables]
    # leaves stop_processes() time to end everything within the 180 s limit
    left = 160 - (time.perf_counter() - T_START)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    # on a timeout the child keeps running, so stop_processes() ends it
    # together with its JVM and workers (subprocess.run would kill the
    # child alone and orphan them)
    out, err = proc.communicate(timeout=left)
    if proc.returncode != 0:
        raise subprocess.CalledProcessError(proc.returncode, cmd, out, err)
    return json.loads(out.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


if __name__ == "__main__":
    sys.exit(main())
