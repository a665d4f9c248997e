"""Measurement from outside the program: process memory from /proc, Spark's
own event log, and in-process replays of the decode layers' public
functions on the workload's image bytes. Also ends the processes a run
started, found through /proc."""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import threading
import time

# ------------------------------------------------------------ processes


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ...,
    start time at index 19."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below `root`; the start time
    tells a process from a later one that reuses its pid."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        st = _stat(d) if d.isdigit() else None
        if st is None or st[0] == "Z":
            continue
        children.setdefault(int(st[1]), []).append((int(d), st[19]))
    out, todo = {}, [root]
    while todo:
        for c, start in children.get(todo.pop(), []):
            out[c] = start
            todo.append(c)
    return out


def alive(procs: dict[int, str]) -> dict[int, str]:
    """The processes of `procs` that have not ended; reaps this process's
    own children that have."""
    out = {}
    for pid, start in procs.items():
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        st = _stat(pid)
        if st is not None and st[0] != "Z" and st[19] == start:
            out[pid] = start
    return out


def end_processes(procs: dict[int, str], grace_s: float = 10.0) -> None:
    """SIGTERM, then after `grace_s` SIGKILL, each process in `procs` that is
    still running, and wait until every one has ended."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        left = alive(procs)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        t_end = time.monotonic() + wait_s
        while left and time.monotonic() < t_end:
            time.sleep(0.05)
            left = alive(left)
        if not left:
            return


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of every process this one started (the JVM and its
    Python workers), sampled every 0.25 s from creation until close()."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.25):
            rss = sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, rss)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ event log


# the session must start with these so an attached log is plain JSON
EVENT_LOG_CONF = {
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class EventLog:
    """Spark's own event log, attached to a running session and detached
    again, so one session can be measured untraced and traced (restarting
    the SparkContext instead breaks PySpark's accumulator server)."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        os.makedirs(log_dir, exist_ok=True)
        self.dir = log_dir
        self._bus = jsc.listenerBus()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jvm.scala.Option.empty(),
            jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"),
            jsc.conf(), sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def close(self) -> dict:
        """Detach once every posted event is written; returns the parsed log."""
        self._bus.waitUntilEmpty()
        self._bus.removeListener(self._listener)
        self._listener.stop()
        return load_event_log(self.dir)


def _acc(task_info: dict, name: str) -> int:
    return sum(
        int(a.get("Update") or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name and str(a.get("Update", "")).lstrip("-").isdigit()
    )


def load_event_log(log_dir: str) -> dict:
    """jobs, stages and tasks of a finished application's event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"start": e["Submission Time"], "stages": e["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(e["Job ID"], {})["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "start": si.get("Submission Time"),
                        "end": si.get("Completion Time"),
                        "tasks": si["Number of Tasks"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics", {})
                    tasks.append({
                        "stage": e["Stage ID"],
                        "launch": ti["Launch Time"],
                        "finish": ti["Finish Time"],
                        "run_ms": tm.get("Executor Run Time", 0),
                        "deser_ms": tm.get("Executor Deserialize Time", 0),
                        "ser_ms": tm.get("Result Serialization Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "scan_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                        "records_in": tm.get("Input Metrics", {}).get("Records Read", 0)
                        + sr.get("Total Records Read", 0),
                        "shuffle_write": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                        "py_bytes": _acc(ti, "data sent to Python workers"),
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def window_stats(log: dict, t0: float, t1: float) -> dict:
    """Spark-side figures of the jobs submitted in [t0, t1] (epoch s)."""
    lo, hi = t0 * 1000, t1 * 1000
    jobs = [j for j in log["jobs"].values() if "start" in j and lo <= j["start"] <= hi]
    stage_ids = {s for j in jobs for s in j["stages"] if s in log["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    intervals = [(j["start"], j.get("end", j["start"])) for j in jobs]
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    py_stages = {s: ts for s, ts in by_stage.items() if sum(t["py_bytes"] for t in ts) > 0}
    out = {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "job_s": sum(e - s for s, e in intervals) / 1000,
        "driver_gap_s": ((hi - lo) - _union_ms(intervals)) / 1000,
        "scheduler_delay_s": sum(
            max(0, (t["finish"] - t["launch"]) - t["run_ms"] - t["deser_ms"] - t["ser_ms"])
            for t in tasks
        ) / 1000,
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "scan_bytes": sum(t["scan_bytes"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "py_bytes": sum(t["py_bytes"] for t in tasks),
        "py_rows": sum(t["records_in"] for ts in py_stages.values() for t in ts),
        "decode_stage_s": 0.0,
        "decode_stage_tasks": 0,
        "decode_stage_max_over_median_task": 0.0,
        "decode_stage_task_s": 0.0,
    }
    if py_stages:
        sid = max(py_stages, key=lambda s: sum(t["py_bytes"] for t in py_stages[s]))
        st, ts = log["stages"][sid], py_stages[sid]
        durs = [t["finish"] - t["launch"] for t in ts]
        out.update(
            decode_stage_s=((st["end"] or 0) - (st["start"] or 0)) / 1000,
            decode_stage_tasks=len(ts),
            decode_stage_max_over_median_task=max(durs) / max(statistics.median(durs), 1),
            decode_stage_task_s=sum(t["run_ms"] for t in ts) / 1000,
        )
    return out


# ------------------------------------------------------------ replays


def _ms_per_image(fn, items, n_images: int) -> float:
    t0 = time.perf_counter()
    for it in items:
        fn(it)
    return (time.perf_counter() - t0) * 1000 / max(n_images, 1)


def replay_decode(images_dir: str, res: int, batch_rows: int) -> dict:
    """Single-thread replay of the tiff and udfs layers on the workload's own
    image bytes: ms per image per public function, the full_decode_batches
    body over the workload's Arrow-sized batches, and how many times that
    body parses metadata per image."""
    import pandas as pd
    import pyarrow.parquet as pq

    from aira_spark.functions import udfs
    from aira_spark.tiff import tags as T
    from aira_spark.tiff.meta import decode_metadata, pixel_chunks
    from aira_spark.tiff.pixels import decode_chunk, decompress

    tbl = pq.read_table(images_dir, columns=["image_id", "bytes"])
    ids = tbl.column("image_id").to_pylist()
    bufs = tbl.column("bytes").to_pylist()
    n = len(bufs)
    metas = [decode_metadata(b) for b in bufs]
    out = {
        "tiff.meta.decode_metadata_ms": _ms_per_image(decode_metadata, bufs, n),
        "tiff.meta.pixel_chunks_ms": _ms_per_image(pixel_chunks, metas, n),
    }
    # the chunks _decode_full decodes for a band-0 consumer
    chunks = []
    for b, m in zip(bufs, metas):
        planar = m["planar"] == T.PLANAR_PLANAR
        for c in pixel_chunks(m):
            if c["size_x"] and c["size_y"] and not (planar and c["plane"] >= 1):
                chunks.append((b[c["offset"]: c["offset"] + c["nbytes"]], m, c))
    out["tiff.pixels.decompress_ms"] = _ms_per_image(
        lambda x: decompress(x[0], x[1]["compression"]), chunks, n)
    out["tiff.pixels.decode_chunk_ms"] = _ms_per_image(
        lambda x: decode_chunk(x[0], x[1], x[2]["chunk_idx"], x[2]["size_x"], x[2]["size_y"]),
        chunks, n)
    out["udfs.meta_row_ms"] = _ms_per_image(udfs._meta_row, bufs, n)
    decoded = []
    out["udfs.decode_full_ms"] = _ms_per_image(
        lambda b: decoded.append(udfs._decode_full(b, max_bands=1)), bufs, n)
    groups = []
    out["udfs.cell_groups_ms"] = _ms_per_image(
        lambda mp: groups.append(udfs.pixel_cell_groups(mp[0], mp[1][:, :, :1], res)), decoded, n)
    out["udfs.reduce_by_cell_ms"] = _ms_per_image(
        lambda x: udfs.reduce_by_cell(x[0][1][:, :, 0].astype("int64").ravel(), x[1]),
        list(zip(decoded, groups)), n)

    batches = [
        pd.DataFrame({"image_id": ids[i: i + batch_rows], "bytes": bufs[i: i + batch_rows]})
        for i in range(0, n, batch_rows)
    ]

    def run_body() -> None:
        for _ in udfs.full_decode_batches(res)(iter(batches)):
            pass

    t0 = time.perf_counter()
    run_body()
    out["udfs.batch_fn_s"] = time.perf_counter() - t0

    calls = [0]
    original = udfs.decode_metadata

    def counting(*a, **kw):
        calls[0] += 1
        return original(*a, **kw)

    udfs.decode_metadata = counting
    try:
        run_body()
    finally:
        udfs.decode_metadata = original
    out["udfs.meta_parses_per_image"] = calls[0] / max(n, 1)
    return out


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles
