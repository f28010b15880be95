"""Shared plumbing: run directories, Spark start-up, CPU accounting
from /proc, spans for the traced mode, and readers for what Spark
already exposes (status tracker, status store, executed-plan metrics).
Nothing here changes the program; every layer is observed from outside.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO, ".perfbench")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# run directory + environment
# ---------------------------------------------------------------------------


class RunDir:
    """One directory per run under the checkout, holding its inputs,
    checkpoints, sinks and Spark's local dirs. Removed at the end, so
    no state carries over from an earlier run."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(WORK_ROOT, "runs", f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def prepare_env(run: RunDir) -> None:
    """Environment for the program and every process it starts: UTC,
    the checkout on PYTHONPATH (Python workers unpickle the program's
    functions), and every temporary directory inside the run dir."""
    tmp = run.sub("tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = REPO + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ.setdefault("LOG2CK_DRIVER_MEM", "2g")
    os.environ["LOG2CK_SPARK_ROTATION"] = "0"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' pyspark-shell"
    )


def start_spark():
    from log2ck_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop every query, the context, and the JVM; wait until the JVM
    (and with it every process it started) has ended."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# CPU and memory from /proc
# ---------------------------------------------------------------------------


def _stat(pid: int) -> "tuple[int, list[str]] | None":
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    return int(rest[1]), rest  # ppid, fields from state onwards


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(st[0], []).append(int(name))
    return kids


def _cpu_of(fields: list[str], with_children: bool) -> float:
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """CPU of the program's processes: this Python process, Spark's driver (its own
    time only; the benchmark's helper processes are its children and
    stay out), the JVM it launched, and every process the JVM started
    (Python workers), reaped children included."""

    def __init__(self):
        self.me = os.getpid()
        self.jvm = None
        for pid in _children_map().get(self.me, []):
            if "java" in _cmdline(pid).split(" ")[0] or "org.apache.spark" in _cmdline(pid):
                self.jvm = pid

    def sample(self) -> dict:
        kids = _children_map()
        out = {"python": 0.0, "jvm": 0.0, "workers": 0.0}
        st = _stat(self.me)
        if st:
            out["python"] = _cpu_of(st[1], with_children=False)
        if self.jvm is not None:
            st = _stat(self.jvm)
            if st:
                out["jvm"] = _cpu_of(st[1], with_children=False)
            stack = list(kids.get(self.jvm, []))
            while stack:
                pid = stack.pop()
                st = _stat(pid)
                if st:
                    out["workers"] += _cpu_of(st[1], with_children=True)
                stack.extend(kids.get(pid, []))
            # workers that exited were reaped into the JVM's counters
            st = _stat(self.jvm)
            if st:
                out["workers"] += (int(st[1][13]) + int(st[1][14])) / CLK_TCK
        out["total"] = out["python"] + out["jvm"] + out["workers"]
        return out

    def peak_rss_mb(self) -> float:
        kids = _children_map()
        pids = [self.me]
        if self.jvm is not None:
            stack = [self.jvm]
            while stack:
                pid = stack.pop()
                pids.append(pid)
                stack.extend(kids.get(pid, []))
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total / 1024.0


def steal_ticks() -> int:
    """Machine-wide CPU steal (time the hypervisor gave to others)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


# ---------------------------------------------------------------------------
# traced mode: spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (id, parent, name, start, end) around each call the
    benchmark makes into a layer. Kept in memory, written at the end.
    Disabled, a span costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict:
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["count"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - child_time.get(s["id"], 0.0)
        return out

    def write(self, workload: str, seed: int, metrics: dict, e2e: dict) -> str:
        out_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": workload, "seed": seed, "metrics": metrics, "end_to_end": e2e,
                       "layers": self.self_times(), "spans": self.spans}, f)
        return path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pctl(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[max(0, math.ceil(q * len(xs)) - 1)])


# ---------------------------------------------------------------------------
# what Spark exposes: jobs, stages, plan metrics, persisted RDDs
# ---------------------------------------------------------------------------


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.size() else -1

    def jobs_between(self, lo: int, hi: int) -> dict:
        """Jobs with lo < id <= hi: their count, stages, tasks, and the
        stages' shuffle-write bytes."""
        stages, tasks, shuffle = 0, 0, 0
        n_jobs = 0
        empty_q = self.sc._gateway.new_array(self.jvm.double, 0)
        none_list = self.jvm.java.util.ArrayList()
        for jid in range(lo + 1, hi + 1):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            n_jobs += 1
            for sid in info.stageIds:
                seq = self.store.stageData(sid, False, none_list, False, empty_q)
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped stage (reused shuffle output)
                    stages += 1
                    tasks += sd.numCompleteTasks()
                    shuffle += sd.shuffleWriteBytes()
        return {"jobs": n_jobs, "stages": stages, "tasks": tasks, "shuffle_bytes": shuffle}

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def files_read(self, df) -> int:
        """Files read by every file scan of an executed DataFrame
        (final adaptive plan)."""
        plan = df._jdf.queryExecution().executedPlan()
        read = 0
        stack = [plan]
        seen = 0
        while stack and seen < 500:
            node = stack.pop()
            seen += 1
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                stack.append(node.child())
                continue
            if cls == "FileSourceScanExec":
                m = node.metrics()
                if m.contains("numFiles"):
                    read += m.apply("numFiles").value()
            kids = node.children()
            for i in range(kids.size()):
                stack.append(kids.apply(i))
        return read


def fail(msg: str) -> "None":
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)
