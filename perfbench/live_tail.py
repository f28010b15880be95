"""`live_tail`: the program run as its CLI runs it —
`streaming.run_ingest_stream(..., with_dead_letter=True)` over the
`tailf` source (follow=True, trigger 1 s) into the `clickhouse_native`
sink, pointed at a local receiver process. One generator process
appends seeded lines to two growing daily files at a fixed open-loop
rate; half-way through the measured window one file rolls over to the
next day's name, the way the {date} macro rotates."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

import gen
import verify
from common import BENCH_DIR, median, pctl

RATE = 400.0  # lines per second, well below the sustainable rate
WARMUP_S = 6.0  # lines due in the first seconds warm the pipeline
TAIL_S = 1.0
HOST, NAME = "edge1", "live"


def _wait_for(path: str, timeout: float, proc=None) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if proc is not None and proc.poll() is not None:
            raise RuntimeError(f"helper process exited early ({proc.returncode})")
        if time.monotonic() > deadline:
            raise TimeoutError(f"waited {timeout}s for {path}")
        time.sleep(0.01)


def read_inserts(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.endswith("\n")]


class LiveTail:
    def __init__(self, ctx):
        self.ctx = ctx
        self.procs: list[subprocess.Popen] = []

    def generate(self) -> None:
        self.tail_dir = self.ctx.run.sub("tail")
        self.control = self.ctx.run.sub("control")

    def _spawn(self, *args: str) -> subprocess.Popen:
        p = subprocess.Popen([sys.executable, *args], stdin=subprocess.DEVNULL)
        self.procs.append(p)
        return p

    def close(self) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()

    def run(self, seconds: float) -> dict:
        from log2ck_spark.config import EngineConfig, SinkConfig, TailSpec
        from log2ck_spark.streaming import run_ingest_stream, stop_all

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        plan = gen.LivePlan(ctx.seed, RATE, WARMUP_S, seconds, TAIL_S)
        with tr.span("warmup"):
            t_warm = time.perf_counter()
            receiver = self._spawn(os.path.join(BENCH_DIR, "receiver.py"), "--control", self.control)
            _wait_for(os.path.join(self.control, "port"), 30, receiver)
            with open(os.path.join(self.control, "port")) as f:
                port = int(f.read())
            generator = self._spawn(
                os.path.join(BENCH_DIR, "gen.py"), "--dir", self.tail_dir, "--control", self.control,
                "--seed", str(ctx.seed), "--rate", str(RATE), "--warmup", str(WARMUP_S),
                "--measure", str(seconds), "--tail", str(TAIL_S),
            )
            _wait_for(os.path.join(self.control, "ready"), 30, generator)
            sink = SinkConfig(
                path=ctx.run.sub("sink"), kind="clickhouse_native",
                options={"host": "127.0.0.1", "port": port, "table": "logs.monolog"},
            )
            tail = TailSpec(name=NAME, path=os.path.join(self.tail_dir, "*-{date}.log"),
                            host=HOST, follow=True, skip_history=True)
            config = EngineConfig(tails=[tail], sink=sink, checkpoint_root=ctx.run.sub("ckpt"),
                                  trigger_seconds=1)
            with tr.span("streaming.run_ingest_stream"):
                main_q, dead_q = run_ingest_stream(spark, config, tail, with_dead_letter=True)
            # lines start only once both queries hold their initial
            # offsets (skiphistory starts pre-existing files at EOF)
            deadline = time.monotonic() + 60
            while main_q.lastProgress is None or dead_q.lastProgress is None:
                if time.monotonic() > deadline:
                    raise TimeoutError("streams did not start")
                time.sleep(0.05)
            t0 = time.monotonic() + 0.2
            tmp = os.path.join(self.control, "go.tmp")
            with open(tmp, "w") as f:
                f.write(repr(t0))
            os.replace(tmp, os.path.join(self.control, "go"))
            time.sleep(max(0.0, t0 + WARMUP_S - time.monotonic()))
            ctx.layer["warmup_s"] = time.perf_counter() - t_warm
        ctx.mark_first_op()
        j0 = ctx.probe.max_job_id()
        time.sleep(max(0.0, t0 + WARMUP_S + seconds - time.monotonic()))
        ctx.end_window()
        cpu = ctx.window_end["total"] - ctx.window_start["total"]
        j1 = ctx.probe.max_job_id()
        window = (t0 + WARMUP_S, t0 + WARMUP_S + seconds)

        # -- drain: wait until every valid line is acknowledged --
        rows, bad = gen.live_truth(plan, t0)
        log = os.path.join(self.control, "inserts.jsonl")
        _wait_for(os.path.join(self.control, "done"), 60, generator)
        deadline = time.monotonic() + 60
        while sum(len(i["rows"]) for i in read_inserts(log)) < len(rows):
            if time.monotonic() > deadline or main_q.exception() is not None:
                break
            time.sleep(0.2)
        dead_q.processAllAvailable()
        progress_main = list(main_q.recentProgress)
        progress_dead = list(dead_q.recentProgress)
        stop_all(spark)
        self.close()
        with open(os.path.join(self.control, "done")) as f:
            gen_report = json.load(f)

        # -- checks --
        inserts = read_inserts(log)
        expected = verify.live_expected(rows, HOST, NAME)
        dead = verify.read_dead_letter(os.path.join(sink.path, "_dead_letter"))
        problems = verify.verify_live(inserts, expected, bad, dead)

        ack_of: dict[int, float] = {}
        for ins in inserts:
            for r in ins["rows"]:
                ack_of.setdefault(int(r["message"].split("seq=", 1)[1].split()[0]), ins["t"])
        lat = [ack_of[r.seq] - (t0 + plan.due_offset(r.seq))
               for r in rows if plan.in_window(r.seq) and r.seq in ack_of]
        n_window = sum(1 for r in rows if plan.in_window(r.seq))
        in_win = [p for p in progress_main if _in_window(p, window)]
        batches = max(1, len(in_win))
        wire = sum(i["bytes"] for i in inserts)
        n_rows = sum(len(i["rows"]) for i in inserts)
        last_ack = max((ack_of[r.seq] for r in rows if plan.in_window(r.seq) and r.seq in ack_of),
                       default=window[1])
        e2e = {
            # window lines delivered per second, up to the last one's ack
            "rows_per_s": len(lat) / (last_ack - window[0]),
            "cpu_s_per_mrow": cpu / (n_window / 1e6),
            "sink_bytes_per_row": wire / max(1, n_rows),
            "line_latency_p50_s": pctl(lat, 0.5),
            "pass_p50_s": median(p.batchDuration / 1000.0 for p in in_win),
            "cpu_s_per_pass": cpu / batches,
        }
        # too few batches beyond it for an end-to-end tail (README)
        ctx.layer["line_latency_p90_s"] = pctl(lat, 0.9)
        if ctx.trace:
            self._layers(in_win, [p for p in progress_dead if _in_window(p, window)],
                         inserts, rows, plan, t0, window, (j0, j1), gen_report)
        # lines (valid and unparseable) the program had to handle
        attempted = len(rows) + len(bad)
        return {"e2e": e2e, "problems": problems, "attempted": attempted}

    def _layers(self, main_p, dead_p, inserts, rows, plan, t0, window, jobs, gen_report) -> None:
        L = self.ctx.layer
        dur = lambda p, k: float(p.durationMs.get(k, 0))  # noqa: E731
        n = max(1, len(main_p))
        L["streaming.batches"] = len(main_p)
        L["streaming.rows_per_batch_p50"] = median(p.numInputRows for p in main_p)
        L["streaming.trigger_ms_p50"] = median(dur(p, "triggerExecution") for p in main_p)
        L["streaming.planning_ms_p50"] = median(dur(p, "queryPlanning") for p in main_p)
        L["streaming.wal_ms_p50"] = median(dur(p, "walCommit") + dur(p, "commitOffsets") for p in main_p)
        j = self.ctx.probe.jobs_between(*jobs)
        L["streaming.jobs_per_batch"] = j["jobs"] / n
        L["streaming.tasks_per_batch"] = j["tasks"] / n
        L["tailf.latest_offset_ms_p50"] = median(dur(p, "latestOffset") for p in main_p)
        L["tailf.get_batch_ms_p50"] = median(dur(p, "getBatch") for p in main_p)
        L["native.add_batch_ms_p50"] = median(dur(p, "addBatch") for p in main_p)
        L["deadletter.add_batch_ms_p50"] = median(dur(p, "addBatch") for p in dead_p)
        win = [i for i in inserts if window[0] <= i["t"] < window[1]]
        L["native.inserts"] = len(win)
        L["native.rows_per_insert"] = median(len(i["rows"]) for i in win)
        L["native.wire_bytes_per_row"] = (
            sum(i["bytes"] for i in win) / max(1, sum(len(i["rows"]) for i in win))
        )
        # backlog: lines generated minus lines acknowledged, sampled
        # every 100 ms over the window
        acks = sorted(i["t"] for i in inserts for _r in i["rows"])
        worst, k, t = 0, 0, window[0]
        while t < window[1]:
            while k < len(acks) and acks[k] <= t:
                k += 1
            due = int((t - t0) * plan.rate) + 1
            worst = max(worst, due - due // gen.LIVE_BAD_EVERY - k)
            t += 0.1
        L["tailf.backlog_lines_max"] = worst
        L["gen.late_ms_max"] = gen_report["late_max_s"] * 1000.0


def _in_window(p, window) -> bool:
    """Progress events whose trigger started inside the window (the
    event's timestamp is wall-clock; convert through the offset between
    the two clocks)."""
    wall = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    mono = wall - (time.time() - time.monotonic())
    return window[0] <= mono < window[1]
