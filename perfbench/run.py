"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Runs one workload against the program in this checkout, checks its
outputs, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the spans go to .perfbench/traces/. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import CLK_TCK, REPO, nproc, steal_ticks, ProcTree, RunDir, SparkProbe, Tracer, fail, prepare_env, start_spark, stop_spark  # noqa: E402

WORKLOADS = ("backfill", "live_tail")

END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s_per_mrow", "s"),
    ("sink_bytes_per_row", "B"),
    ("cpu_s_per_pass", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


class Ctx:
    """What a workload gets: seed, run dir, session, tracer, probes, and
    the clock that separates set-up from the timed operations."""

    def __init__(self, seed: int, run: RunDir, trace: bool):
        self.seed = seed
        self.run = run
        self.trace = trace
        self.tracer = Tracer(trace)
        self.layer: dict = {}
        self.excluded_s = 0.0
        self.first_op = None
        self.spark = self.probe = self.proc = None

    def excluded(self, fn, *a):
        """Input generation and reference computations: off set-up."""
        t = time.monotonic()
        try:
            return fn(*a)
        finally:
            self.excluded_s += time.monotonic() - t

    def start(self) -> None:
        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = start_spark()
        self.layer["session.start_s"] = time.perf_counter() - t
        self.probe = SparkProbe(self.spark)
        self.proc = ProcTree()

    def mark_first_op(self) -> None:
        self.first_op = time.monotonic()
        self.window_start = self.proc.sample()
        self.steal_start = steal_ticks()

    def end_window(self) -> None:
        """End of the timed operations: the process figures cover the
        window from the first timed operation to here."""
        self.window_end = self.proc.sample()
        self.layer["proc.peak_rss_mb"] = self.proc.peak_rss_mb()

    @property
    def setup_s(self) -> float:
        return self.first_op - T_PROCESS - self.excluded_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "log2ck_spark", "__init__.py")):
        fail(f"the program (log2ck_spark/) is not in {REPO}")
    sys.path.insert(0, REPO)

    run = RunDir(a.workload, a.seed)
    ctx = Ctx(a.seed, run, bool(a.trace))
    prepare_env(run)
    if a.workload == "backfill":
        from backfill import Backfill as W
    else:
        from live_tail import LiveTail as W
    wl = W(ctx)
    try:
        ctx.excluded(wl.generate)
        ctx.start()
        out = wl.run(a.seconds)
        c0, c1 = ctx.window_start, ctx.window_end
        ctx.layer["proc.cpu_jvm_s"] = c1["jvm"] - c0["jvm"]
        ctx.layer["proc.cpu_python_s"] = (c1["python"] - c0["python"]) + (c1["workers"] - c0["workers"])
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        wl.close()
        run.remove()

    steal = (steal_ticks() - ctx.steal_start) / CLK_TCK / nproc() / (time.monotonic() - ctx.first_op)
    print(f"perfbench: {a.workload} seed {a.seed}: cpu steal {steal:.1%} of the machine "
          f"since the first timed operation", file=sys.stderr)
    problems = out["problems"]
    for p in problems[:20]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    e2e = dict(out["e2e"], setup_s=ctx.setup_s)
    # wall-clock figures follow the shared VM's CPU steal too closely to
    # gate on (README): reported with the per-layer metrics
    for name in ("rows_per_s", "line_latency_p50_s", "pass_p50_s"):
        ctx.layer[name] = e2e.pop(name)
    if ctx.trace:
        # the traced run's end-to-end figures go to the trace file only
        # (they show the tracing overhead); the result line carries the
        # per-layer metrics
        names = per_layer_names()
        metrics = {n: {"value": float(ctx.layer.get(n, 0.0)), "unit": u} for n, u in names}
        path = ctx.tracer.write(a.workload, a.seed, ctx.layer, e2e)
        print(f"perfbench: trace written to {os.path.relpath(path, REPO)}", file=sys.stderr)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    # an operation that raises ends the run without a result, so a
    # printed result has no failed operations
    print(json.dumps({"correct": not problems, "attempted": int(out["attempted"]),
                      "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
