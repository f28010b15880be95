"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same bytes. The generator also keeps its own records of what it wrote,
so the verifiers can check the program's outputs against a truth that
never went through the program (counts per (date, level, logger),
sequence-number sums, and the list of unparseable lines).

Run as a script it is the `live_tail` line generator: an open-loop
writer appending seeded lines to growing daily files at a fixed rate
(see `live_main`).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

LEVELS = ("DEBUG", "INFO", "NOTICE", "WARNING", "ERROR", "CRITICAL")
LEVEL_WEIGHTS = (30, 42, 6, 12, 8, 2)
LOGGERS = tuple(
    f"{a}_{b}"
    for a in ("api", "auth", "billing", "cache", "cron", "db")
    for b in ("main", "pool", "worker", "queue", "http", "audit")
)  # 36 loggers; picked with Zipf-like weights
REGIONS = ("eu-1", "eu-2", "us-1", "us-2", "ap-1")
VERBS = ("fetch", "store", "render", "sync", "charge", "retry", "login", "purge")
OBJECTS = ("order", "invoice", "session", "user", "report", "asset", "token")
OUTCOMES = ("ok", "ok", "ok", "slow", "timeout", "denied", "failed")

BACKFILL_START = dt.date(2024, 3, 1)
BACKFILL_DAYS = 14
# lines per host: the busier host carries 60 %, so the median line
# always falls inside its second micro-batch and the latency percentile
# does not flip between two batches from seed to seed
BACKFILL_HOSTS = {"web1": 24_000, "web2": 16_000}
BAD_SHARE = 0.03

LIVE_DATE = dt.date(2024, 5, 1)
LIVE_FILES = ("a", "b")
LIVE_BAD_EVERY = 40  # every 40th live line is unparseable


def _logger_weights() -> list[float]:
    return [1.0 / (i + 1) ** 0.9 for i in range(len(LOGGERS))]


def monolog_line(ts: str, logger: str, level: str, message: str,
                 context: str, extra: str) -> str:
    return f"[{ts}] {logger}.{level}: {message} {context} {extra}"


def _bad_line(rng: random.Random, seq: int, day: dt.date) -> str:
    """One line the monolog grammar must reject: a stack-trace
    continuation, a PHP notice without the bracketed timestamp, or a
    bracketed line whose datetime does not exist."""
    kind = rng.randrange(3)
    if kind == 0:
        return f"#{rng.randrange(12)} /srv/app/src/Kernel.php({rng.randrange(900)}): handle() seq={seq}"
    if kind == 1:
        return f"PHP Notice:  Undefined index: k{rng.randrange(50)} in /srv/app/x.php seq={seq}"
    return monolog_line(
        f"{day.year}-02-30 25:{rng.randrange(60):02d}:00", "app", "ERROR",
        f"bad clock seq={seq}", "{}", "[]",
    )


@dataclass
class Row:
    seq: int
    created_at: str  # 'YYYY-MM-DD HH:MM:SS'
    logger: str
    level: str
    message: str
    context: str
    extra: str
    host: str

    @property
    def log_date(self) -> str:
        return self.created_at[:10]


@dataclass
class Truth:
    """What the generator wrote, recorded without the program."""

    rows: list[Row] = field(default_factory=list)  # valid lines
    bad: list[str] = field(default_factory=list)  # unparseable lines
    lines: int = 0

    def counts(self) -> Counter:
        """Valid rows per (date, level, logger)."""
        return Counter((r.log_date, r.level, r.logger) for r in self.rows)

    def seq_sum(self) -> int:
        return sum(r.seq for r in self.rows)


# ---------------------------------------------------------------------------
# backfill: a backlog of closed daily files per host
# ---------------------------------------------------------------------------


def backfill_corpus(seed: int, root: str, scale: float = 1.0) -> Truth:
    """Write `<root>/<host>/app-<date>.log` for every host and day;
    return the truth. Day volumes follow a weekday pattern with noise,
    so partitions are skewed; lines in a file are in time order."""
    rng = random.Random(seed)
    lw = _logger_weights()
    truth = Truth()
    seq = 0
    for host, host_lines in BACKFILL_HOSTS.items():
        os.makedirs(os.path.join(root, host), exist_ok=True)
        day_w = [
            (0.5 if (BACKFILL_START + dt.timedelta(d)).weekday() >= 5 else 1.0)
            * rng.uniform(0.7, 1.3)
            for d in range(BACKFILL_DAYS)
        ]
        total_w = sum(day_w)
        for d in range(BACKFILL_DAYS):
            day = BACKFILL_START + dt.timedelta(d)
            n = int(host_lines * scale * day_w[d] / total_w)
            secs = sorted(rng.randrange(86_400) for _ in range(n))
            out = []
            for s in secs:
                seq += 1
                truth.lines += 1
                if rng.random() < BAD_SHARE:
                    line = _bad_line(rng, seq, day)
                    truth.bad.append(line)
                    out.append(line)
                    continue
                ts = (dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=s)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                logger = rng.choices(LOGGERS, lw)[0]
                level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
                outcome = rng.choice(OUTCOMES)
                ms = int(rng.expovariate(1 / 40.0)) + 1
                message = (
                    f"{rng.choice(VERBS)} {rng.choice(OBJECTS)} {outcome} seq={seq} took {ms}ms"
                )
                context = json.dumps(
                    {"user": rng.randrange(5000), "ms": ms, "region": rng.choice(REGIONS)},
                    separators=(",", ":"),
                )
                extra = "[]" if rng.random() < 0.7 else f'{{"pid":{rng.randrange(100, 999)}}}'
                truth.rows.append(Row(seq, ts, logger, level, message, context, extra, host))
                out.append(monolog_line(ts, logger, level, message, context, extra))
            path = os.path.join(root, host, f"app-{day.isoformat()}.log")
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(out) + "\n")
    return truth


# ---------------------------------------------------------------------------
# live_tail: an open-loop schedule of lines into growing daily files
# ---------------------------------------------------------------------------


@dataclass
class LivePlan:
    seed: int
    rate: float  # lines per second
    warmup_s: float
    measure_s: float
    tail_s: float

    @property
    def n_lines(self) -> int:
        return int(self.rate * (self.warmup_s + self.measure_s + self.tail_s))

    @property
    def rollover_seq(self) -> int:
        """File `b` rolls to the next day's name half-way through the
        measured window."""
        return int(self.rate * (self.warmup_s + self.measure_s / 2))

    def due_offset(self, seq: int) -> float:
        return seq / self.rate

    def in_window(self, seq: int) -> bool:
        off = self.due_offset(seq)
        return self.warmup_s <= off < self.warmup_s + self.measure_s


def live_lines(plan: LivePlan):
    """Yield (seq, file_key, day, payload) for the whole schedule;
    payload is (logger, level, context) for a valid line and None for an
    unparseable one. Due times are offsets from the schedule's start."""
    rng = random.Random(plan.seed * 7919 + 1)
    lw = _logger_weights()
    for seq in range(plan.n_lines):
        fkey = rng.choice(LIVE_FILES)
        day = LIVE_DATE
        if fkey == "b" and seq >= plan.rollover_seq:
            day = LIVE_DATE + dt.timedelta(1)
        if seq % LIVE_BAD_EVERY == LIVE_BAD_EVERY - 1:
            yield seq, fkey, day, None
            continue
        logger = rng.choices(LOGGERS, lw)[0]
        level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
        ctx = json.dumps({"user": rng.randrange(5000), "region": rng.choice(REGIONS)},
                         separators=(",", ":"))
        yield seq, fkey, day, (logger, level, ctx)


def render_live(plan: LivePlan, seq: int, day: dt.date, payload,
                t0: float) -> tuple[str, "Row | None"]:
    """The line as written, and the sink row it must become (None for
    an unparseable line); `t0` is the schedule's monotonic start."""
    due = t0 + plan.due_offset(seq)
    ts = (dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=seq // 10)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    if payload is None:
        return f"#{seq % 12} /srv/app/src/Kernel.php(7): tick() seq={seq} due={due:.6f}", None
    logger, level, ctx = payload
    message = f"tick seq={seq} due={due:.6f}"
    row = Row(seq, ts, logger, level, message, ctx, "[]", "")
    return monolog_line(ts, logger, level, message, ctx, "[]"), row


def live_path(root: str, fkey: str, day: dt.date) -> str:
    return os.path.join(root, f"{fkey}-{day.isoformat()}.log")


def live_truth(plan: LivePlan, t0: float) -> tuple[list[Row], list[str]]:
    rows, bad = [], []
    for seq, _fkey, day, payload in live_lines(plan):
        line, row = render_live(plan, seq, day, payload, t0)
        if row is None:
            bad.append(line)
        else:
            rows.append(row)
    return rows, bad


def live_main(argv: "list[str] | None" = None) -> int:
    """Open-loop writer. Creates the day-1 files, writes `ready`, waits
    for `go` (holding the monotonic start time), then appends every
    line at its due time, flushing in small clumps. Reports how late it
    ran in `done`."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--control", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--warmup", type=float, required=True)
    ap.add_argument("--measure", type=float, required=True)
    ap.add_argument("--tail", type=float, required=True)
    a = ap.parse_args(argv)
    plan = LivePlan(a.seed, a.rate, a.warmup, a.measure, a.tail)
    os.makedirs(a.dir, exist_ok=True)
    handles = {}
    for fkey in LIVE_FILES:
        p = live_path(a.dir, fkey, LIVE_DATE)
        handles[(fkey, LIVE_DATE)] = open(p, "a", encoding="utf-8")
    with open(os.path.join(a.control, "ready"), "w") as f:
        f.write("1")
    go = os.path.join(a.control, "go")
    while not os.path.exists(go):
        time.sleep(0.005)
    with open(go) as f:
        t0 = float(f.read())
    late_max = 0.0
    pending: dict = {}

    def flush() -> None:
        for key, buf in pending.items():
            h = handles.get(key)
            if h is None:
                h = handles[key] = open(live_path(a.dir, *key), "a", encoding="utf-8")
            h.write(buf)
            h.flush()
        pending.clear()

    # a line is written at or after its due time, never before; lines
    # already due are written together before the next sleep
    for seq, fkey, day, payload in live_lines(plan):
        line, _row = render_live(plan, seq, day, payload, t0)
        due = t0 + plan.due_offset(seq)
        if due > time.monotonic():
            flush()
            time.sleep(max(0.0, due - time.monotonic()))
        late_max = max(late_max, time.monotonic() - due)
        pending[(fkey, day)] = pending.get((fkey, day), "") + line + "\n"
    flush()
    for h in handles.values():
        h.close()
    with open(os.path.join(a.control, "done"), "w") as f:
        json.dump({"late_max_s": late_max, "lines": plan.n_lines}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(live_main())
