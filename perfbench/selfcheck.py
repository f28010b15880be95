"""Self-check of the verifiers: each must accept a correct output and
reject a dropped row, a duplicated row and a row in the wrong date
partition. Needs no Spark; runs in a few seconds.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import verify  # noqa: E402
from common import WORK_ROOT  # noqa: E402

SEED = 5


def _write_sink(sink: str, by_day: dict[str, list[gen.Row]]) -> None:
    shutil.rmtree(sink, ignore_errors=True)
    for day, rows in by_day.items():
        d = os.path.join(sink, f"log_date={day}")
        os.makedirs(d, exist_ok=True)
        table = pa.table({
            "created_at": pa.array([dt.datetime.strptime(r.created_at, "%Y-%m-%d %H:%M:%S")
                                    for r in rows], pa.timestamp("us")),
            "logger": [r.logger for r in rows], "level": [r.level for r in rows],
            "message": [r.message for r in rows], "context": [r.context for r in rows],
            "extra": [r.extra for r in rows], "repo": ["default"] * len(rows),
            "name": [r.host for r in rows], "host": [r.host for r in rows],
        })
        pq.write_table(table, os.path.join(d, "part-0.parquet"))


def check(label: str, problems: list[str], expect_ok: bool) -> bool:
    ok = (not problems) == expect_ok
    verdict = "ok " if ok else "BAD"
    detail = problems[0] if problems else "accepted"
    print(f"[{verdict}] {label}: {detail}")
    return ok


def backfill_checks(root: str) -> bool:
    truth = gen.backfill_corpus(SEED, os.path.join(root, "backlog"), scale=0.05)
    by_day: dict[str, list[gen.Row]] = {}
    for r in sorted(truth.rows, key=lambda r: (r.created_at, r.seq)):
        by_day.setdefault(r.log_date, []).append(r)
    sink = os.path.join(root, "sink")
    days = sorted(by_day)
    results = []

    _write_sink(sink, by_day)
    results.append(check("backfill: correct sink", verify.verify_backfill_sink(sink, truth), True))

    dropped = copy.deepcopy(by_day)
    del dropped[days[3]][10]
    _write_sink(sink, dropped)
    results.append(check("backfill: dropped row", verify.verify_backfill_sink(sink, truth), False))

    duped = copy.deepcopy(by_day)
    duped[days[3]].insert(10, duped[days[3]][10])
    _write_sink(sink, duped)
    results.append(check("backfill: duplicated row", verify.verify_backfill_sink(sink, truth), False))

    moved = copy.deepcopy(by_day)
    row = moved[days[3]].pop()  # the day's last row, so the next day stays sorted
    moved[days[4]].insert(0, row)
    _write_sink(sink, moved)
    results.append(check("backfill: row in the wrong date partition",
                         verify.verify_backfill_sink(sink, truth), False))

    want = {"q": [("a", 1), ("b", 2)]}
    results.append(check("analyst: equal answer", verify.compare_answers({"q": [("b", 2), ("a", 1)]}, want), True))
    results.append(check("analyst: dropped row", verify.compare_answers({"q": [("a", 1)]}, want), False))
    results.append(check("analyst: duplicated row",
                         verify.compare_answers({"q": [("a", 1), ("a", 1), ("b", 2)]}, want), False))
    return all(results)


def live_checks() -> bool:
    plan = gen.LivePlan(SEED, 200.0, 1.0, 2.0, 0.5)
    rows, bad = gen.live_truth(plan, 1000.0)
    expected = verify.live_expected(rows, "edge1", "live")
    names = ("created_at", "logger", "level", "message", "context", "extra", "host", "name")

    def inserts_of(exp: dict) -> list[dict]:
        return [{"t": 0.0, "bytes": 0, "rows": [dict(zip(names, v)) for v in exp.values()]}]

    results = [check("live: correct inserts and dead letter",
                     verify.verify_live(inserts_of(expected), expected, bad, list(bad)), True)]
    dropped = dict(expected)
    dropped.pop(next(iter(dropped)))
    results.append(check("live: dropped row", verify.verify_live(inserts_of(dropped), expected, bad, list(bad)), False))
    ins = inserts_of(expected)
    ins[0]["rows"].append(dict(ins[0]["rows"][5]))
    results.append(check("live: duplicated row", verify.verify_live(ins, expected, bad, list(bad)), False))
    shifted = dict(expected)
    seq = next(iter(shifted))
    shifted[seq] = (shifted[seq][0] + 86_400,) + shifted[seq][1:]
    results.append(check("live: row on the wrong date",
                         verify.verify_live(inserts_of(shifted), expected, bad, list(bad)), False))
    results.append(check("live: dead letter missing a line",
                         verify.verify_live(inserts_of(expected), expected, bad, list(bad)[1:]), False))
    results.append(check("live: dead letter with a repeated line",
                         verify.verify_live(inserts_of(expected), expected, bad, list(bad) + bad[:1]), False))
    return all(results)


def main() -> int:
    root = os.path.join(WORK_ROOT, "selfcheck")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        ok = backfill_checks(root) & live_checks()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("SELF-CHECK", "PASSED" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
