"""Verifiers: the program's outputs against the generator's own records
and against DuckDB, never against a copy of an earlier output.

Each verifier returns a list of problems; an empty list means the
output is correct. `selfcheck.py` shows that each one rejects a dropped
row, a duplicated row and a row in the wrong date partition.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import duckdb

from gen import Row, Truth

SEQ_SQL = r"CAST(regexp_extract(message, 'seq=(\d+)', 1) AS BIGINT)"


def _glob(sink: str) -> str:
    return os.path.join(sink, "**", "*.parquet")


def _compare_rows(got: list[tuple], expected: dict[int, tuple], bad_seqs: set[int],
                  what: str) -> list[str]:
    """got: (seq, *fields) tuples. Every expected seq exactly once with
    equal fields, nothing else."""
    problems: list[str] = []
    seen = Counter(r[0] for r in got)
    dups = [s for s, n in seen.items() if n > 1]
    if dups:
        problems.append(f"{what}: {len(dups)} sequence numbers appear more than once (e.g. {dups[0]})")
    leaked = [s for s in seen if s in bad_seqs]
    if leaked:
        problems.append(f"{what}: {len(leaked)} unparseable lines were committed (e.g. seq {leaked[0]})")
    missing = [s for s in expected if s not in seen]
    if missing:
        problems.append(f"{what}: {len(missing)} valid lines missing (e.g. seq {missing[0]})")
    extra = [s for s in seen if s not in expected and s not in bad_seqs]
    if extra:
        problems.append(f"{what}: {len(extra)} rows with unknown sequence numbers")
    wrong = [r for r in got if r[0] in expected and tuple(r[1:]) != expected[r[0]]]
    if wrong:
        r = wrong[0]
        problems.append(f"{what}: {len(wrong)} rows differ from the generator, e.g. {r} != {expected[r[0]]}")
    return problems


def _seq_of(line: str) -> int:
    return int(line.rsplit("seq=", 1)[1].split()[0])


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


def backfill_expected(truth: Truth) -> dict[int, tuple]:
    return {
        r.seq: (r.created_at, r.logger, r.level, r.message, r.context, r.extra,
                r.host, r.host, r.created_at[:10])
        for r in truth.rows
    }


def verify_backfill_sink(sink: str, truth: Truth, expected: "dict | None" = None) -> list[str]:
    """DuckDB over the sink files matches the generator's truth; no
    sequence number twice, no unparseable line; every file under
    log_date=D holds only day-D rows, sorted by created_at."""
    con = duckdb.connect()
    src = f"read_parquet('{_glob(sink)}', hive_partitioning=true, filename=true, file_row_number=true)"
    rows = con.execute(
        f"""SELECT {SEQ_SQL}, strftime(created_at, '%Y-%m-%d %H:%M:%S'), logger, level,
                   message, context, extra, host, name, CAST(log_date AS VARCHAR)
            FROM {src}"""
    ).fetchall()
    expected = expected if expected is not None else backfill_expected(truth)
    bad_seqs = {_seq_of(b) for b in truth.bad}
    problems = _compare_rows(rows, expected, bad_seqs, "backfill sink")
    got_counts = Counter(
        {(d, lv, lg): n for d, lv, lg, n in con.execute(
            f"SELECT CAST(log_date AS VARCHAR), level, logger, count(*) FROM {src} GROUP BY ALL"
        ).fetchall()}
    )
    if got_counts != truth.counts():
        problems.append("backfill sink: counts per (date, level, logger) differ from the generator")
    seq_sum = con.execute(f"SELECT sum({SEQ_SQL}) FROM {src}").fetchone()[0]
    if seq_sum != truth.seq_sum():
        problems.append(f"backfill sink: sequence-number sum {seq_sum} != {truth.seq_sum()}")
    layout = con.execute(
        f"""SELECT filename,
                   count(*) FILTER (WHERE CAST(created_at AS DATE) <> log_date) AS off_day,
                   count(*) FILTER (WHERE created_at < prev) AS unsorted
            FROM (SELECT filename, log_date, created_at,
                         lag(created_at) OVER (PARTITION BY filename ORDER BY file_row_number) AS prev
                  FROM {src})
            GROUP BY filename
            HAVING off_day > 0 OR unsorted > 0"""
    ).fetchall()
    for fname, off_day, unsorted in layout[:3]:
        problems.append(
            f"backfill sink layout: {os.path.relpath(fname, sink)} has {off_day} rows of another day, "
            f"{unsorted} out of created_at order"
        )
    return problems


def analyst_oracle(sink: str, sql_by_name: dict[str, str]) -> dict[str, list]:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW logs AS SELECT * FROM read_parquet('{_glob(sink)}', hive_partitioning=true)"
    )
    return {name: sorted(con.execute(sql).fetchall()) for name, sql in sql_by_name.items()}


def compare_answers(got: dict[str, list], want: dict[str, list]) -> list[str]:
    problems = []
    for name, rows in want.items():
        if sorted(got.get(name, [])) != rows:
            problems.append(f"analyst answer {name} differs from DuckDB's")
    return problems


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------


def live_expected(rows: list[Row], host: str, name: str) -> dict[int, tuple]:
    out = {}
    for r in rows:
        epoch = int(dt.datetime.strptime(r.created_at, "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=dt.timezone.utc).timestamp())
        out[r.seq] = (epoch, r.logger, r.level, r.message, r.context, r.extra, host, name)
    return out


def verify_live(inserts: list[dict], expected: dict[int, tuple], bad: list[str],
                dead_letter: list[str]) -> list[str]:
    """Every valid line acknowledged exactly once with the generator's
    fields; every unparseable line exactly once in the dead letter."""
    got = []
    for ins in inserts:
        for r in ins["rows"]:
            seq = int(r["message"].split("seq=", 1)[1].split()[0]) if "seq=" in r["message"] else -1
            got.append((seq, r["created_at"], r["logger"], r["level"], r["message"],
                        r["context"], r["extra"], r["host"], r["name"]))
    bad_seqs = {_seq_of(b) for b in bad}
    problems = _compare_rows(got, expected, bad_seqs, "native sink")
    want_dead = Counter(bad)
    got_dead = Counter(dead_letter)
    if got_dead != want_dead:
        lost = sum((want_dead - got_dead).values())
        extra = sum((got_dead - want_dead).values())
        problems.append(f"dead letter: {lost} unparseable lines missing, {extra} unexpected or repeated")
    return problems


def read_dead_letter(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(
            f"SELECT raw_line FROM read_parquet('{_glob(path)}')").fetchall()]
    except duckdb.IOException:
        return []


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar from a DuckDB frame
        return v.item()
    return v


def _sort_key(t: tuple) -> tuple:
    return tuple(
        (x is None, type(x).__name__, round(x, 3) if isinstance(x, float) else (x if x is not None else 0))
        for x in t
    )


def normalize_result(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive form: columns sorted by name, rows sorted
    (floats take part in the order rounded to 3 places)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 1e-5 * max(1.0, abs(float(b)))
    return a == b


def compare_operator(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"operator {name}: {len(got)} rows, oracle has {len(want)}"]
    for i, (a, b) in enumerate(zip(got, want)):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return [f"operator {name}: row {i} differs from the oracle: {a} != {b}"]
    return []
