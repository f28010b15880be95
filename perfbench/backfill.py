"""`backfill`: a seeded backlog of closed daily monolog files drained
through the bulk path (`pipeline.stream_pipeline` -> `sink.writer_for`
parquet, Trigger.AvailableNow), then closed-loop passes of the
reference's log questions over the table just written."""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F
from pyspark.sql.window import Window

import gen
import operators
import verify
from common import median

MAX_FILES_PER_TRIGGER = 7
TIMED_DRAINS = 3
WARM_PASSES = 1
MIN_PASSES = 3

W_LO, W_HI = "2024-03-05 00:00:00", "2024-03-07 00:00:00"
D_LO, D_HI = "2024-03-05", "2024-03-06"


def _ts(c):
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


# name -> (the question as a Spark DataFrame over the sink, DuckDB SQL over `logs`)
ANALYST = {
    "errors_window": (
        lambda t: t.where(
            (F.col("log_date").between(D_LO, D_HI))
            & (F.col("created_at") >= F.lit(W_LO).cast("timestamp"))
            & (F.col("created_at") < F.lit(W_HI).cast("timestamp"))
            & (F.col("level") == "ERROR")
        ).select(_ts("created_at").alias("ts"), "logger", "message"),
        f"""SELECT strftime(created_at, '%Y-%m-%d %H:%M:%S'), logger, message FROM logs
            WHERE log_date BETWEEN DATE '{D_LO}' AND DATE '{D_HI}'
              AND created_at >= TIMESTAMP '{W_LO}' AND created_at < TIMESTAMP '{W_HI}'
              AND level = 'ERROR'""",
    ),
    "counts_level_logger": (
        lambda t: t.groupBy("level", "logger").count(),
        "SELECT level, logger, count(*) FROM logs GROUP BY ALL",
    ),
    "hourly_errors": (
        lambda t: t.where(F.col("level").isin("ERROR", "CRITICAL"))
        .groupBy(_ts(F.date_trunc("hour", "created_at")).alias("hour"))
        .count(),
        """SELECT strftime(date_trunc('hour', created_at), '%Y-%m-%d %H:%M:%S'), count(*)
           FROM logs WHERE level IN ('ERROR', 'CRITICAL') GROUP BY ALL""",
    ),
    "top_loggers": (
        lambda t: t.groupBy("logger").count().orderBy(F.desc("count"), "logger").limit(10),
        "SELECT logger, count(*) AS n FROM logs GROUP BY ALL ORDER BY n DESC, logger LIMIT 10",
    ),
    "context_region": (
        lambda t: t.where(F.col("level") == "WARNING")
        .groupBy(F.get_json_object("context", "$.region").alias("region"))
        .agg(F.sum(F.get_json_object("context", "$.ms").cast("bigint")).alias("ms")),
        """SELECT json_extract_string(context, '$.region'),
                  sum(CAST(json_extract_string(context, '$.ms') AS BIGINT))
           FROM logs WHERE level = 'WARNING' GROUP BY ALL""",
    ),
    "message_search": (
        lambda t: t.where(F.col("message").contains("timeout"))
        .groupBy("host", F.date_format("log_date", "yyyy-MM-dd").alias("d"))
        .count(),
        """SELECT host, CAST(log_date AS VARCHAR), count(*) FROM logs
           WHERE contains(message, 'timeout') GROUP BY ALL""",
    ),
    "distinct_hosts": (
        lambda t: t.select("host").distinct(),
        "SELECT DISTINCT host FROM logs",
    ),
    "latest_error_per_logger": (
        lambda t: t.where(F.col("level") == "ERROR")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("logger").orderBy(F.desc("created_at"), F.desc("message"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("logger", _ts("created_at").alias("ts"), "message"),
        """SELECT logger, strftime(created_at, '%Y-%m-%d %H:%M:%S'), message FROM (
             SELECT *, row_number() OVER (PARTITION BY logger
                                          ORDER BY created_at DESC, message DESC) AS rn
             FROM logs WHERE level = 'ERROR') WHERE rn = 1""",
    ),
}


class Backfill:
    def __init__(self, ctx):
        self.ctx = ctx
        self.backlog = ctx.run.sub("backlog")

    # -- inputs -----------------------------------------------------------

    def generate(self) -> None:
        self.truth = gen.backfill_corpus(self.ctx.seed, self.backlog)
        self.expected = verify.backfill_expected(self.truth)

    def _config(self, tag: str, name: str = "app-{date}.log"):
        from log2ck_spark.config import EngineConfig, SinkConfig, TailSpec

        sink = SinkConfig(path=self.ctx.run.sub(f"sink-{tag}"), kind="parquet")
        tails = [
            TailSpec(name=h, path=os.path.join(self.backlog, h, name), host=h)
            for h in gen.BACKFILL_HOSTS
        ]
        return EngineConfig(
            tails=tails, sink=sink, checkpoint_root=self.ctx.run.sub(f"ckpt-{tag}"),
            max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        )

    # -- operations -------------------------------------------------------

    def drain(self, tag: str) -> dict:
        """Drain the whole backlog, one AvailableNow query per tail, as
        the bulk path runs it. Returns wall time, per-batch commit
        times and progress events."""
        from log2ck_spark.pipeline import stream_pipeline
        from log2ck_spark.sink import writer_for

        spark, tr = self.ctx.spark, self.ctx.tracer
        config = self._config(tag)
        commits: dict = {}
        progress = []
        t0 = time.perf_counter()
        with tr.span("backfill.drain", tag=tag):
            for tail in config.tails:
                with tr.span("pipeline.stream_pipeline"):
                    rows, _dead = stream_pipeline(spark, config, tail)
                write = writer_for(config.sink_for(tail))

                def timed_write(df, batch_id, _w=write, _n=tail.name):
                    _w(df, batch_id)
                    commits[(_n, batch_id)] = time.perf_counter()

                with tr.span("streaming.query", tail=tail.name):
                    q = (
                        rows.writeStream.foreachBatch(timed_write)
                        .option("checkpointLocation", os.path.join(config.checkpoint_root, tail.name))
                        .trigger(availableNow=True)
                        .start()
                    )
                    q.awaitTermination()
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                progress.extend((tail.name, p) for p in q.recentProgress)
        wall = time.perf_counter() - t0
        # per-line latency: from drain start to the commit of the batch
        # that carries the line (input lines per batch from progress)
        lat = []
        for name, p in progress:
            t = commits.get((name, p.batchId))
            if t is not None and p.numInputRows:
                lat.append((t - t0, p.numInputRows))
        return {"wall": wall, "sink": config.sink.path, "progress": [p for _n, p in progress],
                "lat": lat}

    def analyst_pass(self, sink: str, traced: "dict | None" = None) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        answers = {}
        with tr.span("analyst.pass"):
            table = spark.read.parquet(sink)
            for name, (build, _sql) in ANALYST.items():
                with tr.span(f"q.{name}"):
                    if traced is None:
                        answers[name] = [tuple(r) for r in build(table).collect()]
                    else:
                        answers[name] = self._traced_query(name, build(table), traced)
        return answers

    def _traced_query(self, name: str, df, out: dict) -> list:
        probe = self.ctx.probe
        j0 = probe.max_job_id()
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
        jobs = probe.jobs_between(j0, probe.max_job_id())
        files_read = probe.files_read(df)
        total = max(1, self.sink_files)
        out[f"q.{name}.plan_s"] = t1 - t0
        out[f"q.{name}.exec_s"] = t2 - t1
        out[f"q.{name}.jobs"] = jobs["jobs"]
        out[f"q.{name}.tasks"] = jobs["tasks"]
        out[f"q.{name}.files_read"] = files_read
        out[f"q.{name}.files_pruned_ratio"] = 1.0 - files_read / total
        return rows

    def close(self) -> None:
        """No helper processes to stop."""

    # -- the workload -----------------------------------------------------

    def run(self, seconds: float) -> dict:
        ctx = self.ctx
        # the fixed warm-up: a first drain in a fresh JVM runs ~3x slower
        # than the next ones (JIT, class loading), and the first pass
        # over a new sink ~30 % slower than the next
        with ctx.tracer.span("warmup"):
            t = time.perf_counter()
            warm = self.drain("warm")
            for _ in range(WARM_PASSES):
                self.analyst_pass(warm["sink"])
            ctx.layer["warmup_s"] = time.perf_counter() - t
        ctx.mark_first_op()

        t_start = time.perf_counter()
        drains = []
        j0 = ctx.probe.max_job_id() if ctx.trace else None
        for k in range(TIMED_DRAINS):
            c0 = ctx.proc.sample()
            d = self.drain(f"timed{k}")
            d["cpu"] = ctx.proc.sample()["total"] - c0["total"]
            drains.append(d)
        drain_jobs = ctx.probe.jobs_between(j0, ctx.probe.max_job_id()) if ctx.trace else None
        sink = drains[-1]["sink"]
        passes = []
        while True:
            c0 = ctx.proc.sample()
            p0 = time.perf_counter()
            answers = self.analyst_pass(sink)
            passes.append({"wall": time.perf_counter() - p0,
                           "cpu": ctx.proc.sample()["total"] - c0["total"],
                           "answers": answers})
            if len(passes) >= MIN_PASSES and time.perf_counter() - t_start >= seconds:
                break
        ctx.end_window()

        # -- checks (off the clock) --
        problems = []
        rows = len(self.truth.rows)
        for d in [warm] + drains:
            problems += verify.verify_backfill_sink(d["sink"], self.truth, self.expected)
        want = verify.analyst_oracle(sink, {n: s for n, (_b, s) in ANALYST.items()})
        for p in passes:
            problems += verify.compare_answers(p["answers"], want)
        attempted = len(drains) + 1 + len(passes) * len(ANALYST) + WARM_PASSES * len(ANALYST)

        sink_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fs in os.walk(sink) for f in fs if f.endswith(".parquet")
        )
        rows_per_s = [rows / d["wall"] for d in drains]
        print("backfill: drains " + " ".join(f"{d['wall']:.2f}" for d in drains)
              + " s; passes " + " ".join(f"{p['wall']:.2f}" for p in passes) + " s", file=sys.stderr)
        e2e = {
            "rows_per_s": median(rows_per_s),
            "cpu_s_per_mrow": median(d["cpu"] / (rows / 1e6) for d in drains),
            "sink_bytes_per_row": sink_bytes / rows,
            "line_latency_p50_s": median(_weighted_pctl(d["lat"], 0.5) for d in drains),
            "pass_p50_s": median(p["wall"] for p in passes),
            "cpu_s_per_pass": median(p["cpu"] for p in passes),
        }
        # too few batches beyond it for an end-to-end tail (README)
        ctx.layer["line_latency_p90_s"] = median(_weighted_pctl(d["lat"], 0.9) for d in drains)
        if ctx.trace:
            more_problems, more_ops = self._layers(drains, drain_jobs, sink)
            problems += more_problems
            attempted += more_ops
        return {"e2e": e2e, "problems": problems, "attempted": attempted}

    def _layers(self, drains: list, dj: dict, sink: str) -> tuple[list, int]:
        """Per-layer figures, traced run only, after the timed window.
        Also measures the registered operators (see operators.py);
        returns their problems and operation count."""
        from log2ck_spark.pipeline import batch_pipeline
        from log2ck_spark.sink import write_batch
        from log2ck_spark.config import SinkConfig

        ctx, spark, L = self.ctx, self.ctx.spark, self.ctx.layer
        progress = [p for d in drains for p in d["progress"] if p.numInputRows]
        dur = lambda p, k: float(p.durationMs.get(k, 0))  # noqa: E731
        n_batches = len(progress)
        L["streaming.batches"] = n_batches / len(drains)
        L["streaming.rows_per_batch_p50"] = median(p.numInputRows for p in progress)
        L["streaming.trigger_ms_p50"] = median(dur(p, "triggerExecution") for p in progress)
        L["streaming.planning_ms_p50"] = median(dur(p, "queryPlanning") for p in progress)
        L["streaming.wal_ms_p50"] = median(dur(p, "walCommit") + dur(p, "commitOffsets") for p in progress)
        L["streaming.jobs_per_batch"] = dj["jobs"] / max(1, n_batches)
        L["streaming.tasks_per_batch"] = dj["tasks"] / max(1, n_batches)
        L["sink.add_batch_ms_p50"] = median(dur(p, "addBatch") for p in progress)
        L["sink.shuffle_bytes"] = dj["shuffle_bytes"] / len(drains)
        files = sum(1 for _dp, _dn, fs in os.walk(sink) for f in fs if f.endswith(".parquet"))
        L["sink.files"] = self.sink_files = files

        # the batch path resolves {date} to today: replay every day by glob
        config = self._config("replay", name="app-*.log")
        t = time.perf_counter()
        with ctx.tracer.span("pipeline.batch_replay"):
            for tail in config.tails:
                rows, _dead = batch_pipeline(spark, config, tail)
                rows.write.format("noop").mode("overwrite").save()
        parse_s = time.perf_counter() - t
        t = time.perf_counter()
        with ctx.tracer.span("sink.write_batch"):
            for tail in config.tails:
                rows, _dead = batch_pipeline(spark, config, tail)
                write_batch(rows, SinkConfig(path=ctx.run.sub("sink-batch", tail.name)))
        L["pipeline.parse_s"] = parse_s
        L["sink.write_s"] = time.perf_counter() - t - parse_s
        L["pipeline.valid_ratio"] = len(self.truth.rows) / self.truth.lines
        self.analyst_pass(sink, traced=L)
        return operators.measure(ctx)


def _weighted_pctl(pairs: list, q: float) -> float:
    """Percentile of per-line latencies given (latency, n_lines) pairs."""
    if not pairs:
        return 0.0
    pairs = sorted(pairs)
    total = sum(n for _t, n in pairs)
    acc = 0
    for t, n in pairs:
        acc += n
        if acc >= q * total:
            return t
    return pairs[-1][0]

