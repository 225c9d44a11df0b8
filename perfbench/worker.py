"""One benchmark run, in the process that owns the SparkSession.

``run.py`` starts this in a fresh interpreter, with the working directory,
Spark's local dirs and TMPDIR inside the run's own temporary directory, and
``PERFBENCH_T_LAUNCH`` set to the wall-clock time just before the start.
The worker sets up Spark, runs the workload's first (cold) pass, its
warm-up pass, then the number of measured passes that ``--seconds`` fixes,
checks the outputs, and writes one JSON result file.  See README.md for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import statistics
import sys
import time
import traceback

from tracing import (
    Tracer,
    drain_listener_bus,
    progress_listener_class,
    stage_totals,
)

MARKET_QUERIES = (
    "flagship_market_overview",
    "preprocess_integrate_chain",
    "hourly_pivot_last",
    "resample_ffill_hourly",
    "asof_purchases_last_click",
    "returns_lag_lead",
    "lag_features_24",
    "impute_group_mean",
    "hourly_ohlc_bars",
    "per_symbol_snapshot",
    "correlation_matrix",
    "technical_indicators_bundle",
    "dashboard_render_bundle",
    "sessionize_events",
    "time_hierarchy_rollup",
)

STREAM_FILES = 100  # the events table is replayed as this many files
FILES_PER_TICK = 2  # files that arrive between two scheduler ticks
COLD_TICK_FILES = 1  # the first tick only pays the first stream start

# Untimed passes between the cold pass and the measured ones: the JVM's JIT
# is still compiling through them, and a pass on that slope moves with how
# fast the compiler threads get CPU.
WARMUP_PASSES = 1

# GBT trainer probe: one forecaster task's shape (24 lags, 300 trees).
GBT_SERIES, GBT_ROWS, GBT_LAGS = 4, 460, 24

STREAM_METRICS = (
    "streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
    "streaming.plan_s", "streaming.wal_s", "streaming.offsets_s",
    "streaming.state_rows", "streaming.state_mb", "streaming.state_commit_s",
    "streaming.late_rows",
)


def log(msg: str) -> None:
    print(f"[worker] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Market:
    """The paper's batch dataflow: each pass builds and runs every query of
    MARKET_QUERIES once into Spark's no-op sink."""

    nominal_pass_s = 6.0  # measured pass at the default sf0.001 scale on 4 cores

    def __init__(self, spark, data_dir: str, work_dir: str) -> None:
        from stock_market_big_data_project_spark.plans import (
            LOCAL_QUERIES,
            QUERIES,
        )

        self.spark, self.data_dir = spark, data_dir
        self.fns = {**LOCAL_QUERIES, **QUERIES}
        self.last = {}  # the last pass's DataFrames, which the check reads

    def prepare_pass(self, index: int) -> bool:
        return True

    def steps(self):
        for name in MARKET_QUERIES:
            yield name, (lambda n=name: self.fns[n](self.spark, self.data_dir)), (
                lambda df, span_id, n=name: self._action(n, df))

    def _action(self, name, df):
        df.write.format("noop").mode("overwrite").save()
        self.last[name] = df
        return {}

    def check(self) -> list[str]:
        from stock_market_big_data_project_spark.plans import (
            LOCAL_ORACLES,
            ORACLES,
        )
        from tests.oracle_utils import compare, duckdb_conn

        oracles = {**LOCAL_ORACLES, **ORACLES}
        con = duckdb_conn(self.data_dir)
        errs = []
        try:
            for name in MARKET_QUERIES:
                if name not in self.last:
                    errs.append(f"{name}: no successful run to check")
                    continue
                try:
                    errs += compare(self.last[name],
                                    con.execute(oracles[name]).fetchdf(), name)
                except Exception as exc:  # a check that raises has failed
                    errs.append(f"{name}: check raised {exc!r}")
        finally:
            con.close()
        return errs

    def stream_layers(self, traced: list[dict], all_passes: list[dict]) -> dict:
        return dict.fromkeys(STREAM_METRICS, 0.0)


# The manifest key of one output row: every column, with the price as whole
# cents so that Spark and DuckDB render it alike.  {secs} is the engine's
# expression for hour_ts in epoch seconds.
_KEY = ("concat_ws('|', symbol, {secs}, n_events, "
        "cast(round(price * 100) as bigint))")


class StreamIngest:
    """The append-only ingestion stream: the events table, split into
    STREAM_FILES event-time-ordered parquet files, arrives FILES_PER_TICK
    files at a time (COLD_TICK_FILES on the first tick).  Each pass is one
    scheduler tick: an ``availableNow`` run of read_events_stream ->
    hourly_tumbling_agg -> manifest_shards sink against one checkpoint, one
    file per micro-batch."""

    nominal_pass_s = 4.0  # measured tick of FILES_PER_TICK files on 4 cores

    def __init__(self, spark, data_dir: str, work_dir: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from stock_market_big_data_project_spark.sources.manifest_sink import (
            register_manifest_sink,
        )

        self.spark = spark
        self.staging = os.path.join(work_dir, "stream_staging")
        self.src = os.path.join(work_dir, "stream_src")
        self.out = os.path.join(work_dir, "stream_out")
        self.ckpt = os.path.join(work_dir, "stream_ckpt")
        os.makedirs(self.staging)
        os.makedirs(self.src)
        ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
        ev = ev.take(pc.sort_indices(ev, [("ts", "ascending"), ("event_id", "ascending")]))
        step = -(-ev.num_rows // STREAM_FILES)
        self.files = []
        for i in range(STREAM_FILES):
            path = os.path.join(self.staging, f"part-{i:05d}.parquet")
            pq.write_table(ev.slice(i * step, step), path)
            self.files.append(path)
        self.next_file = 0
        self.mtime0 = time.time()
        register_manifest_sink(spark)
        self.listener = progress_listener_class()()
        spark.streams.addListener(self.listener)

    def prepare_pass(self, index: int) -> bool:
        """Deliver the next tick's files; False when the replay is used up.
        File order is pinned by modification time, which the file source
        sorts on."""
        n = COLD_TICK_FILES if index == 0 else FILES_PER_TICK
        if self.next_file + n > len(self.files):
            return False
        for _ in range(n):
            i = self.next_file
            dst = os.path.join(self.src, os.path.basename(self.files[i]))
            os.rename(self.files[i], dst)
            t = self.mtime0 + 0.01 * i
            os.utime(dst, (t, t))
            self.next_file += 1
        return True

    def _build(self):
        from stock_market_big_data_project_spark.streaming.ingest import (
            hourly_tumbling_agg,
            read_events_stream,
        )

        stream = read_events_stream(self.spark, self.src, max_files_per_trigger=1)
        key = _KEY.format(secs="unix_seconds(hour_ts)")
        return hourly_tumbling_agg(stream).selectExpr("*", f"{key} AS key")

    def _action(self, df, span_id):
        q = (
            df.writeStream.format("manifest_shards")
            .option("path", self.out)
            .option("keyColumn", "key")
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        run_id = str(q.runId)
        q.awaitTermination()
        if not self.listener.wait_terminated(run_id):
            raise RuntimeError(f"no termination event for stream run {run_id}")
        if self.listener.terminated[run_id]:
            raise RuntimeError(self.listener.terminated[run_id])
        return {"groups": [run_id], "progress": self.listener.for_run(run_id)}

    def steps(self):
        yield "stream_tick", self._build, self._action

    @staticmethod
    def _data_batches(rec: dict) -> list[dict]:
        return [p for p in rec["progress"] if p["numInputRows"] > 0]

    def batch_times(self, recs: list[dict]) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000
                for rec in recs for p in self._data_batches(rec)]

    def rows(self, rec: dict) -> int:
        return sum(p["numInputRows"] for p in rec["progress"])

    def check(self) -> list[str]:
        import duckdb

        from stock_market_big_data_project_spark.plans import ORACLES
        from stock_market_big_data_project_spark.sources.manifest_sink import (
            manifest_fingerprint_sql,
            read_manifest,
        )

        progress = self.listener.progress
        if not progress:
            return ["stream: no progress events"]
        late = sum(op.get("numRowsDroppedByWatermark", 0)
                   for p in progress for op in p.get("stateOperators", []))
        if late:
            return [f"stream: {late} rows dropped as late; the oracle assumes none"]
        # The repo's DuckDB oracle for the same aggregate, over the files fed
        # so far.  It keeps the windows that end by max(ts) - 2 h, which is
        # the watermark after the last micro-batch.
        key = _KEY.format(secs="cast(epoch(hour_ts) as bigint)")
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW events AS SELECT * FROM "
                        f"read_parquet('{self.src}/*.parquet')")
            fp, n_rows = con.execute(manifest_fingerprint_sql(
                key, f"({ORACLES['streaming_batch_parity']}) AS o")).fetchone()
            fed = con.execute("SELECT count(*) FROM events").fetchone()[0]
        finally:
            con.close()
        errs = []
        m = read_manifest(self.out)
        got, want = (m["n_rows"], m["fingerprint"]), (n_rows, fp or 0)
        if got != want:
            errs.append(f"stream: manifest (n_rows, fp) {got} != oracle {want}")
        seen = sum(p["numInputRows"] for p in progress)
        if seen != fed:
            errs.append(f"stream: {seen} rows in progress events, {fed} fed")
        return errs

    def stream_layers(self, traced: list[dict], all_passes: list[dict]) -> dict:
        batches = [p for rec in traced for p in self._data_batches(rec)]

        def dur(*keys):
            return median([sum(p["durationMs"].get(k, 0) for k in keys) / 1000
                           for p in batches])

        def state(key):
            return [sum(op.get(key, 0) for op in p.get("stateOperators", []))
                    for p in batches]

        every = [p for rec in all_passes for p in rec["progress"]]
        return {
            "streaming.batches": median([len(r["progress"]) for r in traced]),
            "streaming.batch_p50_s": median(self.batch_times(traced)),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.plan_s": dur("queryPlanning"),
            "streaming.wal_s": dur("walCommit"),
            "streaming.offsets_s": dur("latestOffset", "commitOffsets"),
            "streaming.state_rows": state("numRowsTotal")[-1] if batches else 0,
            "streaming.state_mb": (state("memoryUsedBytes")[-1] / 2**20
                                   if batches else 0.0),
            "streaming.state_commit_s": median([v / 1000 for v in state("commitTimeMs")]),
            "streaming.late_rows": sum(
                op.get("numRowsDroppedByWatermark", 0)
                for p in every for op in p.get("stateOperators", [])),
        }


WORKLOADS = {"market": Market, "stream_ingest": StreamIngest}


def run_pass(spark, wl, tracer: Tracer, index: int, traced: bool) -> dict:
    """Build and run every step of one pass; job groups tag each step's
    constructor and action jobs when the pass is traced."""
    sc = spark.sparkContext
    rec = {"index": index, "traced": traced, "steps": [], "build_groups": [],
           "groups": [], "progress": [], "failed": 0}
    with tracer.span("pass", on=traced, index=index):
        t0 = time.perf_counter()
        for name, build, action in wl.steps():
            group = f"{tracer.run_id}:{index}:{name}"
            step = {"name": name, "build_s": 0.0, "action_s": 0.0}
            with tracer.span("step", on=traced, query=name):
                tb = time.perf_counter()
                try:
                    if traced:
                        sc.setJobGroup(group + ":build", name)
                    with tracer.span("plans.build", on=traced):
                        df = build()
                    ta = time.perf_counter()
                    step["build_s"] = ta - tb
                    if traced:
                        sc.setJobGroup(group + ":action", name)
                    with tracer.span("operators.action", on=traced) as sid:
                        out = action(df, sid)
                    step["action_s"] = time.perf_counter() - ta
                except Exception:
                    rec["failed"] += 1
                    log(f"pass {index} step {name} raised:\n{traceback.format_exc()}")
                    out = {}
            rec["steps"].append(step)
            rec["build_groups"].append(group + ":build")
            rec["groups"] += [group + ":build", group + ":action", *out.get("groups", [])]
            rec["progress"] += out.get("progress", [])
            if traced:
                for p in out.get("progress", []):
                    start = dt.datetime.fromisoformat(
                        p["timestamp"].replace("Z", "+00:00")).timestamp()
                    tracer.add("streaming.batch", start,
                               start + p["durationMs"]["triggerExecution"] / 1000,
                               sid, batch=p["batchId"], rows=p["numInputRows"])
        rec["wall_s"] = time.perf_counter() - t0
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # Outside the pass timing: wait for the status store, then read it
        # once for the whole pass (a pass stays far below Spark's default
        # retention of 1000 jobs and stages).
        drain_listener_bus(sc)
        rec["build_totals"] = stage_totals(sc, rec["build_groups"])
        rec["totals"] = stage_totals(sc, rec["groups"])
    return rec


def gbt_train_seconds(seed: int) -> float:
    import numpy as np

    from stock_market_big_data_project_spark.operators.gbt import train_forest_batch
    from stock_market_big_data_project_spark.operators.stats import (
        GBT_FORECAST_PARAMS,
    )

    rng = np.random.default_rng(seed)
    xs, ys = [], []
    for _ in range(GBT_SERIES):
        v = 100 + np.cumsum(rng.standard_normal(GBT_ROWS + GBT_LAGS))
        xs.append(np.column_stack(
            [v[GBT_LAGS - k:len(v) - k] for k in range(1, GBT_LAGS + 1)]))
        ys.append(v[GBT_LAGS:])
    t0 = time.perf_counter()
    train_forest_batch(xs, ys, list(range(GBT_SERIES)), GBT_FORECAST_PARAMS)
    return time.perf_counter() - t0


def layer_metrics(wl, traced: list[dict], untraced: list[dict],
                  all_passes: list[dict], cpus: int) -> dict:
    def per_pass(fn):
        return median([fn(r) for r in traced])

    def tot(key):
        return per_pass(lambda r: r["totals"][key])

    build_s = per_pass(lambda r: sum(s["build_s"] for s in r["steps"]))
    action_s = per_pass(lambda r: sum(s["action_s"] for s in r["steps"]))
    wall = per_pass(lambda r: r["wall_s"])
    out = {
        "plans.build_s": build_s,
        "plans.build_jobs": per_pass(lambda r: r["build_totals"]["jobs"]),
        "operators.action_s": action_s,
        "operators.jobs": per_pass(
            lambda r: r["totals"]["jobs"] - r["build_totals"]["jobs"]),
        "operators.core_busy_frac": per_pass(
            lambda r: r["totals"]["task_run_s"] / (r["wall_s"] * cpus)),
        "sources.input_mb": tot("input_mb"),
        "sources.input_rows": tot("input_rows"),
        "sources.output_mb": tot("output_mb"),
        "trace.overhead_s": wall - median([r["wall_s"] for r in untraced]),
        "trace.unattributed_frac": 1 - (build_s + action_s) / wall if wall else 0.0,
    }
    for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks"):
        out[f"operators.{key}"] = tot(key)
    out.update(wl.stream_layers(traced, all_passes))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    a = ap.parse_args()
    t_launch = float(os.environ["PERFBENCH_T_LAUNCH"])
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(a.run_id, bool(a.trace))

    with tracer.span("run", start=t_launch):
        with tracer.span("setup", start=t_launch):
            from stock_market_big_data_project_spark.session import get_spark

            with tracer.span("session.get_spark"):
                t0 = time.perf_counter()
                spark = get_spark("perfbench")
                session_s = time.perf_counter() - t0
            from stock_market_big_data_project_spark.plans import load_all_plans

            load_all_plans()
            spark.range(1).count()
        setup_s = time.time() - t_launch
        log(f"setup {setup_s:.2f}s")

        wl = WORKLOADS[a.workload](spark, a.data, os.getcwd())
        # The measured pass count is fixed by --seconds, not by a clock, so
        # that two commits always run the same passes: a clock-bound loop
        # flips between n and n+1 passes near the boundary, and the later
        # passes of a JIT-warming JVM are faster.  A traced run traces the
        # cold pass and its measured passes in the order traced, untraced,
        # untraced, traced, so that JVM warm-up does not pass for tracing
        # overhead.
        first = 1 + WARMUP_PASSES
        n_meas = max(4 if a.trace else 1, round(a.seconds / wl.nominal_pass_s))
        passes = []
        for i in range(first + n_meas):
            if not wl.prepare_pass(i):
                raise SystemExit("the workload ran out of input")
            traced = bool(a.trace) and (
                i == 0 or (i >= first and (i - first) % 4 in (0, 3)))
            passes.append(run_pass(spark, wl, tracer, i, traced))
        measured = passes[first:]
        log("passes " + " ".join(f"{r['wall_s']:.2f}" for r in passes))

        t_check = time.perf_counter()
        with tracer.span("check"):
            errors = wl.check()
        log(f"check {time.perf_counter() - t_check:.2f}s")
        for e in errors:
            log(f"check failed: {e}")

        attempted = sum(len(r["steps"]) for r in passes) + 1
        failed = sum(r["failed"] for r in passes) + (1 if errors else 0)
        detail = {
            "first_pass_s": passes[0]["wall_s"],
            "passes_s": [r["wall_s"] for r in passes],
            "steps_s": {
                st["name"]: [[r["steps"][k]["build_s"], r["steps"][k]["action_s"]]
                             for r in passes]
                for k, st in enumerate(passes[0]["steps"])},
            "measured_passes": len(measured),
            "failed_frac": failed / attempted,
            "errors": errors,
        }
        if isinstance(wl, StreamIngest):
            detail["stream_rows_per_s"] = (
                sum(wl.rows(r) for r in measured)
                / sum(r["wall_s"] for r in measured))
            detail["batch_p50_s"] = median(wl.batch_times(measured))
            detail["micro_batches"] = sum(len(r["progress"]) for r in passes)
        if a.trace:
            with tracer.span("operators.gbt_train"):
                gbt_s = gbt_train_seconds(a.seed)
            traced = [r for r in measured if r["traced"]]
            untraced = [r for r in measured if not r["traced"]]
            metrics = layer_metrics(wl, traced, untraced, passes, cpus)
            metrics["session.start_s"] = session_s
            metrics["operators.gbt_train_s"] = gbt_s
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": median([r["wall_s"] for r in measured]),
            }
        provenance = {
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "heap": spark.conf.get("spark.driver.memory"),
            "cpus": cpus,
        }
        spark.stop()

    if a.trace:
        tracer.write(a.spans)
    with open(a.result, "w") as fh:
        json.dump({"metrics": metrics, "attempted": attempted, "failed": failed,
                   "detail": detail, "provenance": provenance}, fh)


if __name__ == "__main__":
    main()
