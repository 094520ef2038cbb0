"""The benchmark's workloads. Each is closed loop with one client: the
next operation starts when the previous one has finished.

A workload has two phases after the set-up (run.py):

* ``prepare`` writes its inputs from the seed (the benchmark's own cost,
  reported as ``gen_s``, not as set-up);
* ``measure`` runs the operations for the given seconds, checks every
  output and returns (end-to-end metrics, per-layer metrics, notes).
"""

from __future__ import annotations

import datetime
import glob
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from . import inputs
from .measure import StatusStore, Tracer, median, tail, tree_cpu_s

now = time.perf_counter


@dataclass
class Run:
    """State of one benchmark run, created by run.py after set-up."""

    spark: object
    traced: bool
    tracer: Tracer
    store: StatusStore | None
    listener: object = None
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, name: str, detail: str) -> None:
        self.failures.append(name)
        print(f"FAILED {name}: {detail}", file=sys.stderr, flush=True)

    def settle(self) -> None:
        """Wait until Spark's listener bus has delivered every event to
        the status store and the streaming listener."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def job_group(self, group: str | None) -> None:
        """Tag the following jobs of this thread (traced halves only)."""
        if not self.tracer.enabled:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)


def noop_write(df) -> None:
    """Materialise every partition without collecting rows into this process."""
    df.write.mode("overwrite").format("noop").save()


def _zero_layers() -> dict[str, float]:
    return {name: 0.0 for name in LAYER_METRICS}


# Per-layer metric names; every workload reports all of them (0 where
# the workload does not use the layer). See README.md for the table.
LAYER_METRICS = (
    "session.start_s", "session.warmup_s",
    "queries.build_s", "queries.build_jobs", "queries.exec_s", "queries.position_drift",
    "queries.leaked_cache_entries", "queries.leaked_persistent_rdds",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.python_gap_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.jobs", "exec.stages", "exec.tasks",
    "sources.input_bytes", "sources.input_records",
    "sinks.watermark_s", "http_json.fetch_s", "http_json.landing_read_s",
    "http_json.fetch_calls_per_zone_day", "sinks.append_s", "sinks.files_per_partition",
    "pipeline.run_self_s", "etl.jobs_per_run",
    "stream.add_batch_s", "stream.state_rows", "stream.commit_s", "stream.planning_s",
    "stream.source_s", "stream.start_stop_s",
    "trace.overhead_s",
)

_EXEC_KEYS = (
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.python_gap_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.jobs", "exec.stages", "exec.tasks", "sources.input_bytes", "sources.input_records",
)


def _median_of(rows: list[dict], keys) -> dict[str, float]:
    return {k: median(r.get(k, 0.0) for r in rows) for k in keys}


# ------------------------------------------------------- counter checks


def check_counters(run: Run, scratch: str) -> dict:
    """Known-answer checks of the status-store counters, made at the
    start of every traced run before its numbers are trusted. A wrong
    job or record count fails the run; the input-byte ratio is reported
    (Spark's parquet reader may read on threads whose bytes the task's
    input metrics do not see)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(scratch, "counter_check.parquet")
    rows = 100_000
    pq.write_table(pa.table({"k": np.arange(rows, dtype=np.int64), "v": np.arange(rows, dtype=np.float64) / 7}), path)
    run.tracer.enabled = True
    try:
        run.job_group("check:one_job")
        noop_write(run.spark.range(0, 1000, 1, 4))
        run.job_group("check:scan")
        noop_write(run.spark.read.parquet(path))
    finally:
        run.job_group(None)
        run.tracer.enabled = False
    m = run.store.collect({"one_job": {"check:one_job"}, "scan": {"check:scan"}})
    out = {
        "one_job_jobs": m["one_job"]["exec.jobs"],
        "scan_records": m["scan"]["sources.input_records"],
        "scan_bytes_over_file_bytes": m["scan"]["sources.input_bytes"] / os.path.getsize(path),
    }
    run.attempted += 2
    if out["one_job_jobs"] != 1:
        run.fail("counter_check_jobs", f"a one-job query reported {out['one_job_jobs']} jobs")
    if out["scan_records"] != rows:
        run.fail("counter_check_records", f"a {rows}-row scan reported {out['scan_records']} input records")
    return out


def check_listener(run: Run, run_ids: list[str]) -> None:
    """Every drain's progress events arrived: the query terminated and
    its batch ids run 0, 1, ... without a gap."""
    run.attempted += 1
    for rid in run_ids:
        ids = sorted(p["batchId"] for r, p in run.listener.events if r == rid)
        if rid not in run.listener.ended or ids != list(range(len(ids))) or not ids:
            run.fail("listener_check", f"drain {rid}: ended={rid in run.listener.ended} batch ids {ids}")
            return


# ------------------------------------------------------------ query mixes


def _stream_layers(listener, run_ids: list[str]) -> dict[str, float]:
    """Listener-side split of the drains started by one operation."""
    out = {k: 0.0 for k in ("stream.add_batch_s", "stream.state_rows", "stream.commit_s", "stream.planning_s", "stream.source_s", "stream.start_stop_s")}
    trigger = 0.0
    for rid in run_ids:
        last_state = 0
        for r, p in listener.events:
            if r != rid:
                continue
            d = p.get("durationMs", {})
            out["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            out["stream.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            out["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["stream.source_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
            trigger += d.get("triggerExecution", 0) / 1e3
            last_state = sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
        out["stream.state_rows"] += last_state
        if rid in listener.ended:
            out["stream.start_stop_s"] += listener.ended[rid] - listener.started[rid][1]
    out["stream.start_stop_s"] -= trigger
    return out


def _batches(listener, run_ids) -> list[dict]:
    ids = set(run_ids)
    return [p for r, p in listener.events if r in ids]


class QueryMix:
    """A fixed list of catalog queries over a seeded generated corpus,
    run in a seeded order. Each operation is one query: build (calling
    ``QUERIES[name].fn``) and execute (the noop write)."""

    #: timed passes made even when the window is already used up; a
    #: traced run alternates untraced and traced passes and makes three
    #: at least (two untraced ones give the position drift)
    min_passes = 1

    def __init__(self, queries: tuple[str, ...], streams: bool = False):
        self.queries, self.streams = queries, streams

    def prepare(self, seed: int, workdir: str, scale: float) -> None:
        self.sf_dir = os.path.join(workdir, "corpus")
        inputs.write_corpus(self.sf_dir, seed, scale)
        self.rng = np.random.default_rng(seed)

    def _order(self) -> list[str]:
        return [self.queries[i] for i in self.rng.permutation(len(self.queries))]

    def _prime(self, run: Run) -> float:
        """One untimed pass that runs every query like a timed one and
        checks its output against its DuckDB oracle (``plans.parity``);
        it also fills the program's caches (the streaming replay cache)
        for the timed passes."""
        from energi_data_etl_spark.plans.parity import check_query, duckdb_connect
        from energi_data_etl_spark.queries import QUERIES

        t0 = now()
        con = duckdb_connect(self.sf_dir)
        self.prime_op_s = {}
        try:
            for name in self._order():
                run.attempted += 1
                q = QUERIES[name]
                try:
                    t1 = now()
                    df = q.fn(run.spark, self.sf_dir)
                    noop_write(df)
                    self.prime_op_s[name] = round(now() - t1, 3)
                    if q.oracle is None:
                        ok, detail = df.count() > 0, "no rows"
                    else:
                        res = check_query(run.spark, con, name, lambda *_: df, q.oracle, self.sf_dir)
                        ok, detail = res.ok, res.detail
                except Exception as exc:  # noqa: BLE001 — a failing query is counted, never dropped
                    ok, detail = False, f"{type(exc).__name__}: {str(exc)[:300]}"
                if not ok:
                    run.fail(name, detail)
        finally:
            con.close()
        return now() - t0

    def _op(self, run: Run, name: str, op_id: str) -> dict:
        """Run one query; returns its timings and, when traced, its layer
        metrics from the status store and the listener."""
        from energi_data_etl_spark.queries import QUERIES

        tr, rec = run.tracer, {"name": name}
        tr.op = op_id
        if run.listener is not None:
            run.listener.op = op_id
        held0 = run.store.held() if tr.enabled else None
        run.attempted += 1
        c0 = tree_cpu_s()
        try:
            with tr.span("queries.op"):
                run.job_group(f"{op_id}:build")
                t0 = now()
                with tr.span("queries.build"):
                    df = QUERIES[name].fn(run.spark, self.sf_dir)
                t1 = now()
                run.job_group(f"{op_id}:exec")
                with tr.span("queries.exec"):
                    noop_write(df)
                t2 = now()
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            run.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            return rec
        finally:
            run.job_group(None)
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, op_s=t2 - t0, op_cpu_s=tree_cpu_s() - c0)
        run_ids = [rid for rid, (op, _) in (run.listener.started.items() if run.listener else ()) if op == op_id]
        rec["run_ids"] = run_ids
        if tr.enabled:
            m = run.store.collect({"build": {f"{op_id}:build", *run_ids}, "exec": {f"{op_id}:exec"}})
            rec.update({k: m["build"][k] + m["exec"][k] for k in _EXEC_KEYS})
            rec["queries.build_jobs"] = m["build"]["exec.jobs"]
            held1 = run.store.held()
            rec["queries.leaked_cache_entries"] = max(0, held1[0] - held0[0])
            rec["queries.leaked_persistent_rdds"] = max(0, held1[1] - held0[1])
            if run.listener is not None:
                rec.update(_stream_layers(run.listener, run_ids))
        return rec

    def measure(self, run: Run, seconds: float):
        prime_s = self._prime(run)
        passes: list[dict] = []
        deadline = now() + seconds
        while now() < deadline or len(passes) < (3 if run.traced else self.min_passes):
            run.tracer.enabled = run.traced and len(passes) % 2 == 1
            k = len(passes)
            t0, c0 = now(), tree_cpu_s()
            ops = [self._op(run, name, f"p{k}/{name}") for name in self._order()]
            passes.append({"traced": run.tracer.enabled, "s": now() - t0, "cpu_s": tree_cpu_s() - c0, "ops": ops})
        run.tracer.enabled = False

        run.settle()
        plain = [p for p in passes if not p["traced"]]
        op_times = [o["op_s"] for p in plain for o in p["ops"] if "op_s" in o]
        op_cpu = [o["op_cpu_s"] for p in plain for o in p["ops"] if "op_cpu_s" in o]
        notes = {
            "prime_s": prime_s, "prime_op_s": self.prime_op_s,
            "pass_s_and_cpu_s": [(round(p["s"], 3), round(p["cpu_s"], 3)) for p in passes],
            "op_s": {o["name"]: round(o.get("op_s", 0.0), 3) for o in plain[0]["ops"]},
        }
        if self.streams:
            ids = [rid for p in plain for o in p["ops"] for rid in o.get("run_ids", ())]
            check_listener(run, [rid for p in passes for o in p["ops"] for rid in o.get("run_ids", ())])
            batches = _batches(run.listener, ids)
            op_times = [b["durationMs"]["triggerExecution"] / 1e3 for b in batches]
            notes.update(drains=len(ids), batches_per_drain={rid[:8]: sum(1 for b in batches if b["runId"] == rid) for rid in ids})
        tail_v, tail_p, n = tail(op_times)
        e2e = {
            "pass_cpu_s": median(p["cpu_s"] for p in plain), "op_p50_cpu_s": median(op_cpu),
            "pass_s": median(p["s"] for p in plain), "op_p50_s": median(op_times), "op_tail_s": tail_v,
        }
        notes.update(tail_pct=tail_p, samples=n)

        layers = _zero_layers()
        traced = [p for p in passes if p["traced"]]
        if traced:
            per_pass = []
            for p in traced:
                tot: dict[str, float] = {}
                for o in p["ops"]:
                    for k, v in o.items():
                        if isinstance(v, float | int) and not isinstance(v, bool):
                            tot[k] = tot.get(k, 0.0) + v
                per_pass.append(tot)
            layers.update(_median_of(per_pass, [k for k in per_pass[0] if k in layers]))
            layers["queries.build_s"] = median(r.get("build_s", 0.0) for r in per_pass)
            layers["queries.exec_s"] = median(r.get("exec_s", 0.0) for r in per_pass)
            layers["trace.overhead_s"] = median(p["s"] for p in traced) - median(p["s"] for p in plain)
        layers["queries.position_drift"] = plain[-1]["s"] / plain[0]["s"] if len(plain) > 1 else 1.0
        return e2e, layers, notes


# ------------------------------------------------------------------ ETL


class EtlDaily:
    """The reference program, ``pipeline.energy.run_incremental``, against
    the seeded price API: one cold-start backfill, then daily runs that
    each append one day for four zones, then one no-op run."""

    today0 = datetime.date(2026, 1, 1)
    #: daily runs made even when the window is already used up (a traced
    #: run makes twice as many: half of them untraced)
    min_daily = 4

    def __init__(self, history_days: int):
        self.history_days = history_days

    def prepare(self, seed: int, workdir: str, scale: float) -> None:
        self.seed, self.base = seed, os.path.join(workdir, "etl")

    def _trace_layers(self, tr: Tracer) -> None:
        from energi_data_etl_spark.sources import http_json, sinks

        tr.wrap(sinks, "latest_watermark", "sinks.watermark")
        tr.wrap(sinks, "write_fact_table", "sinks.append")
        tr.wrap(http_json, "fetch_plan", "http_json.fetch_plan")
        tr.wrap(http_json, "fetch_to_landing", "http_json.fetch")
        tr.wrap(http_json, "read_landing", "http_json.landing_read")

    def _pipeline_run(self, run: Run, op_id: str, today, **kw) -> dict:
        from energi_data_etl_spark.pipeline.energy import run_incremental

        tr = run.tracer
        tr.op = op_id
        run.attempted += 1
        run.job_group(op_id)
        t0, c0 = now(), tree_cpu_s()
        try:
            with tr.span("pipeline.run"):
                appended = run_incremental(run.spark, f"{self.base}/fact", self.api, f"{self.base}/land_{op_id}", today, **kw)
        finally:
            run.job_group(None)
        rec = {"s": now() - t0, "cpu_s": tree_cpu_s() - c0, "appended": appended, "traced": tr.enabled}
        if tr.enabled:
            rec.update(run.store.collect({"run": {op_id}})["run"])
            rec.update(tr.self_times(op_id))
        return rec

    def measure(self, run: Run, seconds: float):
        spark = run.spark
        calls = spark.sparkContext.accumulator(0)
        self.api = inputs.SeededPriceApi.from_seed(self.seed, calls)
        if run.traced:
            self._trace_layers(run.tracer)
            run.tracer.enabled = True
        deadline = now() + seconds
        back = self._pipeline_run(run, "backfill", self.today0, cold_start_days=self.history_days)
        if not back["appended"]:
            run.fail("etl_backfill", "cold-start backfill appended nothing")
        daily: list[dict] = []
        while now() < deadline or len(daily) < self.min_daily * (2 if run.traced else 1):
            run.tracer.enabled = run.traced and len(daily) % 2 == 1
            day = self.today0 + datetime.timedelta(days=len(daily) + 1)
            rec = self._pipeline_run(run, f"daily{len(daily) + 1}", day)
            if not rec["appended"]:
                run.fail(f"etl_daily{len(daily) + 1}", "daily run appended nothing")
            daily.append(rec)
        run.tracer.enabled = False
        last_day = self.today0 + datetime.timedelta(days=len(daily))
        noop = self._pipeline_run(run, "noop", last_day)
        if noop["appended"]:
            run.fail("etl_noop", "a run with watermark == today appended rows")
        self._check_table(run, last_day)
        zone_days = (self.history_days + 1 + len(daily)) * len(inputs.ZONES)
        run.attempted += 1
        if calls.value != zone_days:
            run.fail("etl_fetch_calls", f"{calls.value} API calls for {zone_days} planned zone-days")

        plain = [d["s"] for d in daily if not d["traced"]]
        tail_v, tail_p, n = tail(plain)
        e2e = {
            "pass_cpu_s": back["cpu_s"], "op_p50_cpu_s": median(d["cpu_s"] for d in daily if not d["traced"]),
            "pass_s": back["s"], "op_p50_s": median(plain), "op_tail_s": tail_v,
        }
        notes = {
            "history_days": self.history_days, "backfill_s": round(back["s"], 3), "backfill_cpu_s": round(back["cpu_s"], 3),
            "daily_s": [round(d["s"], 3) for d in daily], "daily_cpu_s": [round(d["cpu_s"], 3) for d in daily],
            "noop_s": noop["s"], "tail_pct": tail_p, "samples": n,
        }

        layers = _zero_layers()
        layers["queries.position_drift"] = plain[-1] / plain[0] if len(plain) > 1 else 1.0
        layers["http_json.fetch_calls_per_zone_day"] = calls.value / zone_days
        layers["sinks.files_per_partition"] = self._files_per_partition()
        traced = [d for d in daily if d["traced"]]
        if traced:
            layers.update(_median_of(traced, _EXEC_KEYS))
            layers["etl.jobs_per_run"] = layers["exec.jobs"]
            layers["sinks.watermark_s"] = median(d.get("sinks.watermark", 0.0) for d in traced)
            layers["pipeline.run_self_s"] = median(d.get("pipeline.run", 0.0) for d in traced)
            layers["http_json.fetch_s"] = back.get("http_json.fetch", 0.0)
            layers["http_json.landing_read_s"] = back.get("http_json.landing_read", 0.0)
            layers["sinks.append_s"] = back.get("sinks.append", 0.0)
            layers["trace.overhead_s"] = median(d["s"] for d in traced) - median(plain)
            spans = ("pipeline.run", "sinks.watermark", "http_json.fetch_plan", "http_json.fetch", "http_json.landing_read", "sinks.append")
            notes["daily_run_self_s"] = {k: median(d.get(k, 0.0) for d in traced) for k in spans}
            notes["daily_run_s"] = median(d["s"] for d in traced)
            notes["backfill_self_s"] = {k: back.get(k, 0.0) for k in spans}
        return e2e, layers, notes

    def _check_table(self, run: Run, last_day) -> None:
        """The re-read fact table holds exactly one row per (date, zone)
        from the backfill's first day to ``last_day``, each at the API's
        closed-form average."""
        run.attempted += 1
        pdf = run.spark.read.parquet(f"{self.base}/fact").select("date", "zone", "avg_price").toPandas()
        first = self.today0 - datetime.timedelta(days=self.history_days)
        want = {(first + datetime.timedelta(days=i), z) for i in range((last_day - first).days + 1) for z in inputs.ZONES}
        got = list(zip(pdf["date"], pdf["zone"]))
        if len(got) != len(want) or set(got) != want:
            run.fail("etl_fact_keys", f"{len(got)} rows, {len(set(got))} distinct keys; expected {len(want)}")
            return
        bad = [(d, z, p) for d, z, p in zip(pdf["date"], pdf["zone"], pdf["avg_price"]) if p != self.api.avg_price(z, d)]
        if bad:
            run.fail("etl_fact_values", f"{len(bad)} rows differ from the closed form, e.g. {bad[0]}")

    def _files_per_partition(self) -> float:
        parts = glob.glob(f"{self.base}/fact/date=*")
        files = sum(len(glob.glob(f"{p}/*.parquet")) for p in parts)
        return files / len(parts) if parts else 0.0


# ------------------------------------------------------------- registry

#: queries/ modules of the read-only dashboard surface
DASHBOARD_MODULES = ("flagship", "relational", "functions", "joins", "windows", "tpch", "analytics")
#: every DASHBOARD_STEP-th dashboard query in catalog order; a pass over
#: all of them (89) does not fit one run
DASHBOARD_STEP = 10
#: every LLM_STEP-th query of queries/llm.py (31)
LLM_STEP = 4
#: bounded drains: tumbling (the reference transform as a stream),
#: sliding, session and OHLC windows, the checkpointed parquet rollup,
#: dedup and RocksDB-state aggregation over the events file stream,
#: plus the streaming read of the Python DataSource
#: (sources/api_datasource.py)
STREAM_QUERIES = (
    "streaming_tumbling_daily", "streaming_sliding_2d_1d", "streaming_sliding_2d_1d_append",
    "streaming_rollup_parquet", "streaming_ohlc_candles", "streaming_session_windows",
    "streaming_dedup_count", "streaming_rocksdb_stateful_rollup", "api_source_stream_rollup",
)
#: corpus scale (1.0 = the test corpus at sf0.01) and ETL history days per size
SIZES = {"full": (1.0, 365), "tiny": (0.1, 10)}


def make(name: str, size: str = "full"):
    """The workload called ``name``; raises KeyError for an unknown one."""
    from energi_data_etl_spark.queries import QUERIES

    _, history = SIZES[size]
    if name == "etl_daily":
        return EtlDaily(history)
    if name == "dashboard_sql":
        mods = {f"energi_data_etl_spark.queries.{m}" for m in DASHBOARD_MODULES}
        names = [n for n, q in QUERIES.items() if q.fn.__module__ in mods]
        return QueryMix(tuple(names[::DASHBOARD_STEP]))
    if name == "llm_curation":
        names = [n for n, q in QUERIES.items() if q.fn.__module__ == "energi_data_etl_spark.queries.llm"]
        return QueryMix(tuple(names[::LLM_STEP]))
    if name == "stream_drain":
        return QueryMix(STREAM_QUERIES, streams=True)
    raise KeyError(name)

