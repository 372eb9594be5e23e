"""The benchmark's workloads, driven through the engine's public calls.

Each workload has one closed-loop client in this process. ``feature_batch``
and ``curation`` make passes over a family of registry queries;
``serve_fresh`` makes rounds of land-an-update-batch, fold it with
``run_bounded(foreach_batch_latest_upsert(file_events(...)))``, then point
lookups with ``FeatureTable.point_query``.

Every operation is checked, outside the timed region: each query once per
run against its DuckDB oracle, each lookup against the generator's expected
latest row. A mismatch or an exception counts as a failed operation and is
neither dropped nor retried.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from spans import MB, Tracer, plan_shape

FEATURE_BATCH = (
    "latest_per_key", "per_key_avg", "tumbling_count_window",
    "salted_sliding_window", "session_window_gap", "ewma_per_user",
    "change_detection_last_emitted", "point_in_time_training_join",
    "feature_drift_psi", "feature_pipeline_end2end",
)
CURATION = (
    "curation_pipeline_end2end", "near_dup_minhash", "dedup_keep_best",
    "decontaminate_against_eval", "incremental_minhash_index",
    "semdedup_prune", "sq8_adc_topk", "ivf_index_query_sq8",
)
FAMILIES = {"feature_batch": FEATURE_BATCH, "curation": CURATION}
INPUTS = {"feature_batch": ("events",),
          "curation": ("documents", "embeddings")}
STATE_KEY = {"key": "user_id", "ts": "ts", "seq": "event_id"}


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def persisted_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def leaked(spark: SparkSession, before: set[int]) -> tuple[float, float]:
    """RDDs persisted since ``before`` was taken, and their stored MB."""
    ids = persisted_ids(spark) - before
    mb = sum(
        (i.memSize() + i.diskSize()) / MB
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.id() in ids
    )
    return float(len(ids)), mb


def _add(acc: dict[str, float], got: dict[str, float]) -> None:
    for k, v in got.items():
        acc[k] = acc.get(k, 0.0) + v


class BatchWorkload:
    """Passes over one registry query family at ``data_dir``.

    The first pass of a run collects every query's rows and checks them
    against the query's DuckDB oracle, outside the timed region; later
    passes drain each result through the ``noop`` sink. ``curation`` is
    timed cold: its checked first pass is the run's one timed pass, as when
    a curation build runs as its own batch job (about 190 jobs a pass).
    ``feature_batch`` times warm passes after an untimed checked one.
    """

    def __init__(self, name: str, data_dir: str, ops: Ops):
        self.names = FAMILIES[name]
        self.inputs = INPUTS[name]
        self.data_dir = data_dir
        self.ops = ops
        self.cold = name == "curation"
        self.checked = False

    def warm(self, spark: SparkSession) -> None:
        """Set-up warm-up: open and count every input table."""
        from ralf_spark.sources.fixtures import load_fixture

        for t in self.inputs:
            load_fixture(spark, t, self.data_dir).df.count()

    def check(self, spark: SparkSession) -> None:
        """The untimed, checked first pass of a warm-timed run."""
        self.step(spark, Tracer(spark.sparkContext, False), "warm-up")

    def _oracle_ok(self, spark, con, name: str, schema, rows) -> str | None:
        """None if ``rows`` match the query's oracle, else the mismatch.
        The rows go back through a DataFrame so that the engine's own
        comparison (``ralf_spark.oracle.compare_query``) judges them."""
        from ralf_spark.oracle import compare_query
        from ralf_spark.queries import QUERIES

        got = spark.createDataFrame(rows, schema, verifySchema=False)
        res = compare_query(spark, name, lambda *_: got, QUERIES[name].oracle,
                            self.data_dir, con)
        return None if res.ok else f"{name}: oracle mismatch {res}"

    def step(self, spark: SparkSession, tracer: Tracer,
             rid: str) -> dict | None:
        """One pass; its times exclude the checks and the cache hygiene
        between calls."""
        import duckdb

        from ralf_spark.operators.util import unpersist_cached
        from ralf_spark.queries import QUERIES

        check, self.checked = not self.checked, True
        rec: dict = {"op_s": [], "spark": {}, "plans": {}, "queries": {},
                     "cache": {"leaked_rdds": 0.0, "leaked_mb": 0.0}}
        with duckdb.connect() as con, tracer.span("pass", rid):
            con.execute("SET temp_directory = "
                        f"'{os.path.join(self.data_dir, 'duckdb_tmp')}'")
            for t in self.inputs:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir}/{t}.parquet'")
            for name in self.names:
                before = persisted_ids(spark)
                try:
                    with tracer.span(f"query.{name}"):
                        with tracer.span("construct", jobs=True) as c_sp:
                            t0 = time.perf_counter()
                            df = QUERIES[name].fn(spark, self.data_dir)
                            t1 = time.perf_counter()
                        with tracer.span("execute", jobs=True) as e_sp:
                            if check:
                                rows = df.collect()
                            else:
                                df.write.format("noop").mode(
                                    "overwrite").save()
                            t2 = time.perf_counter()
                    q = {"construct_s": t1 - t0, "execute_s": t2 - t1}
                    if tracer.enabled:
                        q["jobs"] = (c_sp.counters["jobs"]
                                     + e_sp.counters["jobs"])
                        _add(rec["spark"], c_sp.counters)
                        _add(rec["spark"], e_sp.counters)
                        _add(rec["plans"], plan_shape(spark, df))
                    # record what the operator's own release leaves behind,
                    # then clear it so no later timing reads a leaked cache
                    unpersist_cached(df)
                    n, mb = leaked(spark, before)
                    spark.catalog.clearCache()
                    err = None
                    if check:
                        with tracer.span("check"):
                            err = self._oracle_ok(spark, con, name,
                                                  df.schema, rows)
                except Exception as e:  # the run goes on; the op failed
                    self.ops.record(False, f"{name}: {e!r}"[:500])
                    spark.catalog.clearCache()
                    continue
                self.ops.record(err is None, err or "")
                rec["op_s"].append(t2 - t0)
                rec["queries"][name] = q
                rec["cache"]["leaked_rdds"] += n
                rec["cache"]["leaked_mb"] += mb
        return rec if rec["op_s"] else None

    def summary(self, recs: list[dict]) -> dict[str, float]:
        """Each query's median time over the passes, then: ``pass_s`` their
        sum, so a slow moment of the machine costs one query's sample, not
        a whole pass; ``fresh_p50_s`` the same, since a batch pass publishes
        its features when it completes; ``op_ms`` their geometric mean, a
        typical query's latency that no single query dominates."""
        med = [
            statistics.median(r["queries"][q]["construct_s"]
                              + r["queries"][q]["execute_s"]
                              for r in recs if q in r["queries"])
            for q in self.names if any(q in r["queries"] for r in recs)
        ]
        if not med:
            return {"pass_s": 0.0, "fresh_p50_s": 0.0, "op_ms": 0.0}
        geo = math.exp(statistics.fmean(math.log(t) for t in med))
        return {"pass_s": sum(med), "fresh_p50_s": sum(med),
                "op_ms": geo * 1e3}


class ServeWorkload:
    """ralf's serving loop: fold update batches, read keys back. A server
    is long-running, so the timed rounds follow ``WARM_ROUNDS`` checked
    warm-up rounds: round times still fell by a fifth over the first four
    rounds of a run."""

    cold = False
    WARM_ROUNDS = 3

    def __init__(self, data_dir: str, state, ops: Ops):
        from gen import write_parquet

        self.st = state
        self.ops = ops
        self.land = os.path.join(data_dir, "landing")
        self.state_path = os.path.join(data_dir, "state")
        self.ckpt = os.path.join(data_dir, "checkpoint")
        os.makedirs(self.land)
        os.makedirs(self.state_path)
        write_parquet(state.base_table(),
                      os.path.join(self.state_path, "part-00000.parquet"))

    def warm(self, spark: SparkSession) -> None:
        spark.read.parquet(self.state_path).count()

    def check(self, spark: SparkSession) -> None:
        """Untimed warm-up rounds; their folds and lookups are checked
        too."""
        for i in range(self.WARM_ROUNDS):
            self.step(spark, Tracer(spark.sparkContext, False), f"warm-up-{i}")

    def _state_stats(self) -> tuple[float, float]:
        files = [f for f in os.listdir(self.state_path)
                 if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(self.state_path, f))
                   for f in files)
        return size / MB, float(len(files))

    def step(self, spark: SparkSession, tracer: Tracer,
             rid: str) -> dict | None:
        from gen import write_parquet
        from ralf_spark.streaming.sinks import (
            foreach_batch_latest_upsert,
            run_bounded,
        )
        from ralf_spark.streaming.sources import file_events
        from ralf_spark.table import FeatureTable

        batch, keys = self.st.next_batch()
        path = os.path.join(self.land, f"batch-{self.st.round_no:05d}.parquet")
        write_parquet(batch, path)
        batch_mb = os.path.getsize(path) / MB
        before = persisted_ids(spark)
        rec: dict = {"op_s": [], "spark": {}, "plans": {}, "table": {
            "plan_ms": [], "collect_ms": [], "jobs": []}}
        with tracer.span("round", rid):
            t_land = time.perf_counter()
            try:
                with tracer.span("streaming.run_bounded") as s_sp:
                    t0 = time.perf_counter()
                    q = run_bounded(
                        foreach_batch_latest_upsert(
                            file_events(spark, self.land), self.state_path,
                            **STATE_KEY),
                        checkpoint=self.ckpt,
                    )
                    t1 = time.perf_counter()
                    tracer.add_group(s_sp, str(q.runId))
                with tracer.span("table.open", jobs=True) as o_sp:
                    table = FeatureTable(spark.read.parquet(self.state_path),
                                         **STATE_KEY)
                self.ops.record(True, "fold")
            except Exception as e:
                self.ops.record(False, f"fold: {e!r}"[:500])
                return None
            t_vis = time.perf_counter()
            rec["fresh_s"] = t_vis - t_land
            rec["streaming"] = _progress(q, t1 - t0)
            if tracer.enabled:
                for sp in (s_sp, o_sp):
                    _add(rec["spark"], sp.counters)
                up = [s for s in tracer.spans
                      if s.parent == s_sp.id and s.name.startswith("conn")]
                out_mb = sum(s.counters.get("output_mb", 0.0) for s in up)
                for s in up:
                    _add(rec["spark"], s.counters)
                state_mb, state_files = self._state_stats()
                rec["connectors"] = {
                    "state_mb": state_mb, "state_files": state_files,
                    "write_amp": out_mb / batch_mb,
                }
            for k in keys:
                err, t_op = self._lookup(spark, tracer, table, k, rec)
                rec["op_s"].append(t_op)
                self.ops.record(err is None, err or "")
        rec["pass_s"] = rec["fresh_s"] + sum(rec["op_s"])
        n, mb = leaked(spark, before)
        rec["cache"] = {"leaked_rdds": n, "leaked_mb": mb}
        spark.catalog.clearCache()
        return rec

    @staticmethod
    def summary(recs: list[dict]) -> dict[str, float]:
        """Medians over the rounds (``pass_s``, ``fresh_p50_s``) and over
        every lookup (``op_ms``)."""
        if not recs:
            return {"pass_s": 0.0, "fresh_p50_s": 0.0, "op_ms": 0.0}
        return {
            "pass_s": statistics.median(r["pass_s"] for r in recs),
            "fresh_p50_s": statistics.median(r["fresh_s"] for r in recs),
            "op_ms": statistics.median(t for r in recs for t in r["op_s"])
            * 1e3,
        }

    def _lookup(self, spark, tracer: Tracer, table, key: int, rec: dict):
        try:
            with tracer.span("lookup"):
                t0 = time.perf_counter()
                if tracer.enabled:  # split the call to time plan and collect
                    with tracer.span("table.point_query_df", jobs=True) as p:
                        qdf = table.point_query_df(key)
                    t1 = time.perf_counter()
                    with tracer.span("table.collect", jobs=True) as c:
                        rows = qdf.collect()
                else:
                    rows = table.point_query(key)
                t2 = time.perf_counter()
        except Exception as e:
            return f"lookup {key}: {e!r}"[:500], time.perf_counter() - t0
        if tracer.enabled:
            tab = rec["table"]
            tab["plan_ms"].append((t1 - t0) * 1e3)
            tab["collect_ms"].append((t2 - t1) * 1e3)
            tab["jobs"].append(p.counters["jobs"] + c.counters["jobs"])
            _add(rec["spark"], p.counters)
            _add(rec["spark"], c.counters)
            if not rec["plans"]:
                rec["plans"] = plan_shape(spark, qdf)
        want = self.st.expected(key)
        if _row_matches(rows, want):
            return None, t2 - t0
        return f"lookup {key}: got {rows}, want {want}"[:500], t2 - t0


def trace_upserts(tracer: Tracer) -> None:
    """Time each fold's call into the connectors layer. The streaming sink
    looks ``upsert_into`` up at call time, so the wrapper sees every batch;
    it runs on the stream's callback thread, nested under the client's
    ``streaming.run_bounded`` span."""
    import ralf_spark.connectors as connectors

    inner = connectors.upsert_into

    def upsert_into(*args, **kwargs):
        with tracer.span("connectors.upsert_into", jobs=True):
            return inner(*args, **kwargs)

    connectors.upsert_into = upsert_into


def _row_matches(rows, want: tuple[int, int, int, float]) -> bool:
    import datetime as dt

    if len(rows) != 1:
        return False
    r = rows[0]
    # the process runs with TZ=UTC, so naive datetimes read back as UTC
    ts_us = (r["ts"] - dt.datetime(1970, 1, 1)) // dt.timedelta(
        microseconds=1)
    return (r["event_id"], ts_us, r["user_id"], r["value"]) == want


def _progress(q, run_s: float) -> dict[str, float]:
    """Streaming-layer times from the run's progress reports: query start
    and stop is what the bounded run took beyond its triggers."""
    d: dict[str, float] = {}
    for p in q.recentProgress:
        _add(d, {k: float(v) for k, v in p["durationMs"].items()})
    trigger = d.get("triggerExecution", 0.0)
    return {
        "start_ms": run_s * 1e3 - trigger,
        "trigger_ms": trigger,
        "add_batch_ms": d.get("addBatch", 0.0),
        "log_ms": sum(d.get(k, 0.0)
                      for k in ("latestOffset", "walCommit", "commitOffsets")),
    }
