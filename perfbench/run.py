"""Benchmark of the ralf_spark engine: one command, three workloads.

    python3 perfbench/run.py --workload feature_batch --seed 1 --seconds 20 \
        --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. A run generates its inputs from ``--seed``
(``gen.py``), sets up the Spark session several times and reports the median
set-up, checks every operation's output (``workloads.py``), then measures
passes or rounds for ``--seconds`` (``curation``: its one cold pass). It
prints, as the last line of standard output, ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the ``end_to_end`` metrics of
``BENCHMARK.json``, with ``--trace 1`` its ``per_layer`` metrics. A traced
run measures half its time untraced and half traced, so it can report the
tracing overhead, and writes its spans to ``.perfbench/spans/``.
``--smoke`` runs every workload once at a tiny size in both modes and
asserts that each named metric is emitted with its unit.

Everything a run writes (inputs, Spark local dirs, temp files, spans) stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5  # set-up repeats per run; setup_s is their median

SIZES = {
    # events/users: feature_batch; docs/vecs: curation; keys/batch/lookups:
    # serve_fresh (lookups per round, half on keys of the batch just landed,
    # half on hot keys)
    "full": dict(events=30_000, users=1_000, docs=300, vecs=600,
                 keys=200_000, batch=20_000, lookups=16),
    "tiny": dict(events=4_000, users=200, docs=120, vecs=200,
                 keys=4_000, batch=500, lookups=4),
}
WORKLOADS = ("feature_batch", "curation", "serve_fresh")


def spark_cores() -> int:
    """Half the CPUs this process may use, at least one. The other half
    keeps the driver JVM's JIT and GC threads, py4j and the Python client
    off the task threads: on a 4-CPU guest, ``local[2]`` ran every workload
    faster than ``local[4]``, and with a smaller run-to-run spread."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _sandbox(work: str) -> dict[str, str]:
    """Point every writer at ``work`` and return the session confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pypath = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TZ="UTC",
        PYTHONPATH=ROOT + (os.pathsep + pypath if pypath else ""),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(spark_cores()),
        # the engine's 8g default heap grows to fill itself on inputs this
        # size; a 2g heap is ample and keeps the run small on a shared box
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    time.tzset()
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def _generate(workload: str, seed: int, size: dict, data: str):
    import gen

    os.makedirs(data)
    if workload == "feature_batch":
        gen.write_events(os.path.join(data, "events.parquet"), seed,
                         size["events"], size["users"])
        return None
    if workload == "curation":
        gen.write_documents(os.path.join(data, "documents.parquet"), seed,
                            size["docs"])
        gen.write_embeddings(os.path.join(data, "embeddings.parquet"), seed,
                             size["vecs"])
        return None
    return gen.ServeState(seed, size["keys"], size["batch"], size["lookups"])


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _p95(values: list[float]) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=20, method="inclusive")[-1]


def _median(recs: list[dict], *path: str) -> float:
    vals = []
    for r in recs:
        for p in path:
            r = r.get(p, {})
        vals.append(float(r) if isinstance(r, (int, float)) else 0.0)
    return statistics.median(vals) if vals else 0.0


def _measure(wl, spark, tracer, seconds: float, rid: str,
             once: bool = False) -> list[dict]:
    """Passes (rounds) until ``seconds`` have elapsed; at least one, and
    only one if ``once``."""
    recs: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not recs or (not once and time.perf_counter() < t_end):
        rec = wl.step(spark, tracer, f"{rid}-{len(recs)}")
        if rec is not None:
            recs.append(rec)
            print(f"{rid}-{len(recs) - 1}: {sum(rec['op_s']):.3f} s in "
                  f"{len(rec['op_s'])} ops", file=sys.stderr)
        elif not recs and time.perf_counter() >= t_end:
            break  # nothing completes: report the failures, not a time
    return recs


def run(args) -> dict:
    # the engine must import before anything is written or measured:
    # outside a checkout this raises, and the run ends without a result
    sys.path.insert(0, ROOT)
    from ralf_spark.session import get_spark
    from spans import PLAN_COUNTERS, SPARK_COUNTERS, Tracer
    from workloads import (
        CURATION,
        FEATURE_BATCH,
        BatchWorkload,
        Ops,
        ServeWorkload,
        trace_upserts,
    )

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench", "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confs = _sandbox(work)
    size = SIZES[args.size]
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    state = _generate(args.workload, args.seed, size, data)
    ops = Ops()
    wl = (ServeWorkload(data, state, ops) if state is not None
          else BatchWorkload(args.workload, data, ops))
    gen_s = time.perf_counter() - t0
    input_mb = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs
                   in os.walk(data) for f in fs) / 2**20
    print(f"inputs: {args.workload} seed={args.seed} size={args.size}: "
          f"{input_mb:.2f} MB generated in {gen_s:.2f} s", file=sys.stderr)

    tracer = Tracer(None, bool(args.trace))
    t_start = time.perf_counter()
    starts, warms = [], []
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            with tracer.span("setup", f"setup-{i}"):
                t0 = time.perf_counter()
                with tracer.span("session.start"):
                    spark = get_spark(app_name="perfbench",
                                      extra_confs=confs)
                    spark.sparkContext.setLogLevel("ERROR")
                tracer.sc = spark.sparkContext
                t1 = time.perf_counter()
                with tracer.span("session.warmup", jobs=True):
                    wl.warm(spark)
                t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        t_check = time.perf_counter()
        if args.trace or not wl.cold:  # both halves of a trace run warm
            with tracer.span("check", "check"):
                wl.check(spark)
        t_measure = time.perf_counter()
        if args.trace:
            off = Tracer(spark.sparkContext, False)
            base = _measure(wl, spark, off, args.seconds / 2, "untraced")
            if state is not None:
                trace_upserts(tracer)
            recs = _measure(wl, spark, tracer, args.seconds / 2, "pass")
        else:
            # a cold workload's sample is its one cold pass: a warm pass
            # after it would change what pass_s means whenever the cold
            # pass gets shorter than --seconds
            recs = _measure(wl, spark, tracer, args.seconds, "pass",
                            once=wl.cold)
        peak = _peak_rss_mb(spark)
        print(f"phases: setup {t_check - t_start:.2f} s, check "
              f"{t_measure - t_check:.2f} s, measure "
              f"{time.perf_counter() - t_measure:.2f} s "
              f"({len(recs)} timed passes)", file=sys.stderr)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    m = {
        "setup_s": statistics.median(s + w for s, w in zip(starts, warms)),
        **wl.summary(recs),
        "peak_rss_mb": peak,
        "session.start_s": statistics.median(starts),
        "session.warmup_s": statistics.median(warms),
        "ops_failed_frac": ops.failed / max(1, ops.attempted),
    }
    if args.trace:
        m["trace.overhead_s"] = m["pass_s"] - wl.summary(base)["pass_s"]
        m["op_p95_ms"] = _p95([t for r in recs for t in r["op_s"]]) * 1e3
        for q in FEATURE_BATCH + CURATION:
            for k in ("construct_s", "execute_s", "jobs"):
                m[f"queries.{q}.{k}"] = _median(recs, "queries", q, k)
        for k in SPARK_COUNTERS:
            m[f"spark.{k}"] = _median(recs, "spark", k)
        for k in PLAN_COUNTERS:
            m[f"plans.{k}"] = _median(recs, "plans", k)
        for k in ("leaked_rdds", "leaked_mb"):
            m[f"cache.{k}"] = _median(recs, "cache", k)
        for k in ("start_ms", "trigger_ms", "add_batch_ms", "log_ms"):
            m[f"streaming.{k}"] = _median(recs, "streaming", k)
        for k in ("state_mb", "state_files", "write_amp"):
            m[f"connectors.{k}"] = _median(recs, "connectors", k)
        for k, src in (("lookup_plan_ms", "plan_ms"),
                       ("lookup_collect_ms", "collect_ms"),
                       ("lookup_jobs", "jobs")):
            vals = [v for r in recs for v in r.get("table", {}).get(src, [])]
            m[f"table.{k}"] = statistics.median(vals) if vals else 0.0
        os.makedirs(os.path.join(ROOT, ".perfbench", "spans"), exist_ok=True)
        tracer.dump(
            os.path.join(ROOT, ".perfbench", "spans",
                         f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed,
             "size": size, "gen_s": gen_s, "input_mb": input_mb,
             "metrics": m, "errors": ops.errors},
        )
    for e in ops.errors[:20]:
        print(f"failed op: {e}", file=sys.stderr)
    section = "per_layer" if args.trace else "end_to_end"
    return {
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {d["name"]: {"value": m[d["name"]], "unit": d["unit"]}
                    for d in spec[section]},
    }


def smoke() -> int:
    """Each workload once at the tiny size, untraced and traced; every
    metric named in BENCHMARK.json must come back with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            want = {d["name"]: d["unit"]
                    for d in spec["per_layer" if trace else "end_to_end"]}
            try:
                out = json.loads(p.stdout.strip().splitlines()[-1])
                got = {k: v["unit"] for k, v in out["metrics"].items()
                       if isinstance(v["value"], (int, float))}
                ok = (p.returncode == 0 and got == want
                      and out["attempted"] >= 1)
                note = (f"correct={out['correct']} attempted="
                        f"{out['attempted']} failed={out['failed']}")
            except (IndexError, ValueError, KeyError, TypeError):
                ok, note = False, "no result line"
            print(f"smoke {w} trace={trace}: metrics "
                  f"{'ok' if ok else 'FAILED'}, {note}", flush=True)
            if not ok:
                bad += 1
                print(p.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a stopped run still stops Spark: the finally blocks run on SystemExit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
