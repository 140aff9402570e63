"""The repo benchmark: seeded inputs, closed-loop workloads, output checks.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cooc_stream --seed 1 --seconds 45 --trace 0

``--trace 0`` measures the end-to-end metrics with no instrumentation;
``--trace 1`` is a separate run with spans, a py4j counter and the Spark
event log, and reports the per-layer metrics. The last stdout line is the
result object. The line before it and ``.perfbench/<workload>_trace<t>.json``
hold the run record (host, provenance, traffic, per-operation walls, check
verdicts); a traced run writes its spans and per-operation progress records
to ``.perfbench/<workload>_spans.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

#: cooc_stream: the reference's sampled pipeline, one 1-day window a batch
EVENTS_PER_BATCH = 500
K_MAX = 100  # kMax, per-user reservoir capacity
F_MAX = 100  # fMax, lifetime admissions per item
TOP_K = 10
#: batch walls on a 4-core host (the first pays the cold JVM); they size
#: the measured work from ``--seconds``, so the same ``--seconds`` always
#: processes the same batches
COLD_BATCH_S, BATCH_S = 14.0, 7.5

#: batch_plans: one-shot jobs over the same traffic shape
PLAN_EVENTS = 3_000
PLAN_DOCS = 200
PLAN_VECTORS = 600
COLD_ROUND_S, ROUND_S = 30.0, 17.0

#: set-ups per run; the median is ``setup_s``
SETUP_REPS = 3

#: end-to-end metric -> unit, as listed in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput_rps": "records/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "latency_growth": "ratio",
    "peak_rss_mb": "MB",
}

_JOBS = ("cooc_topk", "windowed_topk", "corpus_manifest", "pq_index_build", "pq_index_query")

#: per-layer metric -> unit, as listed in BENCHMARK.json
PER_LAYER = {
    "engine.driver_only_s": "s",
    "engine.jobs_per_batch": "count",
    "engine.stages_per_batch": "count",
    "engine.tasks_per_batch": "count",
    "engine.fast_path_share": "ratio",
    "engine.rescored_items": "count",
    "engine.observed_cooccurrences": "count",
    "engine.late_elements": "count",
    "state.read_s": "s",
    "state.read_calls": "count",
    "state.write_s": "s",
    "state.write_calls": "count",
    "state.commit_s": "s",
    "state.commits": "count",
    "state.buckets_written": "count",
    "state.bucket_write_share": "ratio",
    "state.bytes_end": "bytes",
    "state.files_end": "count",
    "state.bytes_per_record": "bytes/record",
    **{f"{p}.{j}": "s" for j in _JOBS
       for p in ("job_s", "plans.construct_s", "plans.execute_s")},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.idle_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.parallelism": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.gc_s": "s",
    "py4j.calls": "count",
    "py4j.s": "s",
    "proc.jvm_peak_rss_mb": "MB",
    "proc.py_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


# -- host fit and provenance ---------------------------------------------------


def host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": cores,
        "mem_total_mb": mem_kb // 1024,
        # an eighth of RAM: the repo's 48g default assumes a large host
        "driver_heap_mb": max(1024, mem_kb // 1024 // 8),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
    }


def start_session(h: dict, work: str, trace: bool):
    """A SparkSession sized to the host, writing only under ``work``."""
    from flink_cooccurrence_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(h["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{h['driver_heap_mb']}m"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed-size heap, so the peak RSS does not follow heap resizing;
        # no hsperfdata files, which HotSpot writes to /tmp whatever tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Xms{h['driver_heap_mb']}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024


def calibration_s(spark, cores: int) -> float:
    """Fixed probe that touches no repo code: a range scan and a modulo
    shuffle aggregate. It moves with the host, never with the engine."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    (
        spark.range(0, 2_000_000, 1, cores)
        .withColumn("k", F.col("id") % 9973)
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t


def dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(base, f))
            n_files += 1
    return n_bytes, n_files


def tail(walls: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten operations beyond it, as
    (value, percentile, n); below eleven operations, the maximum."""
    s, n = sorted(walls), len(walls)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


# -- workloads -----------------------------------------------------------------


class CoocStream:
    """``CooccurrenceStreamEngine.process_batch`` in a closed loop."""

    def __init__(self, seed: int, seconds: int) -> None:
        self.seed = seed
        self.n_batches = 1 + max(2, int((seconds - COLD_BATCH_S) / BATCH_S))

    def setup(self, spark, work: str) -> None:
        import gen
        from flink_cooccurrence_spark.config import CooccurrenceConfig
        from flink_cooccurrence_spark.streaming.engine import CooccurrenceStreamEngine

        self.inputs = gen.interaction_batches(
            self.seed, os.path.join(work, "input"), self.n_batches, EVENTS_PER_BATCH
        )
        self.state_dir = os.path.join(work, "engine")
        self.engine = CooccurrenceStreamEngine(
            spark,
            CooccurrenceConfig(
                window_size=1, window_unit="DAYS", top_k=TOP_K,
                item_cut=F_MAX, user_cut=K_MAX, seed=self.seed,
            ),
            workdir=self.state_dir,
        )

    def ops(self, spark):
        for b, path in enumerate(self.inputs["paths"]):
            yield f"batch-{b}", "process_batch", (
                lambda b=b, path=path: self.engine.process_batch(spark.read.parquet(path), b)
            )

    def records(self) -> int:
        return self.n_batches * EVENTS_PER_BATCH

    def check(self, spark) -> list[str]:
        import checks
        from pyspark.sql import functions as F

        eng = self.engine
        m = self.counts = eng.metrics()
        eng.close()
        return checks.check_cooc(
            history_lens=eng.user_histories().select(F.size("history").alias("n")).toPandas()["n"],
            k_max=K_MAX,
            item_counts=eng.item_counts().toPandas(),
            f_max=F_MAX,
            item_rows=eng.item_rows().toPandas(),
            row_sums=eng.row_sums().toPandas(),
            total=eng.total_observed(),
            late_elements=m["late_elements"],
            late_planted=self.inputs["traffic"]["late_planted"],
            topk=eng.final_topk(round_digits=3).toPandas(),
            k=TOP_K,
        )


#: batch_plans job name -> the registry query and DuckDB oracle it runs
PLAN_QUERIES = {
    "cooc_topk": "topk_similar",
    "windowed_topk": "windowed_topk",
    "corpus_manifest": "prepare_corpus_manifest",
    "pq_index_query": "pq_index_query_refined",
}


class BatchPlans:
    """One-shot jobs through the registry and ``plans.*``, collected to the
    driver; ``write_pq_index`` writes its index."""

    def __init__(self, seed: int, seconds: int) -> None:
        self.seed = seed
        self.rounds = 1 + max(1, int((seconds - COLD_ROUND_S) / ROUND_S))
        self.outputs: dict = {}
        #: set for a traced run: spans the plan call and the sink apart
        self.tracer = None

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def setup(self, spark, work: str) -> None:
        import gen

        self.work = work
        self.data = os.path.join(work, "input")
        self.inputs = gen.batch_tables(
            self.seed, self.data, PLAN_EVENTS, PLAN_DOCS, PLAN_VECTORS
        )

    def _query(self, spark, name: str):
        from flink_cooccurrence_spark.registry import all_queries

        with self._span("plan_call"):
            df = all_queries()[PLAN_QUERIES[name]](spark, self.data)
        with self._span("sink"):
            self.outputs[name] = df.toPandas()

    def _build(self, spark, r: int):
        from flink_cooccurrence_spark.plans.ann import write_pq_index
        from flink_cooccurrence_spark.sources import load_table

        self.index = os.path.join(self.work, f"pq_index_{r}")
        write_pq_index(
            load_table(spark, self.data, "embeddings"), self.index,
            encode="residual", centroids="kmeans",
        )

    def _pq_query(self, spark):
        from pyspark.sql import functions as F

        from flink_cooccurrence_spark.operators.pq import PQ_REFINE_FACTOR
        from flink_cooccurrence_spark.operators.similarity import ANN_K, QUERY_MOD
        from flink_cooccurrence_spark.plans.ann import query_pq_index
        from flink_cooccurrence_spark.sources import load_table

        emb = load_table(spark, self.data, "embeddings")
        qs = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        with self._span("plan_call"):
            df = query_pq_index(
                spark, self.index, qs, k=ANN_K, nprobe=1,
                refine_factor=PQ_REFINE_FACTOR, flat=emb.select("vec_id", "embedding"),
            )
        with self._span("sink"):
            self.outputs["pq_index_query"] = df.toPandas()

    def ops(self, spark):
        for r in range(self.rounds):
            for job in ("cooc_topk", "windowed_topk", "corpus_manifest"):
                yield f"{job}-{r}", job, (lambda job=job: self._query(spark, job))
            yield f"pq_index_build-{r}", "pq_index_build", (lambda r=r: self._build(spark, r))
            yield f"pq_index_query-{r}", "pq_index_query", (lambda: self._pq_query(spark))

    def records(self) -> int:
        return self.rounds * self.inputs["input_rows"]

    def check(self, spark) -> list[str]:
        import checks
        import duckdb

        from flink_cooccurrence_spark.oracle import ORACLES

        fails = []
        con = duckdb.connect()
        try:
            for t in ("events", "documents", "embeddings"):
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for job, query in PLAN_QUERIES.items():
                got = self.outputs.get(job)
                if got is None or not len(got):
                    fails.append(f"{job}: no output")
                elif not checks.frames_equal(got, con.execute(ORACLES[query]).df()):
                    fails.append(f"{job}: differs from the DuckDB oracle")
        finally:
            con.close()
        return fails


WORKLOADS = {"cooc_stream": CoocStream, "batch_plans": BatchPlans}


# -- the run -------------------------------------------------------------------


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    h = host()
    work = os.path.join(OUT_DIR, f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    # the engine's pandas UDFs import the package inside Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    wl = WORKLOADS[workload](seed, seconds)
    spark = None
    try:
        setups = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            if spark is not None:
                spark.stop()  # the next rep starts a new context in this JVM
            rep_dir = os.path.join(work, f"rep{rep}")
            spark = start_session(h, work, trace)
            wl.setup(spark, rep_dir)
            setups.append(time.perf_counter() - t)
            if rep:
                shutil.rmtree(os.path.join(work, f"rep{rep - 1}"), ignore_errors=True)
        calib = calibration_s(spark, h["nproc"])

        tracer = None
        if trace:
            import tracing as tr

            tracer = wl.tracer = tr.Tracer()
            tracer.install()
        ops, failed_ops = [], set()
        t_start, w0 = time.time(), time.perf_counter()
        for op_id, kind, fn in wl.ops(spark):
            ctx = tracer.span(kind, op=op_id) if tracer else nullcontext()
            s, p0 = time.time(), time.perf_counter()
            with ctx:
                try:
                    fn()
                except Exception:
                    traceback.print_exc()
                    failed_ops.add(op_id)
            ops.append({"op": op_id, "kind": kind, "wall_s": time.perf_counter() - p0,
                        "start": s, "end": time.time()})
        wall = time.perf_counter() - w0
        t_end = time.time()
        if tracer:
            tracer.uninstall()

        try:
            check_fails = wl.check(spark)
        except Exception as e:
            traceback.print_exc()
            check_fails = [f"check raised {type(e).__name__}: {e}"]
        if check_fails:
            failed_ops = {o["op"] for o in ops}
        peak = jvm_peak_rss_mb(spark)

        walls = [o["wall_s"] for o in ops]
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "host": h, "calibration_s": calib, "setup_reps_s": setups,
            "traffic": wl.inputs["traffic"], "ops": ops,
            "checks": check_fails or "passed",
            "failed_share": len(failed_ops) / len(ops),
        }
        if trace:
            log = tr.read_event_log(os.path.join(work, "eventlog"),
                                    spark.sparkContext.applicationId)
            metrics, per_op = layer_metrics(wl, tracer, log, ops, t_start, t_end, spark)
            tracer.dump(os.path.join(OUT_DIR, f"{workload}_spans.json"), {"ops": per_op})
        else:
            metrics = end_to_end(wl, walls, wall, setups, peak, record)
        result = {
            "correct": not check_fails and not failed_ops,
            "attempted": len(ops),
            "failed": len(failed_ops),
            "metrics": metrics,
        }
        with open(os.path.join(OUT_DIR, f"{workload}_trace{int(trace)}.json"), "w") as fh:
            json.dump({**record, "result": result}, fh, indent=1)
        return record, result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(wl, walls, wall, setups, peak, record) -> dict:
    if isinstance(wl, CoocStream):
        growth_walls = walls[1:]  # batch 0 pays the cold JVM
    else:
        per_round = len(walls) // wl.rounds
        growth_walls = [sum(walls[i:i + per_round]) for i in range(0, len(walls), per_round)]
    # a quarter of the operations, but at least two at each end
    q = max(2, len(growth_walls) // 4) if len(growth_walls) >= 4 else 1
    growth = statistics.median(growth_walls[-q:]) / statistics.median(growth_walls[:q])
    tail_v, tail_p, n = tail(walls)
    record["batch_tail"] = {"percentile": tail_p, "n": n}
    m = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "throughput_rps": wl.records() / wall,
        "batch_p50_s": statistics.median(walls),
        "batch_tail_s": tail_v,
        "latency_growth": growth,
        "peak_rss_mb": peak,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}


def layer_metrics(wl, tracer, log, ops, t0, t1, spark) -> tuple[dict, list]:
    """Run-level layer metrics, and one progress record per operation."""
    import tracing as tr

    m = dict.fromkeys(PER_LAYER, 0.0)
    per_op = []
    for o in ops:
        sw = tr.spark_window(log, o["start"], o["end"])
        per_op.append({**o, "spark": sw, "driver_only_s": o["wall_s"] - sw["job_busy_s"]})
    if isinstance(wl, CoocStream):
        n = len(per_op)
        m["engine.driver_only_s"] = sum(p["driver_only_s"] for p in per_op) / n
        m["engine.jobs_per_batch"] = sum(p["spark"]["jobs"] for p in per_op) / n
        m["engine.stages_per_batch"] = sum(p["spark"]["stages"] for p in per_op) / n
        m["engine.tasks_per_batch"] = sum(p["spark"]["tasks"] for p in per_op) / n
        c = wl.counts
        m["engine.fast_path_share"] = c["fast_path_batches"] / max(c["batches"], 1)
        m["engine.rescored_items"] = c["rescored_items"]
        m["engine.observed_cooccurrences"] = c["observed_cooccurrences"]
        m["engine.late_elements"] = c["late_elements"]
        st = tracer.state_totals(t0, t1)
        for kind, calls in (("read", "read_calls"), ("write", "write_calls"),
                            ("commit", "commits")):
            m[f"state.{kind}_s"], m[f"state.{calls}"] = st[kind]
        m["state.buckets_written"] = tracer.buckets_written
        m["state.bucket_write_share"] = tracer.buckets_written / max(tracer.buckets_existing, 1)
        b, f = dir_size(os.path.join(wl.state_dir, "state"))
        m["state.bytes_end"], m["state.files_end"] = b, f
        m["state.bytes_per_record"] = b / wl.records()
    else:
        for job in _JOBS:
            mine = [p for p in per_op if p["kind"] == job]
            m[f"job_s.{job}"] = statistics.median(p["wall_s"] for p in mine)
            m[f"plans.construct_s.{job}"] = statistics.median(p["driver_only_s"] for p in mine)
            m[f"plans.execute_s.{job}"] = statistics.median(p["spark"]["job_busy_s"] for p in mine)
    for k, v in tr.spark_window(log, t0, t1).items():
        m[f"spark.{k}"] = v
    m["py4j.calls"], m["py4j.s"] = tracer.py4j_calls, tracer.py4j_s
    m["proc.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    m["proc.py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    m["trace.overhead_s"] = tracer.overhead_s()
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}, per_op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import flink_cooccurrence_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    record, result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    summary = {k: record[k] for k in ("workload", "seed", "host", "calibration_s",
                                       "traffic", "checks", "failed_share")}
    print(json.dumps(summary), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
