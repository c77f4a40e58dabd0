#!/usr/bin/env python3
"""The repository's benchmark: one workload, one fresh process, one JSON result.

    python3 perfbench/run.py --workload recsys --seed 1 --seconds 10 --trace 0

Run from the repository root. A run:

1. generates the workload's input tables from ``--seed`` (``gen.py``) under
   ``perfbench/.work/``;
2. sets the engine up once in a fresh JVM (``session.get_spark`` on
   ``local[<cpus>]``, the query registry loaded, one trivial job);
3. runs one first pass (every job once, in the listed order; outputs
   collected or written so they can be checked), then steady passes, in a
   seed-shuffled order, until ``--seconds`` have passed (at least
   ``STEADY_MIN_PASSES``);
4. checks every output, untimed (``workloads.py``);
5. prints one record line, then the result as the last stdout line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces the first
pass and half of at least four steady passes (``spans.py``) and reports the
per-layer metrics, including the tracing overhead: the median traced steady
pass minus the median untraced one, both from the same process.

The engine's own conf is used unchanged; the run only points Spark's
scratch directories and the JVM's temp dir into ``perfbench/.work/``, so it
reads and writes nothing outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import pyspark

import gen
import workloads as wl
from spans import LayerHooks, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: Steady passes per run, at least: the JIT is still warming during the
#: first one, and the median of three drops it (or one pass slowed by a
#: busy host).
STEADY_MIN_PASSES = 3

#: A traced run's steady passes go untraced, traced, traced, untraced (and
#: repeat), so the traced and untraced medians sit equally deep into the
#: JIT warm-up and their difference is the tracing overhead.
TRACED_MIN_PASSES = 4



def metric_units(trace: int) -> dict:
    """Name -> unit of the metrics a run prints, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def busy_cores(window_s: float = 0.5) -> float:
    """Cores kept busy by any process over a short window, from /proc/stat.
    Sampled before the run starts anything, it is the load of other work."""

    def sample():
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        idle = vals[3] + vals[4]
        return sum(vals) - idle, sum(vals)

    busy0, total0 = sample()
    time.sleep(window_s)
    busy1, total1 = sample()
    return os.cpu_count() * (busy1 - busy0) / max(1, total1 - total0)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate_scratch(run_dir: str) -> None:
    """Keep Spark's shuffle/spill files, Python temp files and the JVM's
    temp files (native library unpacking) inside this run's directory, and
    stop the JVM from writing its perf-data file to /tmp/hsperfdata_<user>.
    Must run before the first JVM starts."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def setup(session, registry_fn) -> tuple:
    """Fresh JVM → ready session: get_spark, registry load, one trivial job."""
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", master=f"local[{cpus()}]")
    t1 = time.perf_counter()
    reg = registry_fn()
    t2 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, reg, {"setup_s": t3 - t0, "get_spark_s": t1 - t0, "registry_load_s": t2 - t1}


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the session's JVM. Kept in the run record only: G1's heap
    sizing makes it vary by a quarter between identical runs."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing from /proc/{pid}/status")


def jvm_live_mb(spark) -> tuple[float, float]:
    """(heap, non-heap) MB the session's JVM still uses once garbage
    collection frees nothing more: cached data; loaded classes and compiled
    code. One full GC is not enough: Spark's ContextCleaner releases the
    broadcasts and shuffles of the driver objects that GC collected, so the
    heap after one GC varies by a third between identical runs."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = None
    for _ in range(5):
        jvm.System.gc()
        prev, heap = heap, mx.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and prev - heap < 1.0:
            break
        time.sleep(0.5)
    return heap, mx.getNonHeapMemoryUsage().getUsed() / 2**20


def teardown(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited
    (left alone, it would outlive this process briefly)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """Runs passes of one workload on one session and keeps their results."""

    def __init__(self, workload, spark, reg, data_dir, out_dir, tracer, seed):
        self.workload = workload
        self.spark = spark
        self.reg = reg
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.order_rng = random.Random(seed)
        self.outputs: dict[str, list] = {}
        self.errors: list[str] = []
        self.executions = 0
        self.job_s: dict[str, list[float]] = {j.name: [] for j in workload.jobs}

    def sink_path(self, job) -> str:
        return os.path.join(self.out_dir, f"{job.name}_{job.sink}")

    def _materialize(self, job, df, first: bool) -> None:
        from recommendation_system_big_data_spark.sources import sinks

        if job.sink:
            path = self.sink_path(job)
            with self.tracer.span("sinks.write") as rec:
                if job.sink == "csv":
                    sinks.write_single_csv(df, path)
                else:
                    sinks.write_partitioned_parquet(df, path, list(job.partition_by))
            if self.tracer.enabled:
                rec["bytes"], rec["files"] = wl.sink_stats(path)
        elif first:
            self.outputs[job.name] = [r.asDict() for r in df.collect()]
        else:
            df.write.format("noop").mode("overwrite").save()

    def run_job(self, job, first: bool) -> None:
        from recommendation_system_big_data_spark.plans.explain import num_shuffles

        fn = self.reg[job.name].fn
        tracer = self.tracer
        self.executions += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(f"job:{job.name}", job=job.name, module=fn.__module__) as rec:
                with tracer.span("plan"):
                    df = fn(self.spark, self.data_dir)
                    if tracer.enabled:
                        df._jdf.queryExecution().executedPlan()
                if tracer.enabled:
                    with tracer.span("plan.explain"):
                        rec["exchanges"] = num_shuffles(df)
                with tracer.span("exec"):
                    self._materialize(job, df, first)
        except Exception as exc:  # a failing job is reported, never dropped
            self.errors.append(f"{job.name}: raised {type(exc).__name__}: {str(exc)[:300]}")
        self.job_s[job.name].append(time.perf_counter() - t0)

    def run_pass(self, first: bool) -> tuple[float, int | None]:
        # The first pass keeps the listed order: whichever job runs first
        # pays the JIT, so a seeded order would make first_pass_s bimodal.
        jobs = list(self.workload.jobs)
        if not first:
            self.order_rng.shuffle(jobs)
        sid = len(self.tracer.spans) if self.tracer.enabled else None
        t0 = time.perf_counter()
        with self.tracer.span("pass", first=first):
            for job in jobs:
                self.run_job(job, first)
        return time.perf_counter() - t0, sid


def run_passes(runner, args) -> tuple:
    """First pass, then steady passes for ``args.seconds`` (at least
    STEADY_MIN_PASSES, or TRACED_MIN_PASSES when tracing). Returns the first
    pass time, the untraced and traced steady pass times, and the traced
    passes' span ids."""
    tracer = runner.tracer
    hooks = LayerHooks.install(tracer) if args.trace else None
    untraced, traced_s, traced_sids = [], [], []
    try:
        first_s, _ = runner.run_pass(first=True)
        t_steady = time.perf_counter()
        n = 0
        min_passes = TRACED_MIN_PASSES if args.trace else STEADY_MIN_PASSES
        while n < min_passes or time.perf_counter() - t_steady < args.seconds:
            traced = bool(args.trace) and n % 4 in (1, 2)
            tracer.enabled = traced
            if traced and hooks is None:
                hooks = LayerHooks.install(tracer)
            elif not traced and hooks is not None:
                hooks.close()
                hooks = None
            dt, sid = runner.run_pass(first=False)
            if traced:
                traced_s.append(dt)
                traced_sids.append(sid)
            else:
                untraced.append(dt)
            n += 1
    finally:
        if hooks is not None:
            hooks.close()
    return first_s, untraced, traced_s, traced_sids


def check_outputs(workload, runner, data_dir) -> tuple[list[str], dict]:
    """Untimed output checks; returns (failures, quality metrics)."""
    from recommendation_system_big_data_spark.operators.recommend import RMSE_BAND

    con = wl.duck(data_dir)
    fails, quality = [], {}
    outputs = runner.outputs
    failed_jobs = {e.split(":")[0] for e in runner.errors}
    for job in workload.jobs:
        if job.name in failed_jobs:
            continue
        if job.name == "als_predict":
            bad, quality["rmse"] = wl.predictions_check(con, runner.sink_path(job), RMSE_BAND)
            fails += bad
            continue
        if job.sink == "parquet":
            outputs[job.name] = wl.read_parquet_sink(con, runner.sink_path(job))
        if not outputs.get(job.name):
            fails.append(f"{job.name}: no rows")
        elif runner.reg[job.name].oracle:
            fails += wl.oracle_check(job.name, outputs[job.name], wl.query_rows(con, runner.reg[job.name].oracle))

    twins = {name: wl.query_rows(con, runner.reg[name].oracle) for name in workload.twins}
    for approx, exact, metric, gate, score in (
        ("sim_topk_ivfpq", "sim_topk_bruteforce", "ann_recall", wl.ANN_RECALL_MIN, wl.ann_recall),
        ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_recall", wl.DEDUP_RECALL_MIN, wl.pair_recall),
    ):
        if approx not in {j.name for j in workload.jobs}:
            continue
        if not outputs.get(approx) or not twins.get(exact):
            fails.append(f"{approx}: {metric} not measurable (no rows, or exact twin {exact} empty)")
            quality[metric] = None
            continue
        quality[metric] = score(outputs[approx], twins[exact])
        if quality[metric] < gate:
            fails.append(f"{approx}: {metric} {quality[metric]:.4f} below {gate}")
    if outputs.get("dedup_minhash_lsh"):
        fails += wl.pair_precision_check("dedup_minhash_lsh", outputs["dedup_minhash_lsh"], twins["dedup_ngram_jaccard"])
    con.close()
    return fails, quality


def per_layer_metrics(all_jobs, tracer, traced_passes, untraced_s, traced_s, setup_times, ncpu) -> dict:
    """Per-layer metrics from the traced passes (medians over the traced
    steady passes unless the name says otherwise; see README.md)."""
    med = statistics.median
    selfs = tracer.self_times()
    per_pass = []
    for sid in traced_passes:
        spans = tracer.descendants(sid)
        by = {}
        total = {}
        for s in spans:
            for k, v in s.get("spark", {}).items():
                total[k] = total.get(k, 0.0) + v
            by.setdefault(s["name"], []).append(s)
        wall = spans[0]["end"] - spans[0]["start"]

        def dur(name):
            return sum(s["end"] - s["start"] for s in by.get(name, []))

        m = {
            # Planning only: the plan spans' self time (layer calls such as
            # catalog.load and train_als are child spans) less the Spark
            # jobs a job function runs eagerly while it builds its frame.
            "plan.s": sum(
                selfs[s["id"]] - s.get("spark", {}).get("job_wall_s", 0.0) for s in by.get("plan", [])
            ),
            "plan.exchanges": sum(s.get("exchanges", 0) for s in spans if s["name"].startswith("job:")),
            "spark.jobs": total.get("jobs", 0.0),
            "spark.stages": total.get("stages", 0.0),
            "spark.tasks": total.get("tasks", 0.0),
            "spark.task_run_s": total.get("task_run_s", 0.0),
            "spark.task_cpu_s": total.get("task_cpu_s", 0.0),
            "spark.gc_s": total.get("gc_s", 0.0),
            "spark.core_busy_share": total.get("task_run_s", 0.0) / (wall * ncpu),
            "spark.shuffle_write_bytes": total.get("shuffle_write_bytes", 0.0),
            "spark.shuffle_read_bytes": total.get("shuffle_read_bytes", 0.0),
            "spark.spill_bytes": total.get("spill_bytes", 0.0),
            "spark.failed_tasks": total.get("failed_tasks", 0.0),
            "catalog.load.calls": len(by.get("catalog.load", [])),
            "catalog.scan_rows": total.get("input_rows", 0.0),
            "catalog.scan_bytes": total.get("input_bytes", 0.0),
            "recommend.train_als.calls": len(by.get("recommend.train_als", [])),
            "recommend.train_als.s": dur("recommend.train_als"),
            "dedup.shingle_index.calls": len(by.get("dedup.shingle_index", [])),
            "similarity.model_cache.calls": len(by.get("similarity.model_cache", [])),
            "sinks.write_s": dur("sinks.write"),
            "sinks.bytes_written": sum(s.get("bytes", 0) for s in by.get("sinks.write", [])),
            "sinks.files_written": sum(s.get("files", 0) for s in by.get("sinks.write", [])),
        }
        for name in all_jobs:
            m[f"job.{name}.s"] = dur(f"job:{name}")
        per_pass.append(m)
    out = {k: med([p[k] for p in per_pass]) for k in per_pass[0]}
    # Cache behaviour over every traced pass, the first one included: the
    # first pass builds each entry, the traced steady passes hit it.
    for stat, ratio, build in (
        ("dedup.shingle_index", "dedup.shingle_index.hit_ratio", "dedup.shingle_index.build_s"),
        ("similarity.model_cache", "similarity.model_cache.hit_ratio", "similarity.model_fit_s"),
    ):
        st = tracer.cache_stats[stat]
        out[ratio] = st["hits"] / st["calls"] if st["calls"] else 0.0
        out[build] = st["build_s"]
    out["session.get_spark_s"] = setup_times["get_spark_s"]
    out["session.registry_load_s"] = setup_times["registry_load_s"]
    out["trace.overhead_s"] = med(traced_s) - med(untraced_s)
    return out


def git_head() -> str:
    """HEAD of the repository the benchmark runs from; "unknown" in a plain
    checkout (git would otherwise report an enclosing repository)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        res = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the self-test only")
    args = ap.parse_args(argv)

    load_start = os.getloadavg()[0]
    busy_start = busy_cores()
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    _isolate_scratch(run_dir)

    # The engine is imported before anything is generated: without it the
    # run must fail, not print a result.
    sys.path.insert(0, ROOT)
    from recommendation_system_big_data_spark import session
    from recommendation_system_big_data_spark.registry import registry

    units = metric_units(args.trace)
    workload = wl.WORKLOADS[args.workload]
    data_dir = os.path.join(run_dir, "data")
    rows = gen.generate(data_dir, args.seed, workload.table_sets, args.scale)
    phase("generate")

    spark, reg, setup_times = setup(session, registry)
    phase("setup")
    try:
        tracer = Tracer(run_id, bool(args.trace), spark)
        runner = Runner(workload, spark, reg, data_dir, os.path.join(run_dir, "out"), tracer, args.seed)
        first_s, steady_untraced, steady_traced, traced_sids = run_passes(runner, args)
        phase("passes")
        check_fails, quality = check_outputs(workload, runner, data_dir)
        phase("checks")
        rss_mb = jvm_peak_rss_mb(spark)
        heap_mb, nonheap_mb = jvm_live_mb(spark)
        live_mb = heap_mb + nonheap_mb
        java_version = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        teardown(spark)
    phase("teardown")
    load_end = os.getloadavg()[0]

    failures = runner.errors + check_fails
    attempted = runner.executions
    failed = min(attempted, len(failures))
    ok_share = 1.0 - failed / attempted

    if args.trace:
        metrics = per_layer_metrics(
            [j.name for w in wl.WORKLOADS.values() for j in w.jobs],
            tracer, traced_sids, steady_untraced, steady_traced, setup_times, cpus(),
        )
    else:
        metrics = {
            "setup_s": setup_times["setup_s"],
            "first_pass_s": first_s,
            "pass_s": statistics.median(steady_untraced),
            "ok_share": ok_share,
            "jvm_live_mb": live_mb,
            # A quality metric that does not apply to this workload is
            # reported at 1.0 (see README.md): every run prints every metric.
            "rmse": quality.get("rmse") if workload.name == "recsys" else 1.0,
            "ann_recall": quality.get("ann_recall") if workload.name == "corpus" else 1.0,
            "dedup_recall": quality.get("dedup_recall") if workload.name == "corpus" else 1.0,
        }

    record = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "input_rows": rows,
        "nproc": cpus(),
        "pyspark": pyspark.__version__,
        "java": java_version,
        "git_head": git_head(),
        "load1_start": load_start,
        "load1_end": load_end,
        "busy_cores_at_start": busy_start,
        "host_busy_at_start": busy_start >= 1.0,
        "setup": setup_times,
        "phases_s": phases,
        "jvm_peak_rss_mb": rss_mb,
        "jvm_live_mb": live_mb,
        "jvm_live_heap_mb": heap_mb,
        "jvm_nonheap_mb": nonheap_mb,
        "quality": quality,
        "first_pass_s": first_s,
        "steady_untraced_s": steady_untraced,
        "steady_traced_s": steady_traced,
        "job_s": runner.job_s,
        "failures": failures,
    }
    if args.trace:
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"), record)
    shutil.rmtree(run_dir, ignore_errors=True)
    if busy_start >= 1.0:
        print(f"warning: {busy_start:.2f} cores were busy when the run started; "
              "its timings are suspect", file=sys.stderr)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)

    print(json.dumps({"record": record}, default=str))
    unmeasured = [k for k, v in metrics.items() if v is None]
    print(json.dumps({
        "correct": not failures and not unmeasured,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": 0.0 if v is None else v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
