#!/usr/bin/env python3
"""Benchmark of the tuatara_spark engine: one workload, one seed, one run.

  python3 perfbench/run.py --workload ocr_pages --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates (once per seed) the workload's
inputs under .perfbench/cache, sets the engine up, then runs one client in
a closed loop against the engine's public job / query entry points at
local[nproc] for --seconds, checking every operation's output. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics of a
traced run, whose spans and counts are also written to a JSON artefact.
The run context is printed (and stored) before the result line. Exits 1
when any check fails, 2 when the engine cannot be imported. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# a run whose CPU probes before and after the timed loop differ by more
# than this factor was taken while the machine's speed changed
UNSTEADY_RATIO = 1.25
# engine defects the generated inputs avoid; each result carries them, and
# an entry goes when its defect is fixed
KNOWN_DEFECTS = {
    "warc_crawl": [
        "ops.encoding's UTF-16 validity regex overflows the JVM stack on "
        "UTF-16 bodies of about 2 KB, which stops the SparkContext; "
        "UTF-16 pages are capped at inputs.utf16_body_cap_bytes, so the "
        "heavy-tailed UTF-16 case is not exercised"],
}


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _isolate(trace_dir: str | None) -> None:
    """Keep every file Spark and Python write inside the work directory;
    the event log is on only for a traced run."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    # -XX:-UsePerfData, for the launcher JVM and the driver JVM: no
    # /tmp/hsperfdata_<user> file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={WORK}/warehouse"]
    if trace_dir:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{trace_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    trace_dir = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    if trace_dir:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    _isolate(trace_dir)
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import tuatara_spark  # noqa: F401  (pins BLAS threads first)
        from bench import cpu_calibration_ms
        import gen
        import tracing
        from workloads import WORKLOADS
        from tuatara_spark import weights as wt
        from tuatara_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_imported = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    data_dir, props = gen.ensure_inputs(os.path.join(WORK, "cache"),
                                        args.workload, args.seed)
    wl = WORKLOADS[args.workload](data_dir, props, WORK, args.seed)
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "nproc": nproc, "commit": _commit(),
           "pyspark": pyspark.__version__, "inputs": props,
           "known_defects": KNOWN_DEFECTS.get(args.workload, []),
           "cpu_calib_ms_before": cpu_calibration_ms()}
    tracer = tracing.Tracer()
    failures: list[str] = []
    attempted = failed = 0

    # -- set-up: session, weights + broadcast, the cold warm-up run -------
    t_setup = time.perf_counter()
    with tracer.span("setup") as sp:
        with tracer.span("session.get_spark") as s1:
            spark = get_spark(f"perfbench-{args.workload}", cores=nproc)
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("weights.build_weights") as s2:
            bc = spark.sparkContext.broadcast(wt.build_weights(42))
        with tracer.span("setup.warmup_job") as s3:
            spark.sparkContext.setJobGroup("pb-warmup", "warm-up")
            warm = wl.warmup(spark)
    bc.destroy()
    attempted += 1
    warm.update(sample=True, status={
        "warm-up": tracing.group_status(spark.sparkContext, "pb-warmup")})
    bad = _check(wl, spark, warm)
    if bad:
        failed += 1
        failures += [f"warm-up: {b}" for b in bad]
    wl.cleanup(warm)
    del warm
    _release_free_memory()
    setup = {k: v["end"] - v["start"] for k, v in
             (("setup_s", sp), ("session.get_spark_s", s1),
              ("weights.build_weights_s", s2), ("setup.warmup_job_s", s3))}
    sc = spark.sparkContext

    # -- timed closed loop ------------------------------------------------
    mem = tracing.PeakMemory()
    ops: list[dict] = []
    traced_ops: list[dict] = []
    measured = 0.0
    i = 0
    loop_t0 = time.perf_counter()
    while measured < args.seconds or (args.trace and i < 2):
        # a traced run interleaves untraced and traced operations (ABBA),
        # so the difference of their job_s is the tracing overhead; with
        # only two operations (AB) it also holds their warm-up drift
        traced = bool(args.trace) and i % 4 in (1, 2)
        if traced:
            wl.wrap_layers(tracer)
        group = f"pb-{i}"
        sc.setJobGroup(group, args.workload)
        attempted += 1
        try:
            with mem.active(), tracer.span("op", index=i) as sp:
                res = wl.op(spark, i)
        except Exception as e:  # a failed job fails the run: stop here
            failed += 1
            failures.append(f"op {i}: {type(e).__name__}: {e}"[:500])
            break
        finally:
            tracer.unwrap_all()
        res.update(span=sp, job_s=sp["end"] - sp["start"], traced=traced)
        measured += res["job_s"]
        res.setdefault("groups", [group])
        res.setdefault("status", {args.workload:
                                  tracing.group_status(sc, group)})
        sc.setJobGroup("pb-check", "checks")
        bad = _check(wl, spark, res)
        if bad:
            failed += 1
            failures += [f"op {i}: {b}" for b in bad]
        res["files"], res["bytes"] = wl.stored(res)
        wl.cleanup(res)
        (traced_ops if traced else ops).append(res)
        i += 1
    mem.close()
    loop_wall = time.perf_counter() - loop_t0
    sc.setJobGroup("pb-verify", "verified pass")
    try:
        bad = wl.verify(spark)
    except Exception as e:
        bad = [f"verify raised {type(e).__name__}: {e}"[:500]]
    if bad:
        # every pass reproduced the verified digests, so a query that
        # differs from its oracle was wrong in every operation
        failed = attempted
        failures += [f"verify: {b}" for b in bad]
    ctx["hwm_mb_by_process"] = tracing.tree_hwm_mb(os.getpid())

    med = tracing.median
    all_ops = ops + traced_ops
    ctx["cpu_calib_ms_after"] = cpu_calibration_ms()
    calib = (ctx["cpu_calib_ms_before"], ctx["cpu_calib_ms_after"])
    ctx["machine_unsteady"] = max(calib) > UNSTEADY_RATIO * min(calib)
    if ctx["machine_unsteady"]:
        print(f"perfbench: CPU probe moved from {calib[0]} to {calib[1]} ms "
              "during the run; its times are suspect", file=sys.stderr)
    job_times = [r["job_s"] for r in ops]
    ctx.update(ops=len(all_ops), job_s_samples=job_times, setup=setup,
               jvm_peak_rss_mb=mem.peak["jvm"],
               failures=failures[:20])
    metrics: dict[str, float] = {}
    if all_ops:
        base = ops or traced_ops
        job_s = med(r["job_s"] for r in base)
        metrics = {
            "job_s": job_s,
            "pages_per_s": med(r["pages"] for r in base) / job_s,
            "setup_s": setup["setup_s"],
            "python_peak_rss_mb": mem.peak["python"],
            "stored_bytes_per_page": med(r["bytes"] / max(1, r["pages"])
                                         for r in all_ops),
        }
        ctx["job_s_max"] = max(r["job_s"] for r in base)
    out_metrics = {k: {"value": metrics.get(k, 0.0), "unit": u}
                   for k, u in metric_units("end_to_end").items()}

    if args.trace and traced_ops:
        sc.setJobGroup("pb-probe", "per-layer probes")
        layer = {k: setup[k] for k in ("session.get_spark_s",
                                       "weights.build_weights_s",
                                       "setup.warmup_job_s")}
        layer["spark.jvm_peak_rss_mb"] = mem.peak["jvm"]
        layer.update(wl.layer_metrics(spark, tracer, traced_ops))
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            layer[f"spark.{k}"] = med(
                sum(s[k] for s in r["status"].values()) for r in traced_ops)
        ctx["trace_overhead_s"] = (med(r["job_s"] for r in traced_ops)
                                   - (med(job_times) if ops else 0.0))
        if "job.write_s" in layer:
            ctx["attribution"] = attribute(layer, med(job_times),
                                           wl.units(), nproc)
    t_stop = time.perf_counter()
    _stop(spark, tracing)
    ctx["phase_wall_s"] = {"imports": t_imported - t_start,
                           "inputs": t_setup - t_imported,
                           "setup": setup["setup_s"],
                           "loop": loop_wall,
                           "after_loop": t_stop - loop_t0 - loop_wall,
                           "stop": time.perf_counter() - t_stop}
    if args.trace and traced_ops:
        groups = {g for r in all_ops for g in r["groups"]}
        ev = tracing.event_log_task_metrics(trace_dir, groups)
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "executor_run_s", "gc_s"):
            layer[f"spark.{k}"] = ev[k] / len(all_ops)
        layer["spark.task_s_max"] = ev["task_s_max"]
        layer["spark.task_s_median"] = ev["task_s_median"]
        if "attribution" in ctx:
            # share of the job's core-seconds that tasks were running;
            # the rest is scheduling, driver-side work and idle cores
            ctx["attribution"]["executor_busy_share"] = (
                layer["spark.executor_run_s"]
                / (nproc * ctx["attribution"]["job_s_untraced"]))
        names = metric_units("per_layer")
        out_metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in names.items()}
        missing = sorted(set(names) - set(layer))
        ctx["per_layer_not_applicable"] = missing
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "runs", f"{run_id}.trace.json"),
                    {"context": ctx, "per_layer": layer})

    correct = failed == 0 and attempted > 0
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": out_metrics}
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump({"context": ctx, "result": result}, f, indent=1)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0 if correct else 1


def _check(wl, spark, res: dict) -> list[str]:
    """The workload's output checks plus failed Spark tasks; a check that
    raises is a failed check."""
    try:
        bad = wl.check(spark, res)
    except Exception as e:
        bad = [f"check raised {type(e).__name__}: {e}"[:500]]
    n = sum(s["failed_tasks"] for s in res["status"].values())
    return bad + ([f"{n} Spark tasks failed"] if n else [])


def attribute(layer: dict, job_s: float, pages: int, nproc: int) -> dict:
    """Split an untraced job_s over the traced per-layer times. The job's
    write actions run scan, shuffle, UDF and parquet output; the UDF wall
    share is estimated from the in-process replay spread over nproc
    cores, the shuffle from the partitioning probe. ``gap_s`` is what the
    layers leave unexplained (tracing overhead and run-to-run noise)."""
    catalog = sum(v for k, v in layer.items()
                  if k.startswith("catalog.") and k.endswith("_s"))
    udf = layer.get("engine.udf_s_per_page", 0.0) * pages / nproc
    shuffle = layer.get("partitioning.shuffle_s", 0.0)
    write = layer["job.write_s"]
    parts = {"udf_wall_est_s": udf, "shuffle_s": shuffle,
             "write_other_s": write - udf - shuffle,
             "counters_s": layer["job.counters_s"], "catalog_s": catalog,
             "job_self_s": layer["job.self_s"]}
    return {"job_s_untraced": job_s, "parts": parts,
            "gap_s": job_s - sum(parts.values()),
            "outside_udf_share": 1 - udf / job_s if job_s else 0.0}


def _release_free_memory() -> None:
    """Return memory the warm-up freed to the OS before the timed loop.
    Without it the driver keeps whatever its malloc arenas grew to during
    the warm-up, which depends on how the verified pass's client threads
    interleaved, and that, not the timed operations, sets the Python
    side's peak."""
    import pyarrow as pa
    gc.collect()
    pa.default_memory_pool().release_unused()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass


def _stop(spark, tracing) -> None:
    """Stop Spark, close the JVM and wait until every process this run
    started (JVM, worker daemon, Python workers) has exited."""
    from pyspark import SparkContext
    started = set(tracing.tree_pids(os.getpid())) - {os.getpid()}
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(_running, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
