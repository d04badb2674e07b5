"""Benchmark entry point.

    python3 perfbench/run.py --workload write_path --seed 1 --seconds 10 --trace 0

Generates the inputs from ``--seed``, starts one ``local[nproc]``
session, runs whole passes of the workload for at least ``--seconds``
seconds (and at least the workload's ``min_passes``), checks every
operation's result, and prints two JSON lines on
stdout: a ``{"report": ...}`` line with every named metric, quartiles,
errors and the environment, then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics
(see README.md). Exits non-zero without a result line when the engine
package is missing or the environment is not pinned.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "efiche_data_pipeline_spark"
SETUP_REPEATS = 3
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale factor (default: the workload size)")
    p.add_argument("--plant-wrong", action="store_true",
                   help="self-test: corrupt one expected result so a check must fail")
    return p.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def pin_environment(tmp: str) -> int:
    """One core count for the session and its shuffle width; the engine
    package and its workers import from this checkout; every temp file
    stays under the run's temp root."""
    if os.environ.get("SPARK_GRAFT_AB_CONF"):
        fail("SPARK_GRAFT_AB_CONF is set; it injects configs into every session — unset it")
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    return cpus


def temp_root() -> str:
    """A fresh per-run directory under ``.perfbench/`` in the checkout;
    directories left by runs whose process is gone are removed."""
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    path = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def source_identity() -> dict:
    """The commit (when the checkout is a git work tree) and a digest of
    the engine's source files, which identifies the code either way."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    v = sorted(values)
    if len(v) < 11:
        return v[-1], 100.0
    i = len(v) - 11
    return v[i], 100.0 * (i + 1) / len(v)


def quartiles(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) == 1:
        return {"n": 1, "p25": v[0], "p50": v[0], "p75": v[0]}
    q = statistics.quantiles(v, n=4, method="inclusive")
    return {"n": len(v), "p25": q[0], "p50": q[1], "p75": q[2]}


def start_session(tmp: str, trace: bool, spark=None):
    from efiche_data_pipeline_spark.session import get_spark

    if spark is not None:
        spark.stop()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(tmp, trace))
    spark.range(1).count()
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"engine package {PACKAGE}/ not found next to perfbench/")
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; expected one of {sorted(workloads.WORKLOADS)}")
    tmp = temp_root()
    try:
        cpus = pin_environment(tmp)
        sys.path.insert(0, ROOT)
        return run(args, tmp, cpus)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def stop_jvm() -> None:
    """Stop the session, then the gateway JVM it launched, and wait for
    the JVM to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, tmp: str, cpus: int) -> int:
    import gen
    import layers
    import workloads

    workload = workloads.WORKLOADS[args.workload]()
    sf = args.sf if args.sf is not None else workloads.INPUT_SF
    inputs = os.path.join(tmp, "inputs")
    env = {"cpus": cpus, "loadavg_start": list(os.getloadavg()), **source_identity()}

    # set-up: session start + input generation, several times; the
    # workload's own preparation (and warm-up) once
    spark, setups = None, []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = start_session(tmp, bool(args.trace), spark)
        shutil.rmtree(inputs, ignore_errors=True)
        gen.generate(inputs, sf, args.seed)
        setups.append(time.perf_counter() - t0)
    tracer = layers.Tracer() if args.trace else None
    if tracer:
        layers.instrument(tracer)
    progress = None
    if args.workload == "write_path":
        progress = layers.StreamProgress()
        spark.streams.addListener(progress)
    ctx = workloads.Context(spark, tmp, inputs, args.seed, tracer, args.plant_wrong)
    t0 = time.perf_counter()
    workload.prepare(ctx)
    prepare_s = time.perf_counter() - t0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    proc = layers.ProcSampler(jvm_pid)
    if tracer:
        tracer.spans.clear()
    gc0, proc0, host0 = gc_seconds(spark), proc.sample(), layers.host_cpu()
    window0 = time.time()
    passes, pass_cpu, ops, batches = [], [], [], []
    cpu_before = proc0
    while True:
        pass_ops = workload.run_pass(ctx, len(passes))
        cpu_after = proc.sample()
        passes.append(sum(op.seconds for op in pass_ops))
        pass_cpu.append(sum(cpu_after[k] - cpu_before[k] for k in cpu_after))
        cpu_before = cpu_after
        ops += pass_ops
        if progress:
            n_stream = sum(1 for op in pass_ops if op.name == "intake_stream")
            batches += progress.take(workloads.STREAM_FILES * n_stream)
        if time.time() - window0 >= args.seconds and len(passes) >= workload.min_passes:
            break
        if hasattr(workload, "after_pass"):
            workload.after_pass(ctx)
            cpu_before = proc.sample()
    window1 = time.time()
    gc_s, proc1 = gc_seconds(spark) - gc0, cpu_before
    host = {k: v - host0[k] for k, v in layers.host_cpu().items()}
    files, nbytes = layers.files_written_since(ctx.stores, window0)
    peak_rss = proc.peak_rss_mb()
    env.update(loadavg_end=list(os.getloadavg()), gc_s=gc_s, passes=len(passes),
               checks_s=sum(op.check_s for op in ops), measure_s=window1 - window0,
               host_cpu_s=host)
    t_stop = time.time()
    spark.stop()
    env["stop_s"] = time.time() - t_stop
    env["wall_s"] = time.time() - T_START

    # the unit operation: one query, or one stream micro-batch
    if args.workload == "analytics_read":
        unit_ops = [op.seconds for op in ops]
    else:
        unit_ops = [b["trigger_s"] for b in batches] or [sum(passes)]
    failed = [op for op in ops if not op.ok]
    setup_s = statistics.median(setups) + prepare_s
    cpu = {k: proc1[k] - proc0[k] for k in proc1}
    e2e = {"setup_s": setup_s, "pass_s": statistics.median(passes),
           "pass_cpu_s": statistics.median(pass_cpu)}

    named = {**e2e, "op_fail_ratio": len(failed) / len(ops)}
    op_p50 = statistics.median(unit_ops)
    tail_v, tail_p = tail(unit_ops)
    if args.workload == "analytics_read":
        named.update(query_p50_s=op_p50, query_tail_s=tail_v, query_tail_percentile=tail_p)
    else:
        named.update(
            pipeline_run_s=statistics.median(op.seconds for op in ops if op.name == "run_all"),
            microbatch_p50_s=op_p50, microbatch_tail_s=tail_v, microbatch_tail_percentile=tail_p)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "metrics": named,
        "quartiles": {"pass_s": quartiles(passes), "pass_cpu_s": quartiles(pass_cpu),
                      "op_s": quartiles(unit_ops),
                      "setup_session_and_inputs_s": quartiles(setups)},
        "setup_prepare_s": prepare_s,
        "passes": {"wall_s": passes, "cpu_s": pass_cpu},
        "microbatches": batches or None,
        "op_median_s": {name: round(statistics.median(op.seconds for op in ops if op.name == name), 4)
                        for name in dict.fromkeys(op.name for op in ops)},
        "errors": [{"op": op.name, "error": op.error} for op in failed],
        "env": env,
    }

    if args.trace:
        tracer.unwrap_all()
        layer = layers.parse_event_log(os.path.join(tmp, "eventlog"), tracer, (window0, window1))
        top = [s for s in tracer.spans if s.parent is None]
        layer.update({
            "spark.gc_s": gc_s,
            "store.files_written": files,
            "store.bytes_written_mb": nbytes / layers.MB,
            "streaming.batches": len(batches),
            "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches),
            "streaming.overhead_s": sum(b["trigger_s"] - b["add_batch_s"] for b in batches),
            "proc.jvm_cpu_s": cpu["jvm_cpu_s"],
            "proc.jvm_peak_rss_mb": peak_rss,
            "proc.python_worker_cpu_s": cpu["python_worker_cpu_s"],
            "proc.driver_py_cpu_s": cpu["driver_py_cpu_s"],
            "trace.pass_s": e2e["pass_s"],
            "trace.span_cover": sum(s.end - s.start for s in top) / max(sum(passes), 1e-9),
        })
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layer.items()}
        report["top_spans"] = sorted({s.name for s in top})
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("span_cover"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
