"""CDC benchmark: snapshot backup, changelog tail and dedup curation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Makes the workload's inputs from the
seed, sets up and warms up, measures for S seconds, checks the output
against a reference and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
is a JSON ``detail`` object: the workload's own metrics under the names
of perfbench/README.md, the environment (cores, load, versions) and,
with ``--trace 1``, the per-layer split and the tracing overhead.

``--trace 0`` reports the end-to-end metrics and keeps them under
``.perfbench_cache/``.  ``--trace 1`` runs with Spark's event log on and
one job group per layer call, and reports the per-layer metrics; the
tracing overhead is measured against the untraced result of the same
workload, seed and seconds, which it takes from that cache or, when
there is none, from running the same command with ``--trace 0`` as a
child process first.  Exit status: 0 when every output is correct, 1
when a check or an operation failed, 2 when the checkout has no program
to run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = min(os.cpu_count() or 1, 4)
DRIVER_MEMORY = "2g"
UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_s_p50": "s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["snapshot_backup", "changelog_tail",
                            "dedup_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _pin_environment(work: str, trace: bool) -> None:
    """Confine the run to the checkout and to at most CPUS cores; the
    event log is switched on here, from the launch config only."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # both JVMs spark-submit starts: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _cache_path(args) -> str:
    return os.path.join(ROOT, ".perfbench_cache",
                        f"{args.workload}-{args.seed}-{args.seconds:g}.json")


def _untraced(args) -> dict:
    """The result of the same run with tracing off: the last one this
    checkout recorded, else a fresh run in a child process."""
    try:
        with open(_cache_path(args)) as f:
            return json.load(f)
    except FileNotFoundError:
        pass
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=170, check=False)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"untraced run failed ({out.returncode}): "
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _stop_jvm() -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    t_start = time.time()
    args = _args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "storagetapper_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no program to measure under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = {"nproc": os.cpu_count(), "cpus": CPUS,
           "loadavg_start": os.getloadavg(), "python": platform.python_version(),
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    untraced = _untraced(args) if args.trace else None
    if untraced is not None:
        t_start = time.time()  # set-up of this run, not of the child

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work, bool(args.trace))
    from perfbench import trace as tr
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    detail: dict = {}
    rc = 1
    try:
        from storagetapper_spark.session import get_spark

        t0 = time.time()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        env.update(spark=spark.version, session_s=time.time() - t0)
        ctx = Ctx(spark=spark, work=work, seed=args.seed,
                  seconds=args.seconds,
                  tracer=tr.Tracer(spark, bool(args.trace)),
                  tracing=bool(args.trace))
        try:
            WORKLOADS[args.workload](ctx)
        except Exception as e:  # noqa: BLE001 - reported as a failed op
            ctx.attempted += 1
            ctx.failed += 1
            ctx.problems.append(f"{type(e).__name__}: {e}"[:2000])
        ctx.metrics["setup_s"] = ctx.t_first_op - t_start
        detail = dict(ctx.detail, problems=ctx.problems,
                      peak_rss_mb=_peak_rss_mb(spark),
                      sizes=SIZES[args.workload])
        correct = ctx.failed == 0 and ctx.attempted > 0
        result.update(correct=correct, attempted=ctx.attempted,
                      failed=ctx.failed)
        if args.trace:
            spark.stop()
            logs = os.listdir(os.path.join(work, "events"))
            tr.attribute_event_log(
                os.path.join(work, "events", logs[0]), ctx.tracer.spans)
            ops = [s for s in ctx.tracer.spans
                   if s.tag in ctx.detail.get("op_spans", [])]
            result["metrics"] = _per_layer(ctx, ops, untraced, env)
            detail["engine_by_layer"] = tr.engine_by_tag(ctx.tracer.spans)
            detail["untraced"] = untraced["metrics"]
            detail["overhead"] = {
                k: ctx.metrics[k] - v["value"]
                for k, v in untraced["metrics"].items() if k in ctx.metrics}
        else:
            result["metrics"] = {
                k: {"value": v, "unit": UNITS[k]}
                for k, v in ctx.metrics.items()}
        rc = 0 if correct else 1
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    if rc == 0 and not args.trace:
        os.makedirs(os.path.dirname(_cache_path(args)), exist_ok=True)
        with open(_cache_path(args), "w") as f:
            json.dump(result, f)
    print(json.dumps({"detail": dict(detail, env=env)}, default=str))
    print(json.dumps(result))
    return rc


def _per_layer(ctx, ops, untraced, env) -> dict:
    from perfbench.trace import engine_per_op

    # spans of one op (a snapshot rep is a job span plus a restore
    # span; a dedup pass is one span per query) are summed per op
    n_tags = len(ctx.detail["op_spans"])
    per = engine_per_op(ops)
    metrics = {f"spark.{k}_per_op": v * n_tags for k, v in per.items()}
    base = untraced["metrics"]["op_s_p50"]["value"]
    metrics["trace.overhead_share"] = ctx.metrics["op_s_p50"] / base - 1
    metrics["session.get_spark_s"] = env["session_s"]
    units = {k: ("count" if k.endswith(("stages_per_op", "tasks_per_op"))
                 else "B" if "bytes" in k else "s") for k in metrics}
    units["trace.overhead_share"] = "ratio"
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


if __name__ == "__main__":
    raise SystemExit(main())
