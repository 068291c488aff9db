"""Run one benchmark workload against the ckg_spark package beside it.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything the run writes goes under
``.perfbench_work/`` there (removed at exit); a traced run also keeps its
spans in ``.perfbench_out/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). Lines before it repeat every metric for a
reader, with the operation counts. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _environment(work: str) -> None:
    """Keep Spark's scratch files and temp files inside the run's work
    directory and the JVM heap small; get_spark and spark-submit read these
    variables. ``-XX:-UsePerfData`` stops both JVMs (the spark-submit
    launcher and the driver) writing hsperfdata files to the system temp
    directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "ckg_spark")):
        print(f"no ckg_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def _run(args, spec: dict, work: str) -> int:
    _environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from ckg_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer,
                                      traced=bool(args.trace))
        wl.setup()
        setup_s = time.perf_counter() - T_START
        wl.reference()
        return _measure(args, spec, wl, tracer, jvm, cores, setup_s)
    finally:
        _stop(spark)


def _measure(args, spec, wl, tracer, jvm, cores, setup_s) -> int:
    """Closed loop: one operation at a time until ``--seconds`` have passed
    or the workload has no operations left. A traced run measures the first
    half of its window untraced, for the tracing overhead, and always
    traces at least one operation."""
    plain, traced = [], []       # op latencies, untraced / traced
    plain_cpu = 0.0              # JVM CPU-seconds inside untraced ops
    items = attempted = failed = 0
    t0, steal0 = time.perf_counter(), _steal_s()
    i = 0
    while wl.remaining() != 0:
        elapsed = time.perf_counter() - t0
        if plain and elapsed >= args.seconds and (traced or not args.trace):
            break
        if args.trace and plain and not tracer.enabled and (
                elapsed >= args.seconds / 2 or wl.remaining() == 1):
            tracer.enabled = True
            wl.trace_patches(tracer)
        attempted += 1
        cpu, start = _cpu_s(jvm), time.perf_counter()
        try:
            with tracer.span("op"):
                check = wl.op(i)
            dt = time.perf_counter() - start
            if not tracer.enabled:
                plain_cpu += _cpu_s(jvm) - cpu
            items += check()
        except Exception:
            dt = time.perf_counter() - start
            failed += 1
            traceback.print_exc()
        (traced if tracer.enabled else plain).append(dt)
        i += 1

    attempted += 1
    start = time.perf_counter()
    try:
        with tracer.span("close"):
            check = wl.close()
        close_s = time.perf_counter() - start
        check()
    except Exception:
        close_s = time.perf_counter() - start
        failed += 1
        traceback.print_exc()
    tracer.unpatch()

    e2e = {
        "setup_s": setup_s,
        "op_s.p50": statistics.median(plain),
        "close_s": close_s,
        "items_per_s": items / sum(plain + traced),
    }
    rss = {"driver.rss_peak_mb": _status_kb("self", "VmHWM") / 1024,
           "jvm.rss_peak_mb": _status_kb(jvm, "VmHWM") / 1024}
    print(f"workload {wl.name}: {len(plain)} untraced + {len(traced)} traced "
          f"ops ({wl.item}: {items}), attempted {attempted}, failed {failed}, "
          f"ops_failed_frac {failed / attempted}")
    print("op latencies (s): untraced " + " ".join(f"{x:.3f}" for x in plain)
          + " | traced " + " ".join(f"{x:.3f}" for x in traced))
    print(f"peak RSS (MB): driver {rss['driver.rss_peak_mb']:.1f}, "
          f"JVM {rss['jvm.rss_peak_mb']:.1f}; CPU steal while measuring "
          f"{_steal_s() - steal0:.1f} s")
    metrics = dict(e2e)
    if args.trace:
        metrics = {
            **rss,
            "op.jobs": tracer.tree_totals("op", "jobs") / len(traced),
            "op.tasks": tracer.tree_totals("op", "tasks") / len(traced),
            "jvm.cpu_s": plain_cpu / len(plain),
            "jvm.cpu_util": plain_cpu / sum(plain) / cores,
            "trace.overhead_s": (statistics.median(traced)
                                 - statistics.median(plain)),
            **wl.layer_metrics(tracer, len(traced), statistics.median(plain)),
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.jsonl")
        tracer.write(spans)
        print(f"spans written to {spans}")
        for k, v in e2e.items():
            print(f"  (end-to-end, traced run) {k} = {v}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {}
    for m in wanted:
        value = float(metrics.get(m["name"], 0.0))
        result[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"  {m['name']} = {value} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
