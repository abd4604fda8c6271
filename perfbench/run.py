"""Warehouse benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload dashboard_queries --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed`` under ``.perfbench_work/``, starts a host-fitted Spark
session, runs the workload against the library's public API, checks the
outputs, and prints every metric by name with its unit. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer ones with ``--trace 1``). A traced run
also writes its spans to ``.perfbench_results/`` and prints the tracing
overhead against the last untraced run of the same workload and seed.
Exits non-zero when a check fails or the library is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import host  # noqa: E402  (perfbench/ is on sys.path as the script's directory)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def mean_op_cpu_s(res: dict) -> float | None:
    """Mean CPU seconds per timed operation, JIT compiler threads left
    out, as measured on this host."""
    cpu = res["op_cpu_s"]
    return sum(cpu) / len(cpu) if cpu else None


def e2e_metrics(res: dict, h, peak_mb: float) -> dict:
    """The workload-independent end-to-end metrics of BENCHMARK.json.
    ``op_cpu_s`` is :func:`mean_op_cpu_s` at the reference host's speed."""
    raw = mean_op_cpu_s(res)
    speed = h.sampler.factor() if h.sampler else 1.0
    return {
        "setup_s": (h.setup_s, "s"),
        "op_cpu_s": (raw * speed if raw is not None else None, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clickhouse_etl_spark", "__init__.py")):
        fail(f"no clickhouse_etl_spark package under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        fail(f"no tools/oracle_check.py under {ROOT}")
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), results):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    steal0 = host.cpu_steal_s()
    facts = host.host_facts()
    master, conf = host.session_conf(facts, work)
    import pyspark

    from clickhouse_etl_spark import get_spark

    if not os.path.abspath(sys.modules["clickhouse_etl_spark"].__file__).startswith(ROOT):
        fail("clickhouse_etl_spark was not imported from this checkout")
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    h = None
    try:
        traced = bool(args.trace)
        tracer = None
        if traced:
            import tracing

            tracer = tracing.Tracer()
            tracing.install(tracer)
        h = workloads.Harness(spark, tracer, facts["nproc"], T_START)
        res = workloads.WORKLOADS[args.workload](h, args.seed, args.seconds, work, ROOT)
        record = {
            **facts, "master": master, "driver_heap": conf["spark.driver.memory"],
            "shuffle_partitions": conf["spark.sql.shuffle.partitions"],
            "spark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
        }
        peak = host.peak_rss_mb()
        record["cpu_steal_s"] = round(host.cpu_steal_s() - steal0, 2)
    finally:
        if h is not None:
            h.stop_timing()
        host.stop_spark(spark)

    failures = [f"{k}: {m}" for k, ms in res["checks"].items() for m in ms]
    error_rate = h.failed / max(h.attempted, 1)
    e2e = e2e_metrics(res, h, peak)
    named = {
        **e2e, **res["e2e"],
        "op_cpu_raw_s": (mean_op_cpu_s(res), "s"),
        "cold_cpu_s": (res["cold_cpu_s"], "s"),
        "error_rate": (error_rate, "ratio"),
    }
    say = lambda *a: print(*a, flush=True)  # noqa: E731
    say(f"workload {args.workload} seed {args.seed} trace {args.trace} seconds {args.seconds}")
    say("host " + json.dumps(record, sort_keys=True))
    samples = h.sampler.samples if h.sampler else []
    notes = {**res["notes"], "speed_samples": len(samples),
             "speed_factor": round(h.sampler.factor(), 4) if h.sampler else None}
    say("notes " + json.dumps(notes, sort_keys=True))
    say("op_s " + json.dumps([round(x, 3) for x in res["op_s"]]))
    say("op_cpu_s " + json.dumps([round(x, 3) for x in res["op_cpu_s"]]))
    for name, (value, unit) in named.items():
        shown = "n/a (too few samples)" if value is None else f"{value:.6g}"
        say(f"metric {args.workload}.{name} = {shown} {unit}")
    for k, ms in res["checks"].items():
        say(f"check {k}: {'ok' if not ms else 'FAILED'}")
        for m in ms:
            say(f"  {m}")

    out_metrics = {}
    if traced:
        layer = h.per_layer(res["layer"])
        spec = json.load(open(BENCHMARK)) if os.path.exists(BENCHMARK) else {}
        for m in spec.get("per_layer", []):
            out_metrics[m["name"]] = {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
        for name, value in sorted(layer.items()):
            say(f"layer {args.workload}.{name} = {value:.6g}")
        with open(os.path.join(results, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(h.tracer.dump(), fh)
        base = os.path.join(results, f"{args.workload}-{args.seed}-trace0.json")
        if os.path.exists(base):
            untraced = json.load(open(base))
            for name, (value, unit) in named.items():
                if value is not None and untraced.get(name) is not None:
                    say(f"trace_overhead {args.workload}.{name} = "
                        f"{value - untraced[name]:+.6g} {unit}")
        else:
            say("trace_overhead: no untraced run of this workload and seed to compare")
    else:
        for name, (value, unit) in e2e.items():
            out_metrics[name] = {"value": value, "unit": unit}
        with open(os.path.join(results, f"{args.workload}-{args.seed}-trace0.json"), "w") as fh:
            json.dump({k: v for k, (v, _) in named.items()}, fh)
    shutil.rmtree(work, ignore_errors=True)

    correct = not failures and all(m["value"] is not None for m in out_metrics.values())
    print(json.dumps({
        "correct": correct, "attempted": h.attempted, "failed": h.failed,
        "metrics": out_metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
