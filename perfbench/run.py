"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[N]`` (N = usable cores) and
prints, as its last stdout line, one JSON object ``{correct, attempted,
failed, metrics}``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` reports its per-layer metrics, from a run
with spans, Spark's event log and the Python UDF profiler switched on.
The line before it is a human-readable report: host tags, the samples
behind each median, ``fail_frac`` and the first failure notes.

Everything the run writes goes under ``perfbench/.work`` in the checkout, and
every process it starts (the JVM and its Python workers) has ended when it
exits.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUPS = 6  # set-ups per untraced run: the first launches the JVM, setup_s
# is the median of the other five, made after the timed section; a traced
# run, which has no setup_s, sets up once
HEAP = "2g"  # JVM heap: leaves room for Python workers on a 4-core, 15 GB host


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment() -> None:
    """Keep every file the JVM, Spark and Python write inside the checkout."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(HERE)]


def _start_session(name: str, cores: int, conf: dict):
    from fakepilot_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{name}", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            **conf,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args) -> dict:
    from measure import (
        EVENT_LOG_CONF,
        PeakMemory,
        jvm_live_mb,
        Tracer,
        cpu_steal,
        event_log_metrics,
        host_tags,
        median,
        read_event_log,
    )
    from workloads import WORKLOADS, profiler_layers

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](WORK, args.seed)
    tracer = Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}-{os.getpid()}")
    event_dir = WORK / "eventlog" / tracer.trace_id
    conf = {}
    if args.trace:
        event_dir.mkdir(parents=True)
        conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": str(event_dir)}

    phases = {"start": time.perf_counter()}
    steal0 = cpu_steal()
    spark = inputs = build_s = None
    session_start = 0.0

    def setup(i: int) -> float:
        """One set-up: session start + input open + light warm-up. The
        first also launches the JVM, reported as session.start_s, and warms
        its JIT up with the workload's own plans (a short crawl, passes over
        the queries); the corpus build (first run in a checkout) is left out
        and reported as corpus.build_s."""
        nonlocal spark, inputs, session_start, build_s
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        with tracer.span("session", "get_spark", setup=i):
            spark = _start_session(args.workload, cores, conf)
        if i == 0:
            session_start = time.perf_counter() - t
            tb = time.perf_counter()
            build_s = wl.build(spark, tracer)
            t += time.perf_counter() - tb
        inputs = wl.open(spark, tracer)
        with tracer.span("bench", "warm-up", setup=i):
            wl.warm(spark, inputs, tracer, deep=i == 0)
        return time.perf_counter() - t

    setups = [setup(0)]
    phases["setup"] = time.perf_counter()

    layers: dict = {}
    if args.trace:
        # two units (shorter ones on operator_suite): one with spans and the
        # profiler on, and an untraced one to set it against. The untraced
        # unit runs second, on a JVM warmer still, so the overhead reads high
        # rather than low.
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        t_ms = time.time() * 1000
        out = wl.measure(spark, inputs, 0.0, tracer, tag="traced", **wl.traced_unit)
        t_end_ms = time.time() * 1000
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        plain = wl.measure(spark, inputs, 0.0, Tracer(False, ""), tag="plain", **wl.traced_unit)
        phases["measure"] = time.perf_counter()
        prof_dir = WORK / "profile" / tracer.trace_id
        spark.profile.dump(str(prof_dir), type="perf")
        out.info["untraced_cpu_ms_per_page"] = median(plain.cpu_ms_per_item or [0.0])
        layers.update(profiler_layers(prof_dir))
        if out.item_rates and plain.item_rates:  # both units ran to the end
            layers.update(wl.layers(spark, inputs, out, tracer))
        out.add_check(wl.check(spark, out))
        out.add_check(wl.check(spark, plain))
        plain_rate = median(plain.item_rates or [0.0])
        traced_rate = median(out.item_rates or [0.0])
        layers["trace.overhead_frac"] = 1.0 - traced_rate / plain_rate if plain_rate else 0.0
        phases["check"] = time.perf_counter()
    else:
        with PeakMemory() as mem:
            out = wl.measure(spark, inputs, args.seconds, tracer)
        phases["measure"] = time.perf_counter()
        mem_split = {"python_pss_peak": mem.peak_mb, "jvm_live": jvm_live_mb(spark._jvm)}
        mem_mb = sum(mem_split.values())
        out.add_check(wl.check(spark, out))
        phases["check"] = time.perf_counter()
        # the other set-ups come after the timed section: a new session in
        # the same JVM runs its first plans slower again, and would leave
        # the timed work half warm
        setups += [setup(i) for i in range(1, SETUPS)]
        phases["setups"] = time.perf_counter()
    _shutdown(spark)
    phases["stop"] = time.perf_counter()

    steal1 = cpu_steal()
    tags = host_tags(ROOT, cores, HEAP)
    tags["cpu_steal_frac"] = round((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
    if args.trace:
        ev = event_log_metrics(read_event_log(event_dir), t_ms, t_end_ms)
        units = max(out.info.get("units", 1), 1)
        layers.update({f"spark.{k}": v for k, v in ev.items() if k != "jobs"})
        layers["spark.jobs_per_epoch"] = ev["jobs"] / units
        layers["session.start_s"] = session_start
        layers["corpus.build_s"] = build_s
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        trace_file = WORK / "trace" / f"{tracer.trace_id}.json"
        tracer.dump(trace_file, {
            "tags": tags, "workload": args.workload, "seed": args.seed,
            "layers": layers, "info": _jsonable(out.info),
            "traced_items_per_s": traced_rate, "untraced_items_per_s": plain_rate,
        })
    else:
        values = {
            "setup_s": median(setups[1:]),
            # 0 only when every iteration raised, and then correct is false
            "items_per_s": median(out.item_rates) if out.item_rates else 0.0,
            "cpu_ms_per_item": median(out.cpu_ms_per_item) if out.cpu_ms_per_item else 0.0,
            "unit_s": out.unit_s,
            "mem_mb": mem_mb,
        }
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        trace_file = None
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **tags,
        "session_start_s": round(session_start, 3),
        "setup_s_each": [round(x, 3) for x in setups],
        "phase_s": {k: round(v - phases["start"], 2) for k, v in phases.items() if k != "start"},
        "iterations": len(out.item_rates),
        "item_rates": [round(x, 3) for x in out.item_rates],
        "items": out.items,
        "mem_mb_split": {k: round(v, 1) for k, v in mem_split.items()} if not args.trace else None,
        "fail_frac": out.failed / max(out.attempted, 1),
        "notes": out.notes[:10],
        "trace_file": str(trace_file.relative_to(ROOT)) if trace_file else None,
        **{k: _jsonable(out.info[k]) for k in ("sketch_split", "ledger", "query_medians")
           if k in out.info},
    }
    return {
        "report": report,
        "result": {
            "correct": out.failed == 0 and out.attempted > 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": metrics,
        },
    }


def _shutdown(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it and
    for the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from measure import descendants

    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def _jsonable(obj):
    return json.loads(json.dumps(obj, default=str))


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "fakepilot_spark" / "__init__.py").is_file():
        print(f"perfbench: no fakepilot_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    res = run(args)
    print(json.dumps({"report": res["report"]}))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
