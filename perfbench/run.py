#!/usr/bin/env python3
"""Repository benchmark: one workload per call, closed loop, local[nproc].

    python3 perfbench/run.py --workload commit_resume --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One driver process runs one Spark job at a time. A run:

1. builds the workload's inputs from ``--seed`` (cached under
   ``perfbench/.work``; generation time is logged, never reported);
2. sets up once and reports it as ``setup_s``: ``get_spark``, which
   starts the JVM in this fresh process, plus a full-width warm pass;
3. runs the workload's untimed preparation and warm iterations of its
   job, so the timed loop starts with the JVM's compiled code warm;
4. runs the workload's job back to back for ``--seconds`` seconds (at
   least once) and reports the median iteration as ``job_s``: no
   min-of-N, no retries;
5. checks the last iteration's outputs, untimed, against the goldens.

With ``--trace 1`` it times the same loop untraced, then traced (spans
plus Spark stage metrics per span), runs the per-layer probes and writes
the span file; it prints the per-layer metrics instead.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The exit code is nonzero when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "2g"


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env() -> int:
    """Session sizing for this machine, through env and ``get_spark``
    arguments only; every scratch path stays inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # the Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # every JVM, the spark-submit launcher too: temp files in the
    # checkout, no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path[:0] = [ROOT, HERE]
    return cores


def start_session(cores: int):
    from mistral_ocr_app_spark.session import get_spark

    return get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={
            # get_spark's 48g default is larger than this machine
            "spark.driver.memory": DRIVER_MEMORY,
            # a pre-sized heap: no heap-growth pauses inside timed work
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # traced runs read stage metrics from the UI's REST API
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Stop the SparkContext and the driver JVM, and wait for it to exit."""
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
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def set_up(wl, inp, cores: int, tracer):
    """The set-up: get_spark, which starts the driver JVM, plus a
    full-width warm pass. Returns the session and (get_spark seconds,
    warm pass seconds)."""
    with tracer.span("session.start") as start:
        spark = start_session(cores)
    tracer.spark = spark
    with tracer.span("session.warm") as warm:
        wl.warm(spark, inp, tracer)
    log(f"set-up: get_spark {start['duration_s']:.2f} s, warm pass {warm['duration_s']:.2f} s")
    return spark, (start["duration_s"], warm["duration_s"])


def loop(wl, spark, inp, seconds: float, tracer, label: str):
    """Closed loop: the next iteration starts when the previous one
    ended, until ``seconds`` have passed. Returns (seconds of each
    successful iteration, errors, spans of the iterations, peak RSS)."""
    from tracing import PeakRss

    times, errors, spans = [], [], []
    with PeakRss(jvm_pid()) as rss:
        t_start = time.perf_counter()
        it = 0
        while it == 0 or time.perf_counter() - t_start < seconds:
            first_span = len(tracer.spans)
            try:
                with tracer.span(label, iteration=it) as rec:
                    wl.job(spark, inp, tracer)
                times.append(rec["duration_s"])
                log(f"{label} {it}: {rec['duration_s']:.3f} s")
            except Exception as e:  # a failed iteration is counted, not fatal
                traceback.print_exc()
                errors.append(f"{label} {it}: {type(e).__name__}: {e}")
            spans.extend(tracer.spans[first_span:])
            it += 1
    return times, errors, spans, rss.peak_mb


def check(wl, spark, inp, times) -> list[str]:
    """Untimed check of the last timed iteration's outputs."""
    if not times:
        return ["no iteration succeeded"]
    t0 = time.perf_counter()
    try:
        mismatches = wl.check(spark, inp)
    except Exception as e:  # reported as a failed check, not a crash
        traceback.print_exc()
        mismatches = [f"check: {type(e).__name__}: {e}"]
    log(f"correctness check {time.perf_counter() - t0:.1f} s (not reported)")
    return mismatches


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    t_run = time.perf_counter()
    cores = prepare_env()
    from inputs import ensure_inputs
    from tracing import Tracer
    from workloads import WORKLOADS

    spec = load_spec()
    wl = WORKLOADS[name]
    run_id = f"{name}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
    inp = ensure_inputs(name, seed, os.path.join(WORK, "inputs"), cores, ROOT)
    inp["run_dir"] = os.path.join(WORK, "runs", run_id)
    log(
        f"{name}: {inp['rows']} rows, {inp['bytes'] / 2**20:.1f} MiB in "
        f"{inp['splits']} splits on local[{cores}]; input generation "
        f"{inp['gen_s']:.1f} s (not reported)"
    )
    tracer = Tracer(run_id)
    t_times: list[float] = []
    layers: dict[str, float] = {}
    absent: list[str] = []
    try:
        spark, (start_s, warm_s) = set_up(wl, inp, cores, tracer)
        t0 = time.perf_counter()
        wl.prepare(spark, inp, tracer)
        for _ in range(wl.warm_iterations):
            wl.job(spark, inp, tracer)
        log(f"untimed preparation {time.perf_counter() - t0:.1f} s (not reported)")
        times, errors, spans, peak_mb = loop(wl, spark, inp, seconds, tracer, "job")
        mismatches = check(wl, spark, inp, times)
        if trace:
            tracer.enabled = True
            t_times, t_errors, t_spans, _ = loop(wl, spark, inp, seconds, tracer, "traced_job")
            errors += t_errors
            if t_times:
                layers, absent = wl.layers(spark, inp, tracer, t_spans)
            tracer.enabled = False
    finally:
        stop_jvm()
        shutil.rmtree(inp["run_dir"], ignore_errors=True)

    attempted = len(times) + len(t_times) + len(errors)
    correct = not mismatches and not errors
    failed = attempted if mismatches else len(errors)
    for m in mismatches + errors:
        log("FAILED:", m)

    job_s = median(times) if times else float("nan")
    e2e = {
        "setup_s": start_s + warm_s,
        "job_s": job_s,
        "rows_per_s": inp["rows"] / job_s,
        "peak_rss_mb": peak_mb,
    }
    print(f"{name} seed={seed}: {len(times)} timed iterations")
    for k, v in e2e.items():
        unit = next(m["unit"] for m in spec["end_to_end"] if m["name"] == k)
        print(f"  {k:<24} {v:>14.4f} {unit}")
    # printed by name, not in the result object, whose end-to-end metrics
    # every workload reports: only commit_resume has a resume leg
    resumes = [sp["duration_s"] for sp in spans if sp["name"] == "resume"]
    if resumes:
        print(f"  {'resume_s':<24} {median(resumes):>14.4f} s")
    print(f"  {'failed_frac':<24} {failed / attempted:>14.4f} ratio ({failed}/{attempted})")

    if not times or (trace and not t_times):
        metrics = {}  # nothing was measured; the run already failed
    elif not trace:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    else:
        layers["session.start_s"] = start_s
        layers["session.warm_s"] = warm_s
        layers["trace.job_s"] = median(t_times)
        layers["trace.overhead_s"] = layers["trace.job_s"] - job_s
        layers["unattributed.s"] = layers["trace.job_s"] - sum(
            layers.get(k, 0.0) for k in wl.self_times
        )
        span_file = os.path.join(WORK, "spans", f"{run_id}.json")
        tracer.write(span_file, {"layers": layers, "absent": absent, "self_times": wl.self_times})
        print(f"  spans written to {os.path.relpath(span_file, ROOT)}")
        print(f"  traced job_s {layers['trace.job_s']:.4f} s vs untraced {job_s:.4f} s "
              f"(overhead {layers['trace.overhead_s']:+.4f} s)")
        print("  self times: " + " + ".join(
            f"{k} {layers.get(k, 0.0):.3f}" for k in wl.self_times
        ) + f" + unattributed {layers['unattributed.s']:.3f} = {layers['trace.job_s']:.3f} s")
        for a in absent:
            print(f"  layer absent: {a}")
        metrics = {}
        for m in spec["per_layer"]:
            v = layers.get(m["name"], 0.0)
            print(f"  {m['name']:<32} {v:>14.4f} {m['unit']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    log(f"run took {time.perf_counter() - t_run:.1f} s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, one subprocess each; the last line merges their
    results with metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rc = 0
    for w in load_spec()["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        rc = rc or proc.returncode
        if not lines:
            merged["correct"] = False
            continue
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{w['name']}.{k}"] = v
    print(json.dumps(merged), flush=True)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload of BENCHMARK.json, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (
        os.path.isdir(os.path.join(ROOT, "mistral_ocr_app_spark"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        log(f"no repository checkout around {HERE}: the benchmark needs the package")
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
