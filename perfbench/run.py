"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Inputs are generated from
``--seed`` (cached, digest-verified) under ``.perfbench_work/``, which also
holds the Spark scratch space and one JSON record per run. Prints a ``#
meta`` line (effective Spark conf, host noise, sample counts, failures), then,
as the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero if any output was wrong.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s"}
# reference jobs run between set-up and the timed loop, after one unrecorded
# warm-up job (new SQL session, first use of its UDF: 2-3x slower); the last
# is the "before" of the first operation
SETTLED_REFERENCE_JOBS = 2
LAYER_UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_util": "ratio", "_amp": "ratio"}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("_per_event", "_per_hit")) else "count"


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every other child, and wait for them."""
    from pyspark import SparkContext

    from perfbench.harness import children

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in children().get(os.getpid(), []):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import harness

    harness.pin_environment(ROOT, WORK)
    from perfbench.workloads import PER_LAYER, WORKLOADS

    trace = bool(args.trace)
    wl = WORKLOADS[args.workload](WORK, args.seed)
    noise0 = harness.host_noise_probe()
    t_prep = time.time()
    wl.prepare()
    prepare_s = time.time() - t_prep

    spark = None
    try:
        t0 = time.time()
        spark = harness.start_session(WORK, ui=trace, java_opts=wl.JAVA_OPTS)
        session_s = time.time() - t0
        # Python workers only: the pinned driver heap is resident by construction
        workers = harness.RssSampler(harness.jvm_pid()) if trace else contextlib.nullcontext()
        with workers:
            tracer = harness.Tracer(spark, enabled=trace)
            wl.attach(spark, tracer)
            wl.setup()
            setup_s = time.time() - t0
            harness.reference_job(spark)
            for _ in range(SETTLED_REFERENCE_JOBS):
                wl.reference()
            res = wl.measure(args.seconds)
            t_check = time.time()
            wl.check()
            check_s = time.time() - t_check
        lat = res["latencies"]
        op_p50_s = wl.op_p50(lambda sp: sp["end"] - sp["start"])
        # end-to-end timings at the reference host speed (see harness.REFERENCE_JOB_S)
        k = wl.REFERENCE_EXPONENT
        at_ref = {
            "setup_s": harness.at_reference_speed(setup_s, harness.median(wl.refs), k),
            "op_p50_s": wl.op_p50(lambda sp: harness.at_reference_speed(sp["end"] - sp["start"], sp["ref_s"], k)),
        }
        if trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(wl.layers())
            layers["trace.op_p50_s"] = at_ref["op_p50_s"]
            layers["mem.worker_peak_rss_mb"] = workers.peak_mb
            metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in at_ref.items()}
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace,
            "prepare_s": prepare_s, "session_start_s": session_s, "check_s": check_s,
            "op": harness.summary(lat), "failures": wl.failures[:10], "notes": wl.notes,
            "spark_conf": harness.effective_conf(spark),
            "host_noise": harness.host_noise(noise0, harness.host_noise_probe()),
            "reference_job_s": harness.summary(wl.refs),
            "unscaled": {"setup_s": setup_s, "op_p50_s": op_p50_s},
        }
        out_dir = os.path.join(WORK, "results")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump({"meta": meta, "latencies": lat, "op_reference_s": [sp["ref_s"] for sp in wl.ops],
                       "metrics": metrics}, f)
        if trace:
            tracer.dump(stem + ".spans.json")
    finally:
        if spark is not None:
            stop_session(spark)
    print("# meta " + json.dumps(meta, default=str), flush=True)
    result = {"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if wl.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
