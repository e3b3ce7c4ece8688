"""Replay bytes-per-event A/B: compression codecs on the CDC replay hot path.

VERDICT r04 #1: under this host's degraded-window memory-touch bandwidth cap,
replay throughput is bytes-touched-bound (~6.2k eps x ~12 KB/event == the
measured ~0.2 GB/s cap) — so cutting bytes per event raises events/s even
inside a degraded window, and pays identically on any real cluster whose cap
is network or disk bytes.

Dimensions measured (each run = a FRESH subprocess JVM, interleaved A/B/A/B
so host drift hits both arms):
  - engine parquet codec (staging + destination tables): snappy vs zstd
  - shuffle/spill io codec: lz4 vs zstd (JVM-start-only conf)
  - binlog (events input) codec: the same logical events stored snappy vs
    zstd — read-side bytes, every epoch

Usage:
  PYTHONPATH=/root/repo python scripts/codec_ab.py [--events N] [--repeats K]

Writes BENCH/codec_ab.json with per-run secs, events/s, and host probes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHM = "/dev/shm/codec_ab"

RUN_SRC = r"""
import json, os, shutil, sys, tempfile, time

sys.path.insert(0, os.environ["AB_REPO"])
from data_exchange_routing_spark.pipeline import Warehouse, replay
from data_exchange_routing_spark.session import get_spark

events_dir = os.environ["AB_EVENTS"]
shm = os.environ["AB_SHM"]
os.makedirs(shm + "/local", exist_ok=True)
spark = get_spark(
    "codec-ab",
    cores=int(os.environ.get("AB_CORES", "8")),
    extra_conf={"spark.local.dir": shm + "/local"},
)
n_events = spark.read.parquet(events_dir).count()
wh_dir = tempfile.mkdtemp(prefix="ab_wh_", dir=shm)
try:
    wh = Warehouse(spark, wh_dir, n_buckets=32)
    t0 = time.time()
    replay(wh, events_dir)
    dt = time.time() - t0
    final = wh.table("web_pages").read().count()
finally:
    shutil.rmtree(wh_dir, ignore_errors=True)
print(json.dumps({"sec": round(dt, 3), "events": n_events,
                  "eps": round(n_events / dt, 1), "final_rows": final}))
"""

GEN_SRC = r"""
import os, sys

sys.path.insert(0, os.environ["AB_REPO"])
from data_exchange_routing_spark.session import get_spark
from data_exchange_routing_spark.sources.datagen import write_change_events

spark = get_spark("codec-ab-gen", cores=8)
spark.conf.set("spark.sql.parquet.compression.codec", os.environ["AB_GEN_CODEC"])
write_change_events(
    spark,
    os.environ["AB_EVENTS"],
    int(os.environ["AB_N"]),
    int(os.environ["AB_N"]) // 10,
    n_epochs=4,
    filler_repeat=int(os.environ.get("AB_FILLER", "1500")),
)
"""


def probe(mb: int = 64) -> float:
    import numpy as np

    t0 = time.perf_counter()
    a = np.ones(mb << 20, dtype=np.uint8)
    dt = time.perf_counter() - t0
    del a
    return round((mb / 1024.0) / dt, 3)


def run_once(env_extra: dict, events_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        AB_REPO=REPO,
        AB_EVENTS=events_dir,
        AB_SHM=SHM,
        SPARK_GRAFT_DRIVER_MEM="24g",
        SPARK_GRAFT_DRIVER_XMS="24g",
        SPARK_GRAFT_JAVA_OPTS="-XX:+AlwaysPreTouch",
        **env_extra,
    )
    g0 = probe()
    p = subprocess.run(
        [sys.executable, "-c", RUN_SRC], env=env, capture_output=True, text=True
    )
    g1 = probe()
    line = next(
        (ln for ln in reversed(p.stdout.splitlines()) if ln.startswith("{")), None
    )
    if line is None:
        raise SystemExit(f"run failed (rc={p.returncode}):\n{p.stderr[-3000:]}")
    rec = json.loads(line)
    rec.update(probe_pre=g0, probe_post=g1)
    return rec


def gen_events(path: str, codec: str, n: int) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    env = dict(os.environ, AB_REPO=REPO, AB_EVENTS=path, AB_GEN_CODEC=codec, AB_N=str(n))
    subprocess.run([sys.executable, "-c", GEN_SRC], env=env, check=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=200_000)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()
    os.makedirs(SHM, exist_ok=True)
    ev_snappy = os.path.join(SHM, "events_snappy")
    ev_zstd = os.path.join(SHM, "events_zstd")
    gen_events(ev_snappy, "snappy", args.events)
    gen_events(ev_zstd, "zstd", args.events)

    def du(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(p)
            for f in fs
        )

    sizes = {"events_snappy_mb": round(du(ev_snappy) / 1e6, 1),
             "events_zstd_mb": round(du(ev_zstd) / 1e6, 1)}
    print("# input sizes:", sizes, flush=True)

    arms = {
        "snappy+lz4": (
            {"SPARK_GRAFT_PARQUET_CODEC": "snappy", "SPARK_GRAFT_IO_CODEC": "lz4"},
            ev_snappy,
        ),
        "snappy+io-zstd": (
            {"SPARK_GRAFT_PARQUET_CODEC": "snappy", "SPARK_GRAFT_IO_CODEC": "zstd"},
            ev_snappy,
        ),
        "all-zstd+zstd-binlog": (
            {"SPARK_GRAFT_PARQUET_CODEC": "zstd", "SPARK_GRAFT_IO_CODEC": "zstd"},
            ev_zstd,
        ),
    }
    results: dict[str, list] = {k: [] for k in arms}
    for r in range(args.repeats):
        for name, (env_extra, ev) in arms.items():
            rec = run_once(env_extra, ev)
            results[name].append(rec)
            print(f"# round {r} {name}: {rec}", flush=True)
    def true_median(xs):
        s = sorted(xs)
        mid = len(s) // 2
        return round((s[mid] + s[~mid]) / 2, 1)

    report = {
        "protocol": "interleaved fresh-JVM runs, tmpfs input+warehouse, "
        "Xms=Xmx=24g AlwaysPreTouch, probes disclosed per run",
        "n_events": args.events,
        "input_sizes": sizes,
        "runs": results,
        "eps_sorted": {k: sorted(x["eps"] for x in v) for k, v in results.items()},
        "best_eps": {k: max(x["eps"] for x in v) for k, v in results.items()},
        "median_eps": {
            k: true_median([x["eps"] for x in v]) for k, v in results.items()
        },
    }
    out = os.path.join(REPO, "BENCH", "codec_ab.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps({k: report["best_eps"][k] for k in arms}, indent=2))


if __name__ == "__main__":
    main()
