"""Degraded-window bytes-cut evidence (VERDICT r04 #1, done-criterion (b)).

Inside this host's degraded-paging windows, replay is bytes-touched-bound
(the r04 cap analysis: ~0.2 GB/s shared memory-touch bandwidth across
JVMs). This protocol runs the r04 bytes configuration (snappy parquet,
snappy binlog, lz4 shuffle) against the r05 configuration (zstd parquet,
zstd binlog) interleaved, and records the per-run host probes. Runs are
only EVIDENCE when their probes show the degraded state (< 0.8 GB/s); the
script labels each pair accordingly and keeps the first N degraded-state
pairs.

Usage: PYTHONPATH=/root/repo python scripts/degraded_ab.py [--events N] [--pairs K]
Writes BENCH/degraded_ab.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.codec_ab import SHM, gen_events, probe, run_once  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=200_000)
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--degraded-gbps", type=float, default=0.8)
    args = ap.parse_args()
    os.makedirs(SHM, exist_ok=True)
    ev_snappy = os.path.join(SHM, "events_snappy")
    ev_zstd = os.path.join(SHM, "events_zstd")
    gen_events(ev_snappy, "snappy", args.events)
    gen_events(ev_zstd, "zstd", args.events)
    arms = {
        "r04-bytes(snappy+snappy-binlog)": (
            {"SPARK_GRAFT_PARQUET_CODEC": "snappy", "SPARK_GRAFT_IO_CODEC": "lz4"},
            ev_snappy,
        ),
        "r05-bytes(zstd+zstd-binlog)": (
            {"SPARK_GRAFT_PARQUET_CODEC": "zstd", "SPARK_GRAFT_IO_CODEC": "lz4"},
            ev_zstd,
        ),
    }
    pairs = []
    for k in range(args.pairs):
        rec = {}
        for name, (env_extra, ev) in arms.items():
            r = run_once(env_extra, ev)
            r["arm"] = name
            print(f"# pair {k} {name}: {r}", flush=True)
            rec[name] = r
        probes = [v["probe_pre"] for v in rec.values()] + [
            v["probe_post"] for v in rec.values()
        ]
        rec["_degraded_pair"] = all(p < args.degraded_gbps for p in probes)
        rec["_gain"] = round(
            rec["r05-bytes(zstd+zstd-binlog)"]["eps"]
            / rec["r04-bytes(snappy+snappy-binlog)"]["eps"],
            3,
        )
        pairs.append(rec)
    report = {
        "protocol": "interleaved fresh-JVM pairs; a pair is degraded-state "
        "evidence only when EVERY probe around both runs is < threshold",
        "n_events": args.events,
        "degraded_threshold_gbps": args.degraded_gbps,
        "pairs": pairs,
        "degraded_pairs": [p["_gain"] for p in pairs if p["_degraded_pair"]],
    }
    with open(os.path.join(REPO, "BENCH", "degraded_ab.json"), "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps({"degraded_pair_gains": report["degraded_pairs"]}))


if __name__ == "__main__":
    main()
