"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The fast tests cover input generation and the expected-output computation
without Spark. The smoke tests run ``perfbench/run.py`` end to end in a child
process (each starts its own JVM, ~1 minute) with the workload sizes shrunk,
and the tamper tests drop one row from the engine's output before it is
checked, which must fail the run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import expected as X  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.harness import REFERENCE_JOB_S  # noqa: E402
from perfbench.run import END_TO_END_UNITS, SETTLED_REFERENCE_JOBS  # noqa: E402
from perfbench.workloads import PER_LAYER, QUERIES, WORKLOADS  # noqa: E402

SMALL = dict(n_epochs=4, epoch_events=300, n_urls=200, filler=5)

# shrinks every workload; run inside the child before main()
SHRINK = """
import perfbench.workloads as W
W.CdcIngest.EPOCH_EVENTS, W.CdcIngest.N_URLS, W.CdcIngest.FILLER = 300, 200, 20
W.LakeReads.EPOCH_EVENTS, W.LakeReads.N_URLS, W.LakeReads.WARMUP_CYCLES = 300, 200, 0
W.CorpusQueries.SCALE = 1
"""


def _run(workload: str, trace: int, patch: str = "") -> tuple[int, list[str]]:
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n{SHRINK}\n{patch}\n"
        "from perfbench.run import main\n"
        f"sys.exit(main(['--workload', {workload!r}, '--seed', '5', '--seconds', '1', "
        f"'--trace', '{trace}']))\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    return p.returncode, p.stdout.strip().splitlines()


# ---------------------------------------------------------------------------
# fast: no Spark
# ---------------------------------------------------------------------------


def _write(log):
    return lambda d: inputs.write_change_events(d, log)


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    a = inputs.ensure(str(tmp_path / "a"), "change_events", 1, SMALL, _write(inputs.ChangeLog(1, **SMALL)))
    b = inputs.ensure(str(tmp_path / "b"), "change_events", 1, SMALL, _write(inputs.ChangeLog(1, **SMALL)))
    c = inputs.ensure(str(tmp_path / "c"), "change_events", 2, SMALL, _write(inputs.ChangeLog(2, **SMALL)))
    assert inputs._digest_files(a) == inputs._digest_files(b) != inputs._digest_files(c)
    t = pq.read_table(os.path.join(a, "epoch_hint=0"))
    assert t.schema.field("html").type == pa.binary()
    assert len(inputs.ChangeLog(1, **SMALL).src) > 4 * 300  # verbatim duplicates ride along


def test_cache_regenerates_a_tampered_input(tmp_path):
    log = inputs.ChangeLog(3, **SMALL)
    root = inputs.ensure(str(tmp_path), "change_events", 3, SMALL, _write(log))
    manifest = json.load(open(os.path.join(root, "_manifest.json")))["files"]
    with open(os.path.join(root, sorted(manifest)[0]), "ab") as f:
        f.write(b"x")
    assert not inputs._verified(root)
    assert inputs.ensure(str(tmp_path), "change_events", 3, SMALL, _write(log)) == root
    assert inputs._verified(root)


def test_cache_is_keyed_by_generator_version(tmp_path, monkeypatch):
    log = inputs.ChangeLog(3, **SMALL)
    a = inputs.ensure(str(tmp_path), "change_events", 3, SMALL, _write(log))
    monkeypatch.setattr(inputs, "GENERATOR_VERSION", "other")
    assert inputs.ensure(str(tmp_path), "change_events", 3, SMALL, _write(log)) != a


def test_charset_key_starts_at_its_epoch():
    c = inputs.ChangeLog(1, **SMALL).cols
    with_charset = {e for e, m in zip(c["epoch_hint"], c["meta"]) if any(k == "charset" for k, _ in m)}
    assert with_charset == set(range(inputs.CHARSET_EPOCH, SMALL["n_epochs"]))


class _Log:
    """A hand-written change log shaped like ``inputs.ChangeLog``."""

    def __init__(self, rows):
        cols = list(zip(*rows))
        self.cols = {
            "lsn": list(cols[0]), "op": list(cols[1]), "url": list(cols[2]),
            "warc_ts": [1_700_000_000_000_000 + s * 1_000_000 for s in cols[3]],
            "lang": ["en"] * len(rows), "content_type": list(cols[5]),
            "meta": list(cols[6]), "epoch_hint": [0] * len(rows),
        }
        self.pages = [None if h is None else h.encode() for h in cols[4]]

    def page(self, row):
        return self.pages[row]


def test_last_writer_wins_and_dead_letters():
    ok = [("data_stream_id", "s"), ("DATA_STREAM_ROUTE", "r")]
    ev = _Log(
        [
            (1, "I", "u1", 10, "<p>old</p>", "text/html", ok),
            (2, "U", "u1", 20, "<p>new</p>", "text/html", ok),
            (3, "U", "u1", 15, "<p>late</p>", "text/html", ok),  # older event time: loses
            (4, "I", "u2", 10, "<p>x</p>", "text/html", ok),
            (5, "D", "u2", 11, None, "text/html", ok),  # tombstone wins
            (6, "I", "u3", 10, "<p>y</p>", "application/xml", ok),  # invalid route
            (7, "I", "u4", 10, "<p>z</p>", "application/octet-stream", ok),  # no route
            (8, "I", "u5", 10, "<p>z</p>", "text/html", []),  # empty meta
        ]
    )
    cls = X.classify(ev)
    states = X.table_states(ev, cls)
    assert len(states["web_pages"]) == 1 and states["web_pages"][0].startswith("u1\x1f")
    assert X.sha256_hex(b"<p>new</p>") in states["web_pages"][0]
    assert X.dead_letter_counts(cls) == {
        "validate|metadata map is empty": 1,
        "route|route configuration is invalid": 1,
        "route|no route configuration found for key": 1,
    }


def test_query_round_is_a_subset_of_the_headline_list():
    import bench

    assert set(QUERIES) <= set(bench.HEADLINE)


def test_only_a_half_cent_tie_rounded_the_other_way_is_tolerated():
    want = (["n_name", "revenue"], [("A", "2998751.920000"), ("B", "0.500000")])
    assert X.same_result((want[0], [("A", "2998751.910000"), ("B", "0.500000")]), want)
    for other in ("2998751.900000", "2998751.915000", "2998752.920000"):
        assert not X.same_result((want[0], [("A", other), ("B", "0.500000")]), want)
    assert not X.same_result((want[0], [("A", "2998751.920000")]), want)
    assert not X.same_result((want[0], [("A", "2998751.920000"), ("B", "0.520000")]), want)


def test_digest_is_order_insensitive_and_sees_one_dropped_row():
    keys = [f"k{i}" for i in range(10)]
    assert X.digest(keys) == X.digest(list(reversed(keys)))
    assert X.digest(keys[1:]) != X.digest(keys)


# ---------------------------------------------------------------------------
# smoke: the real command, shrunk
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "workload,trace",
    [("cdc_ingest", 0), ("cdc_ingest", 1), ("corpus_queries", 0), ("corpus_queries", 1), ("lake_reads", 0)],
)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    rc, out = _run(workload, trace)
    assert rc == 0, out[-3:]
    res = json.loads(out[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = END_TO_END_UNITS if not trace else PER_LAYER
    assert set(names) <= set(res["metrics"])
    for k in names:
        m = res["metrics"][k]
        assert isinstance(m["value"], float) and m["unit"], k
    meta = json.loads(out[-2][len("# meta "):])
    if not trace:
        assert {k: m["unit"] for k, m in res["metrics"].items()} == END_TO_END_UNITS
        assert all(m["value"] > 0 for m in res["metrics"].values())
        # timings are the measured ones at the reference host speed
        ref = meta["reference_job_s"]
        assert ref["n"] >= SETTLED_REFERENCE_JOBS + 1
        k = WORKLOADS[workload].REFERENCE_EXPONENT
        assert res["metrics"]["setup_s"]["value"] == pytest.approx(
            meta["unscaled"]["setup_s"] * (REFERENCE_JOB_S / ref["p50"]) ** k)
    elif workload == "cdc_ingest":
        # the prefix cuts re-ran apply_epoch's own plan (captured, not rebuilt)
        assert meta["notes"]["prefix_cuts"] >= 1
        assert res["metrics"]["sources.scan_s"]["value"] > 0
        assert res["metrics"]["mem.worker_peak_rss_mb"]["value"] > 0


DROP_ENGINE_ROW = """
import perfbench.expected as X
_keys = X.engine_row_keys
X.engine_row_keys = lambda df: _keys(df)[1:]
"""

DROP_QUERY_ROW = """
import perfbench.expected as X
X.engine_result = lambda df: X.canonical(df.toPandas().iloc[1:])
"""


@pytest.mark.parametrize("workload,patch", [("cdc_ingest", DROP_ENGINE_ROW), ("corpus_queries", DROP_QUERY_ROW)])
def test_one_dropped_row_fails_the_run(workload, patch):
    rc, out = _run(workload, 0, patch)
    res = json.loads(out[-1])
    assert rc == 1
    assert not res["correct"] and res["failed"] >= 1


def test_benchmark_json_names_the_metrics_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert [m["name"] for m in spec["per_layer"]] == PER_LAYER
