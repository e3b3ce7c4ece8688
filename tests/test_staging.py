"""In-pass staging: the fused dedup/extract Arrow pass writes the epoch's
staged parquet files itself and returns one manifest row per file
(lake/staging.py:write_staged_runs)."""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pyarrow.parquet as pq
import pytest

from data_exchange_routing_spark.lake.staging import (
    parquet_codec,
    stat_one,
    staged_entries,
)
from data_exchange_routing_spark.operators.dedup import fused_local_dedup_extract

SCHEMA = (
    "destination_table string, url string, warc_ts timestamp, html binary,"
    " lang string, _lsn long, _deleted boolean, charset string,"
    " meta map<string,string>, error string"
)


def _rows(n: int = 60):
    rows = []
    for i in range(n):
        dl = i % 6 == 0
        rows.append(
            (
                "dead_letter" if dl else ("web_pages" if i % 2 else "web_pages_pdf"),
                f"https://s/{i % 5}",
                datetime(2024, 1, 1, 0, i % 4, i % 9),
                f"<p>page &amp; {i}</p>".encode(),
                "en",
                i,
                i % 17 == 0,
                None if i % 3 == 0 else ("utf-8" if i % 2 else "latin-1"),
                {"k": str(i)},
                "no route" if dl else None,
            )
        )
    return rows


@pytest.fixture()
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")  # every (dest, bucket) run spans several batches
    yield
    spark.conf.set(key, old)


def _stage(spark, tmpdir_path, n_buckets=2):
    df = spark.createDataFrame(_rows(), SCHEMA)
    staging = os.path.join(tmpdir_path, "staging")
    entries = staged_entries(
        fused_local_dedup_extract(df, n_buckets=n_buckets, staging_dir=staging)
    )
    return df, staging, entries


def test_run_spanning_batches_lands_in_one_file_last_writer_wins(spark, tmpdir_path, tiny_batches):
    df, staging, entries = _stage(spark, tmpdir_path)
    files = [(d, e["bucket"]) for d, es in entries.items() for e in es]
    assert len(files) == len(set(files)), "one file per (destination, bucket)"
    on_disk = sorted(
        os.path.join(r, n) for r, _d, ns in os.walk(staging) for n in ns if n.endswith(".parquet")
    )
    assert on_disk == sorted(e["path"] for es in entries.values() for e in es)
    # 60 rows over 2 buckets per destination, 3-row batches: runs cross batch
    # boundaries, so a one-batch-per-file writer would show duplicates here
    assert max(e["rows"] for es in entries.values() for e in es) > 3

    rows = _rows()
    want: dict[tuple, tuple] = {}
    for r in rows:
        if r[0] == "dead_letter":
            continue
        k = (r[0], r[1])
        if k not in want or (r[2], r[5]) > (want[k][2], want[k][5]):
            want[k] = r
    got = {}
    for dest, es in entries.items():
        for e in es:
            t = pq.read_table(e["path"])
            assert "destination_table" not in t.schema.names and "_b" not in t.schema.names
            urls = t.column("url").to_pylist()
            assert urls == sorted(urls), "rows url-sorted within a file"
            if dest == "dead_letter":
                continue
            for u, lsn in zip(urls, t.column("_lsn").to_pylist()):
                assert (dest, u) not in got, f"duplicate survivor {(dest, u)}"
                got[(dest, u)] = lsn
    assert got == {k: r[5] for k, r in want.items()}
    n_dl = sum(e["rows"] for e in entries["dead_letter"])
    assert n_dl == sum(1 for r in rows if r[0] == "dead_letter")  # never deduplicated


def test_manifest_stats_match_footers_and_spark_reads_files(spark, tmpdir_path, tiny_batches):
    df, staging, entries = _stage(spark, tmpdir_path)
    for dest, es in entries.items():
        for e in es:
            d, footer = stat_one((dest, e["bucket"], e["path"]))
            assert d == dest
            assert e == footer, e["path"]
    assert all(e["ts_min"].endswith("+00:00") for es in entries.values() for e in es)

    # the staged files hold exactly the survivors the non-staging pass
    # returns, read back by Spark under that row schema: promoted column
    # (charset) values and dead-letter meta included, delta meta nulled
    survivors = fused_local_dedup_extract(df, n_buckets=2)
    schema = survivors.drop("destination_table", "_b").schema
    for dest, es in entries.items():
        got = spark.read.schema(schema).parquet(*[e["path"] for e in es])
        want = survivors.filter(survivors.destination_table == dest).drop(
            "destination_table", "_b"
        )
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect())), dest
    dl = spark.read.schema(schema).parquet(*[e["path"] for e in entries["dead_letter"]])
    assert all(r["meta"] is not None and r["error"] == "no route" for r in dl.collect())
    delta = spark.read.schema(schema).parquet(*[e["path"] for e in entries["web_pages"]])
    rows = delta.collect()
    assert all(r["meta"] is None for r in rows)
    assert {r["charset"] for r in rows} >= {"utf-8", None}


def test_unreferenced_staged_file_is_invisible_and_vacuumed(spark, tmpdir_path):
    from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch
    from data_exchange_routing_spark.sources.datagen import write_change_events

    events = os.path.join(tmpdir_path, "events")
    write_change_events(spark, events, 300, 60, n_epochs=1)
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=4)
    wh.init_tables()
    apply_epoch(wh, spark.read.parquet(os.path.join(events, "epoch_hint=0")), epoch_id=0)
    table = wh.table("web_pages")
    before = sorted(map(str, table.read().collect()))
    committed = table.referenced_data_paths()
    staged = [p for p in committed if "_staging" in p]
    assert staged
    # a failed task attempt leaves a full file next to the committed ones
    orphan = os.path.join(os.path.dirname(staged[0]), "part-99999-orphan.parquet")
    shutil.copy(staged[0], orphan)
    assert sorted(map(str, wh.table("web_pages").read().collect())) == before
    res = wh.vacuum_staging(min_age_s=0)
    assert res["files_removed"] == 1 and not os.path.exists(orphan)
    assert all(os.path.exists(p) for p in staged)
    assert sorted(map(str, wh.table("web_pages").read().collect())) == before


def test_unsupported_codec_raises(spark, tmpdir_path):
    assert parquet_codec("ZSTD") == "zstd" and parquet_codec("uncompressed") == "none"
    with pytest.raises(ValueError, match="not supported"):
        parquet_codec("bogus")
    key = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(key)
    spark.conf.set(key, "lzo")  # valid for Spark, no pyarrow writer
    try:
        with pytest.raises(ValueError, match="'lzo' is not supported"):
            _stage(spark, tmpdir_path)
    finally:
        spark.conf.set(key, old)
