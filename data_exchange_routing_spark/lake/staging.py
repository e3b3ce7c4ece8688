"""Multicast staging: ONE pass feeding N destination tables.

The routed+deduped+extracted delta for ALL destinations is staged once,
directory-partitioned by (destination_table, bucket) — one parquet file per
(destination, bucket) per task, every column except the two partition
columns; each destination table then gets a metadata-only manifest commit
referencing its slice of the staged files. Every manifest entry carries the
file's rows, bytes, warc_ts min/max and url min/max (the Iceberg
manifest-stats pattern), so lineage/metrics cost zero extra Spark jobs.

Two writers produce that layout:

- ``write_staged_runs`` runs inside the fused dedup/extract Arrow pass
  (``operators.dedup.fused_local_dedup_extract`` with ``staging_dir``): the
  pass streams each url-sorted (destination, bucket) run straight into a
  pyarrow ``ParquetWriter`` and emits one manifest row per file, so the
  survivors never travel back to the JVM. ``staged_entries`` collects those
  rows on the driver.
- ``stage_multicast_delta`` is the Spark ``partitionBy`` write of an
  arbitrary delta DataFrame (the "agg" and "window_salted" dedup
  strategies), with stats read back from the parquet footers.

This collapses the reference's per-route copy loop (RouteIngestedFile.kt:193)
into a single shuffle + single write at any number of routes.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_exchange_routing_spark.lake.table import BUCKET_COL

DEST_COL = "destination_table"

# one row per staged file, emitted by the fused pass (write_staged_runs)
STAGED_FILE_SCHEMA = T.StructType(
    [
        T.StructField("dest", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("ts_min", T.StringType(), True),
        T.StructField("ts_max", T.StringType(), True),
        T.StructField("key_min", T.StringType(), True),
        T.StructField("key_max", T.StringType(), True),
    ]
)

# spark.sql.parquet.compression.codec value -> pyarrow codec. Spark's "lz4"
# is the deprecated Hadoop-framed LZ4; pyarrow writes LZ4_RAW, which Spark
# reads. "lzo" has no pyarrow writer.
_PARQUET_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "brotli": "brotli",
    "lz4": "lz4",
    "lz4_raw": "lz4",
    "zstd": "zstd",
}


def parquet_codec(spark_codec: str) -> str:
    """The pyarrow codec for a ``spark.sql.parquet.compression.codec`` value;
    ValueError for one pyarrow cannot write."""
    codec = _PARQUET_CODECS.get(spark_codec.strip().lower())
    if codec is None:
        raise ValueError(
            f"parquet codec {spark_codec!r} is not supported for in-pass staging "
            f"(supported: {', '.join(sorted(_PARQUET_CODECS))})"
        )
    return codec


def write_staged_runs(
    batches,
    staging_dir: str,
    codec: str,
    dest_col: str = DEST_COL,
    bucket_col: str = BUCKET_COL,
    ts_col: str = "warc_ts",
    key_col: str = "url",
):
    """Write Arrow record batches, grouped by contiguous (dest, bucket) runs,
    as ``<staging_dir>/<dest_col>=D/<bucket_col>=K/part-*.parquet``; yield
    one ``STAGED_FILE_SCHEMA`` record batch listing the files.

    Input must arrive clustered by (dest, bucket) — a run that reappears
    later gets a second file. One ``ParquetWriter`` is open at a time: it
    opens when a run starts and closes when the key changes, so a run may
    span any number of batches while memory stays O(batch). File names are
    unique per call, so a re-run or a failed task attempt only adds
    unreferenced files (``Warehouse.vacuum_staging`` reclaims them).
    Stats are computed from the Arrow columns, matching what the parquet
    footers hold (timestamps as ``isoformat`` strings)."""
    import uuid
    from datetime import timezone

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_schema

    ctx = TaskContext.get()
    part = ctx.partitionId() if ctx is not None else 0
    manifest: list[dict] = []
    writer = None
    cur: dict = {}

    def merge(stat: str, lo, hi) -> None:
        if lo is None:
            return
        lo_k, hi_k = f"{stat}_min", f"{stat}_max"
        cur[lo_k] = lo if cur[lo_k] is None else min(cur[lo_k], lo)
        cur[hi_k] = hi if cur[hi_k] is None else max(cur[hi_k], hi)

    def close() -> None:
        writer.close()
        cur["bytes"] = os.path.getsize(cur["path"])
        for k in ("ts_min", "ts_max"):
            if cur[k] is not None:
                # footer stats of tz-aware timestamps read back in UTC
                ts = cur[k]
                cur[k] = (ts.astimezone(timezone.utc) if ts.tzinfo else ts).isoformat()
        manifest.append(dict(cur))

    try:
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            dest = rb.column(names.index(dest_col))
            bucket = rb.column(names.index(bucket_col))
            data = rb.select([c for c in names if c not in (dest_col, bucket_col)])
            starts = [0]
            if n > 1:
                same = pc.and_(
                    pc.equal(dest.slice(1), dest.slice(0, n - 1)),
                    pc.equal(bucket.slice(1), bucket.slice(0, n - 1)),
                ).to_numpy(zero_copy_only=False)
                starts += (np.flatnonzero(~same) + 1).tolist()
            for s, e in zip(starts, starts[1:] + [n]):
                key = (dest[s].as_py(), bucket[s].as_py())
                if writer is None or key != (cur["dest"], cur["bucket"]):
                    if writer is not None:
                        close()
                    d = os.path.join(staging_dir, f"{dest_col}={key[0]}", f"{bucket_col}={key[1]}")
                    os.makedirs(d, exist_ok=True)
                    path = os.path.join(d, f"part-{part:05d}-{uuid.uuid4().hex}.parquet")
                    writer = pq.ParquetWriter(path, data.schema, compression=codec)
                    cur = dict(
                        dest=key[0], bucket=key[1], path=path, rows=0, bytes=0,
                        ts_min=None, ts_max=None, key_min=None, key_max=None,
                    )
                chunk = data.slice(s, e - s)
                writer.write_batch(chunk)
                cur["rows"] += e - s
                for stat, col in (("ts", ts_col), ("key", key_col)):
                    if col in data.schema.names:
                        mm = pc.min_max(chunk.column(data.schema.names.index(col)))
                        merge(stat, mm["min"].as_py(), mm["max"].as_py())
        if writer is not None:
            close()
            writer = None
    finally:
        if writer is not None:
            writer.close()  # failed attempt: leave a closed, unreferenced file
    if manifest:
        yield pa.RecordBatch.from_pylist(manifest, schema=to_arrow_schema(STAGED_FILE_SCHEMA))


def staged_entries(manifest: DataFrame) -> dict[str, list[dict]]:
    """Run the staging pass (one Spark action) and return {destination:
    [manifest entries]} from the ``STAGED_FILE_SCHEMA`` rows it emits."""
    entries: dict[str, list[dict]] = {}
    for r in manifest.collect():
        e = r.asDict()
        entries.setdefault(e.pop("dest"), []).append(dict(e, kind="delta"))
    return entries


def stage_multicast_delta(
    delta: DataFrame,
    staging_dir: str,
    n_buckets: int,
    ts_col: str = "warc_ts",
    key_col: str = "url",
) -> dict[str, list[dict]]:
    """Write the combined delta partitioned by (destination, bucket); return
    {destination: [manifest entries with absolute paths + footer stats]}.

    The repartition keys on (destination, bucket) so each write task owns one
    output directory -> file count is O(destinations x buckets) per epoch,
    independent of shuffle width.
    """
    out = delta.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    # shuffle keyed on (destination, bucket); partition COUNT is left to
    # spark.sql.shuffle.partitions + AQE coalescing so task sizes track
    # the batch volume. partitionBy still yields exactly one file per
    # (destination, bucket) per writing task -> file count stays
    # O(destinations x buckets), not O(tasks x buckets).
    out = out.repartition(F.col(DEST_COL), F.col(BUCKET_COL))
    # cluster by url inside each (destination, bucket) file: a
    # partition-local sort (no extra shuffle) that tightens parquet
    # row-group min/max on the key -> point reads skip row groups
    out = out.sortWithinPartitions(DEST_COL, BUCKET_COL, "url")
    (
        out.write.mode("overwrite")
        .partitionBy(DEST_COL, BUCKET_COL)
        .parquet(staging_dir)
    )

    work: list[tuple[str, int, str]] = []
    for root, _dirs, names in os.walk(staging_dir):
        # note: the bucket partition dir is `_b=K` — do NOT filter out
        # underscore-prefixed components here (doing so silently recorded
        # bucket=-1 for every staged file, defeating manifest bucket pruning)
        parts = dict(p.split("=", 1) for p in root.split(os.sep) if "=" in p)
        dest = parts.get(DEST_COL)
        bucket = int(parts.get(BUCKET_COL, -1))
        for name in names:
            if name.endswith(".parquet"):
                work.append((dest, bucket, os.path.join(root, name)))

    from concurrent.futures import ThreadPoolExecutor

    entries: dict[str, list[dict]] = {}
    with ThreadPoolExecutor(max_workers=16) as ex:
        for dest, entry in ex.map(lambda w: stat_one(w, ts_col, key_col), work):
            entries.setdefault(dest, []).append(entry)
    return entries


def stat_one(item: tuple[str, int, str], ts_col: str = "warc_ts", key_col: str = "url") -> tuple[str, dict]:
    """(destination, manifest entry) of one staged file, from its footer."""
    dest, bucket, full = item
    md = pq.ParquetFile(full).metadata
    tmin = tmax = kmin = kmax = None
    # column stats from row-group footers: ts watermark for lineage plus
    # the merge-key range for manifest-level file pruning (point reads
    # skip files whose [key_min, key_max] cannot contain the key)
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            if col.statistics is None or not col.statistics.has_min_max:
                continue
            s = col.statistics
            if col.path_in_schema == ts_col:
                tmin = s.min if tmin is None else min(tmin, s.min)
                tmax = s.max if tmax is None else max(tmax, s.max)
            elif col.path_in_schema == key_col:
                lo = s.min.decode("utf-8", "replace") if isinstance(s.min, bytes) else s.min
                hi = s.max.decode("utf-8", "replace") if isinstance(s.max, bytes) else s.max
                kmin = lo if kmin is None else min(kmin, lo)
                kmax = hi if kmax is None else max(kmax, hi)
    return dest, {
        "path": full,
        "bucket": bucket,
        "kind": "delta",
        "rows": md.num_rows,
        "bytes": os.path.getsize(full),
        "ts_min": tmin.isoformat() if tmin is not None else None,
        "ts_max": tmax.isoformat() if tmax is not None else None,
        "key_min": kmin,
        "key_max": kmax,
    }
