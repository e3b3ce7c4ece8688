"""Per-key last-writer-wins CDC dedup (SURVEY.md §2.6 A-dedup).

Ordering key is (warc_ts, lsn) — event time, ties broken by log sequence —
mirroring the reference's ordered chunk commit (RouteIngestedFile.kt:543-545)
and the HL7 `sequencer` field (HL7Message.kt:25). At-least-once delivery means
exact duplicates (same lsn) and out-of-order arrivals are expected
(RouteIngestedFile.kt:100-103; CHANGELOG 0.0.41).

Two interchangeable physical strategies (tests assert identical results):

- "agg" (default): groupBy(url).agg(max_by(row, (warc_ts, lsn))). Catalyst
  plans this as partial hash aggregation, so every map task pre-reduces its
  own slice of a hot url to ONE row before the shuffle — Zipf-skewed keys
  never concentrate on a single reducer. This is the built-in equivalent of
  hand-salting and the preferred plan at 10^10 events.

- "window_salted": explicit two-phase salted reduction + window row_number —
  the classical formulation; kept for parity with engines without map-side
  combine on max_by and as an explicit skew-handling demonstration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ORDER_COLS = ("warc_ts", "lsn")


def dedup_last_writer(
    df: DataFrame,
    key: str | list[str] = "url",
    strategy: str = "agg",
    n_salts: int = 32,
) -> DataFrame:
    keys = [key] if isinstance(key, str) else list(key)
    if strategy == "agg":
        return _dedup_agg(df, keys)
    if strategy == "window_salted":
        return _dedup_window_salted(df, keys, n_salts)
    raise ValueError(f"unknown dedup strategy: {strategy}")


def _ord(df: DataFrame):
    return F.struct(*[F.col(c) for c in ORDER_COLS])


def _dedup_agg(df: DataFrame, keys: list[str]) -> DataFrame:
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    out = df.groupBy(*keys).agg(F.max_by(row, _ord(df)).alias("_row"))
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in cols])


def _dedup_window_salted(df: DataFrame, keys: list[str], n_salts: int) -> DataFrame:
    """Phase 1: reduce per (key, salt) — hot keys split across n_salts reducers;
    phase 2: reduce the <=n_salts survivors per key; final row_number window
    runs on at most n_salts rows per key."""
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col("lsn"), F.lit(7)), F.lit(n_salts)))
    phase1 = salted.groupBy(*keys, "_salt").agg(F.max_by(row, _ord(df)).alias("_row"))
    w = Window.partitionBy(*keys).orderBy(
        F.desc(F.col(f"_row.{ORDER_COLS[0]}")), F.desc(F.col(f"_row.{ORDER_COLS[1]}"))
    )
    final = phase1.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return final.select(*[F.col(f"_row.{c}").alias(c) for c in cols])


def with_text_field(schema: T.StructType) -> T.StructType:
    """``schema`` with the extracted ``text`` column inserted after ``html``:
    the row shape the fused dedup/extract pass produces."""
    fields = []
    for f in schema.fields:
        fields.append(f)
        if f.name == "html":
            fields.append(T.StructField("text", T.StringType(), True))
    return T.StructType(fields)


def fused_local_dedup_extract(
    staged_input: DataFrame,
    n_buckets: int,
    dest_col: str = "destination_table",
    bucket_col: str = "_b",
    no_dedup_dest: str = "dead_letter",
    engine: str = "arrow",
    staging_dir: str | None = None,
) -> DataFrame:
    """Third physical strategy ("local"): ONE shuffle for the whole epoch.

    The agg strategy shuffles the full ~KB rows twice — once keyed (dest, url)
    for the dedup aggregation, once keyed (dest, bucket) for the staged write.
    But bucket = hash(url) % n determines url's partition, so a single
    (dest, bucket) shuffle co-locates every revision of a url; after a
    partition-local sort (dest, bucket, url, warc_ts DESC, lsn DESC),
    last-writer-wins dedup is adjacency filtering — C-level vector compare in
    the SAME Arrow pass that text extraction already pays. Net: half the
    shuffle bytes per epoch and one fewer Arrow round trip.

    Rows with dest == ``no_dedup_dest`` (dead letters) are never deduplicated
    (at-least-once dead-lettering, like the reference) and keep their meta
    map; delta rows get meta nulled (parity with the agg path, which drops
    meta before staging).

    With ``staging_dir`` (the replay path) the pass also STAGES its
    survivors: each url-sorted (dest, bucket) run streams into one parquet
    file under ``<staging_dir>/<dest_col>=D/<bucket_col>=K/`` (every column
    but those two, codec from ``spark.sql.parquet.compression.codec``), and
    the returned DataFrame holds one ``lake.staging.STAGED_FILE_SCHEMA``
    manifest row per file instead of the survivors — they never travel back
    to the JVM. Collect it with ``lake.staging.staged_entries``; each
    re-run writes a fresh set of files. Arrow engine only.

    Without ``staging_dir`` it returns the survivors: ``staged_input`` + a
    ``text`` column after ``html``, physically partitioned by (dest, bucket)
    and url-sorted.

    ``engine="arrow"`` (default) runs the pass via ``mapInArrow``: adjacency
    keys compare as C-level Arrow kernels instead of numpy str
    concatenation, non-survivors are dropped by an Arrow ``filter`` WITHOUT
    ever becoming Python objects — only the survivor payloads cross into
    Python (one ``as_py`` each, for extraction). The pandas engine is kept
    verbatim for the byte-equivalence gate (tests/test_operators.py).
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    from data_exchange_routing_spark.functions.extract import extract_text_py

    bucketed = staged_input.withColumn(
        bucket_col, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    arranged = bucketed.repartition(F.col(dest_col), F.col(bucket_col)).sortWithinPartitions(
        F.col(dest_col),
        F.col(bucket_col),
        F.col("url"),
        F.desc(ORDER_COLS[0]),
        F.desc("_lsn"),
    )

    out_schema = with_text_field(arranged.schema)
    out_names = [f.name for f in out_schema.fields]

    def op(batches):
        last_key = None  # (dest \x00 url) of the previous batch's final row
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dests = pdf[dest_col].to_numpy()
            keys = np.char.add(
                np.char.add(dests.astype(str), "\x00"), pdf["url"].to_numpy().astype(str)
            )
            keep = np.ones(len(pdf), dtype=bool)
            keep[1:] = keys[1:] != keys[:-1]
            if last_key is not None and keys[0] == last_key:
                keep[0] = False
            # dead letters are exempt from dedup: at-least-once, keep all
            keep |= dests == no_dedup_dest
            last_key = keys[-1]
            surv = pdf.loc[keep].copy()
            surv["text"] = surv["html"].map(extract_text_py)
            if "meta" in surv.columns:
                is_dl = surv[dest_col] == no_dedup_dest
                surv["meta"] = surv["meta"].where(is_dl, None)
            yield surv[out_names]

    def op_arrow(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        last_key = None  # (dest, url) of the previous batch's final row
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            dest = rb.column(names.index(dest_col))
            # null urls compare EQUAL here (pandas-engine parity: numpy
            # astype(str) renders None as 'None'); dest is never null
            url = pc.fill_null(rb.column(names.index("url")), "None")
            # adjacency dedup: row i survives unless (dest, url) equals row
            # i-1's — C-level equality on the sliced arrays, no Python
            # objects, no string concatenation
            keep = np.ones(n, dtype=bool)
            if n > 1:
                same = pc.and_(
                    pc.equal(dest.slice(1), dest.slice(0, n - 1)),
                    pc.equal(url.slice(1), url.slice(0, n - 1)),
                )
                keep[1:] = np.invert(same.to_numpy(zero_copy_only=False))
            if last_key is not None and (dest[0].as_py(), url[0].as_py()) == last_key:
                keep[0] = False
            is_dl = pc.equal(dest, no_dedup_dest).to_numpy(zero_copy_only=False)
            keep |= is_dl  # dead letters exempt: at-least-once, keep all
            last_key = (dest[n - 1].as_py(), url[n - 1].as_py())
            surv = rb.filter(pa.array(keep))
            cols = {name: surv.column(i) for i, name in enumerate(surv.schema.names)}
            # only the SURVIVORS' html payloads become Python bytes (one
            # as_py each) — dropped duplicates never cross the boundary
            html = cols["html"]
            cols["text"] = pa.array(
                [extract_text_py(v.as_py()) for v in html], type=pa.string()
            )
            if "meta" in cols:
                # delta rows ship meta as null (agg-path parity); only the
                # (rare) dead-letter rows keep theirs. The common all-delta
                # batch emits nulls without touching a single Python object.
                meta = cols["meta"]
                dl_surv = is_dl[keep]
                if not dl_surv.any():
                    cols["meta"] = pa.nulls(len(meta), type=meta.type)
                else:
                    cols["meta"] = pa.array(
                        [
                            meta[i].as_py() if dl_surv[i] else None
                            for i in range(len(meta))
                        ],
                        type=meta.type,
                    )
            yield pa.RecordBatch.from_arrays(
                [cols[name] for name in out_names],
                schema=pa.schema(
                    [
                        (
                            pa.field(name, cols[name].type)
                            if name in ("text", "meta")
                            else surv.schema.field(name)
                        )
                        for name in out_names
                    ]
                ),
            )

    if staging_dir is not None:
        if engine != "arrow":
            raise ValueError(f"in-pass staging needs the arrow fused engine, got {engine!r}")
        from data_exchange_routing_spark.lake.staging import (
            STAGED_FILE_SCHEMA,
            parquet_codec,
            write_staged_runs,
        )

        codec = parquet_codec(
            staged_input.sparkSession.conf.get("spark.sql.parquet.compression.codec")
        )

        def op_stage(batches):
            return write_staged_runs(
                op_arrow(batches), staging_dir, codec, dest_col=dest_col, bucket_col=bucket_col
            )

        return arranged.mapInArrow(op_stage, STAGED_FILE_SCHEMA)
    if engine == "arrow":
        return arranged.mapInArrow(op_arrow, out_schema)
    if engine == "pandas":
        return arranged.mapInPandas(op, out_schema)
    # fail loudly: a typo'd engine silently measuring the wrong path would
    # invalidate the equivalence gate the pandas engine exists for
    raise ValueError(f"unknown fused engine {engine!r} (arrow|pandas)")
