"""Expected engine outputs, computed without Spark from the raw inputs.

Change events: validation, routing and last-writer-wins dedup follow the
engine's documented contract (exact dead-letter error strings, route table
``DEFAULT_ROUTES``, winner = max (warc_ts, lsn) per (destination, url),
deletes leave no row). Extracted text uses the pinned reference extractor
``extract_text_py``, the single source of truth of the byte-identity
contract. Digests are order-insensitive.

Queries: each query's DuckDB twin from ``plans.queries.ORACLE``.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

from data_exchange_routing_spark.functions.extract import extract_text_py
from data_exchange_routing_spark.schemas import (
    ERR_BAD_OP,
    ERR_EMPTY_META,
    ERR_INVALID_ROUTE,
    ERR_MISSING_STREAM_ID,
    ERR_MISSING_STREAM_ROUTE,
    ERR_NO_ROUTE,
)
from data_exchange_routing_spark.sources.configs import DEFAULT_ROUTES

ROUTES = {k: t for (k, t, _p, _m, v) in DEFAULT_ROUTES if v}
INVALID_ROUTES = {k for (k, _t, _p, _m, v) in DEFAULT_ROUTES if not v}


def _error(meta, op: str) -> str | None:
    m = {str(k).lower(): v for k, v in (meta or [])}
    if not m:
        return ERR_EMPTY_META
    if not m.get("data_stream_id"):
        return ERR_MISSING_STREAM_ID
    if not m.get("data_stream_route"):
        return ERR_MISSING_STREAM_ROUTE
    if op not in ("I", "U", "D"):
        return ERR_BAD_OP
    return None


def classify(log) -> pd.DataFrame:
    """One row per delivered event of ``log`` (an ``inputs.ChangeLog``):
    destination (None for dead letters), dead-letter stage and error, and the
    lowercase-key ``charset`` value."""
    c = log.cols
    dest, stage, err, charset = [], [], [], []
    for m, op, ct in zip(c["meta"], c["op"], c["content_type"]):
        e = _error(m, op)
        d = s = None
        if e is not None:
            s = "validate"
        elif ct in ROUTES:
            d = ROUTES[ct]
        else:
            s, e = "route", ERR_INVALID_ROUTE if ct in INVALID_ROUTES else ERR_NO_ROUTE
        dest.append(d)
        stage.append(s)
        err.append(e)
        charset.append({str(k).lower(): v for k, v in m}.get("charset"))
    df = pd.DataFrame({k: c[k] for k in ("lsn", "op", "url", "warc_ts", "lang", "epoch_hint")})
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], unit="us")
    df["dest"], df["stage"], df["error"], df["charset"] = dest, stage, err, charset
    df["row"] = np.arange(len(df))
    return df


def dead_letter_counts(cls: pd.DataFrame) -> dict[str, int]:
    """{"stage|error": rows}; duplicates count (at-least-once dead-lettering)."""
    dl = cls[cls["stage"].notna()]
    return {f"{s}|{e}": int(n) for (s, e), n in dl.groupby(["stage", "error"]).size().items()}


def winners(cls: pd.DataFrame, epochs: set[int] | None = None) -> pd.DataFrame:
    """Last-writer-wins winner per (dest, url) over the given epochs."""
    rows = cls[cls["dest"].notna()]
    if epochs is not None:
        rows = rows[rows["epoch_hint"].isin(sorted(epochs))]
    rows = rows.sort_values(["dest", "url", "warc_ts", "lsn"])
    return rows.drop_duplicates(["dest", "url"], keep="last")


def sha256_hex(b: bytes | None) -> str:
    return "" if b is None else hashlib.sha256(b).hexdigest()


def row_key(url, warc_ts, lang, charset, html_sha, text_sha) -> str:
    ts = pd.Timestamp(warc_ts).tz_localize(None).isoformat() if warc_ts is not None else ""
    return "\x1f".join([url, ts, lang or "", charset or "", html_sha, text_sha])


def digest(keys) -> tuple[int, str]:
    """(row count, order-insensitive digest) of row keys."""
    keys = sorted(keys)
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\x1e")
    return len(keys), h.hexdigest()


def table_states(log, cls: pd.DataFrame, epochs: set[int] | None = None) -> dict[str, list[str]]:
    """{destination: [row key]} of the resolved tables after ``epochs``."""
    win = winners(cls, epochs)
    live = win[win["op"] != "D"]
    out: dict[str, list[str]] = {t: [] for t in set(ROUTES.values())}
    for r in live.itertuples(index=False):
        h = log.page(r.row)
        text = extract_text_py(h)
        out[r.dest].append(
            row_key(r.url, r.warc_ts, r.lang, r.charset, sha256_hex(h), sha256_hex(None if text is None else text.encode()))
        )
    return out


# ---------------------------------------------------------------------------
# engine-side readers for the same keys
# ---------------------------------------------------------------------------


def engine_row_keys(df) -> list[str]:
    """Row keys of a resolved-table DataFrame; hashing runs in Spark so only
    short strings reach the driver."""
    from pyspark.sql import functions as F

    charset = F.col("charset") if "charset" in df.columns else F.lit(None).cast("string")
    rows = df.select(
        "url", "warc_ts", "lang", charset.alias("charset"),
        F.coalesce(F.sha2(F.col("html"), 256), F.lit("")).alias("h"),
        F.coalesce(F.sha2(F.encode(F.col("text"), "UTF-8"), 256), F.lit("")).alias("t"),
    ).collect()
    return [row_key(r.url, r.warc_ts, r.lang, r.charset, r.h, r.t) for r in rows]


def engine_dead_letter_counts(df) -> dict[str, int]:
    return {f"{r.stage}|{r.error}": int(r["count"]) for r in df.groupBy("stage", "error").count().collect()}


# ---------------------------------------------------------------------------
# query results
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return (v.tz_localize(None) if v.tzinfo else v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, sorted(tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False))


def engine_result(df) -> tuple[list[str], list[tuple]]:
    return canonical(df.toPandas())


def _cent_tie(a: str, b: str) -> bool:
    """Both cells are amounts rounded to cents that differ by one cent: a
    sum that is exactly a half-cent tie in decimal, rounded the other way
    because the two engines added its doubles in a different order. Money
    columns hold two decimals and discounts whole percents, so such sums
    land exactly on a tie once in a hundred."""
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    cents = (round(x * 100), round(y * 100))
    on_cents = all(abs(v * 100 - c) < 1e-6 * max(1.0, abs(v)) for v, c in zip((x, y), cents))
    return on_cents and abs(cents[0] - cents[1]) == 1


def same_result(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> bool:
    """Canonical results are equal cell by cell, except for a half-cent tie
    rounded the other way (``_cent_tie``)."""
    if got[0] != want[0] or len(got[1]) != len(want[1]):
        return False
    return all(
        a == b or _cent_tie(a, b)
        for row_g, row_w in zip(got[1], want[1])
        for a, b in zip(row_g, row_w)
    )


def duckdb_results(corpus_dir: str, names: list[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from data_exchange_routing_spark.plans.queries import ORACLE

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(corpus_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(corpus_dir, f)}')"
                )
        return {n: canonical(con.sql(ORACLE[n]).df()) for n in names}
    finally:
        con.close()
