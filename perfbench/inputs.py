"""Seeded benchmark inputs, generated without Spark and cached by digest.

The engine's own generator (``sources/datagen.py``) has no seed parameter and
needs a running JVM. Generating here, in numpy/pyarrow, keeps the JVM of a
run in the same state whether its inputs came from the cache or were just
made, so ``setup_s`` does not depend on the cache.

Two input kinds:

* ``change_events``: the CDC change-event log in the engine's segment layout
  (``epoch_hint=K/part-*.parquet``, rows url-sorted inside each file so that
  storage order differs from lsn order). Field rules follow
  ``generate_change_events``: Zipf-skewed urls with 3% of events on five hot
  urls, ~1.5% verbatim duplicate deliveries, 3% deletes, missing or empty
  metadata, unrouted and invalid-route content types, non-UTF8 payload tails,
  and the ``charset`` meta key from ``CHARSET_EPOCH`` on. The seed picks
  the url permutation (hot keys, bucket placement) and every random field.
* ``corpus``: the ten tables the query registry reads (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) with the column
  types and value domains of the shared test data.

Each input directory carries ``_manifest.json`` with the sha256 of every
file; ``ensure`` regenerates a directory whose files do not match it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_exchange_routing_spark.sources import datagen as DG

FILES_PER_EPOCH = 8
# first epoch carrying the ``charset`` meta key; datagen uses 3, here 1 so
# that the benchmark's two warm-up epochs end on it
CHARSET_EPOCH = 1
BASE_TS_S = int(np.datetime64(DG.BASE_TS.replace(" ", "T"), "s").astype(np.int64))

EVENT_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
        ("content_type", pa.string()),
        ("meta", pa.map_(pa.string(), pa.string())),
    ]
)


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _digest_files(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = _sha256(p)
    return dict(sorted(out.items()))


def _verified(root: str) -> bool:
    try:
        with open(os.path.join(root, "_manifest.json")) as f:
            want = json.load(f)["files"]
    except (OSError, ValueError, KeyError):
        return False
    return bool(want) and _digest_files(root) == want


# inputs made by another version of this file are never reused
GENERATOR_VERSION = _sha256(__file__)[:12]


def ensure(cache_dir: str, kind: str, seed: int, size: dict, write) -> str:
    """Directory holding the verified input ``kind`` for (seed, size) made by
    this generator version; ``write(dir)`` makes it on a miss or a digest
    mismatch."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = os.path.join(cache_dir, f"{kind}-seed{seed}-{key}-{GENERATOR_VERSION}")
    if _verified(root):
        return root
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump({"kind": kind, "seed": seed, "size": size, "files": _digest_files(tmp)}, f)
    os.rename(tmp, root)
    return root


# ---------------------------------------------------------------------------
# change events
# ---------------------------------------------------------------------------


class ChangeLog:
    """Seeded draws for a whole change-event log. Pages (~filler x 8 bytes
    each) are built on demand, one epoch at a time, so memory stays at one
    epoch's payload whatever the log length."""

    def __init__(self, seed: int, n_epochs: int, epoch_events: int, n_urls: int, filler: int):
        rng = np.random.default_rng([seed, 1])
        n = n_epochs * epoch_events
        lsn = np.arange(n, dtype=np.int64)
        # Zipf-ish keys (P(r) ~ 1/r) plus 3% of events on five hot urls
        url_id = np.minimum(np.floor(np.exp(rng.random(n) * np.log(max(n_urls, 2)))), n_urls - 1)
        url_id = url_id.astype(np.int64)
        hot = rng.random(n) < 0.03
        url_id[hot] = rng.integers(0, 5, hot.sum())
        # seeded url remap: which keys are hot, and where they bucket, follow the seed
        key = rng.permutation(n_urls)[url_id]
        first = np.zeros(n, dtype=bool)
        first[np.unique(url_id, return_index=True)[1]] = True
        op = np.where(rng.random(n) < 0.03, "D", np.where(first, "I", "U")).astype(object)
        lang = np.array(DG.LANGS, dtype=object)[rng.integers(0, len(DG.LANGS), n)]
        lang[op == "D"] = None
        u_ct = rng.random(n)
        ctype = np.array(DG.CONTENT_TYPES, dtype=object)[rng.integers(0, len(DG.CONTENT_TYPES), n)]
        ctype[u_ct < 0.02] = DG.INVALID_ROUTE_CONTENT_TYPE
        ctype[u_ct < 0.01] = DG.UNROUTED_CONTENT_TYPE
        epoch = (lsn * n_epochs // n).astype(np.int32)
        self.filler = filler
        self._word = rng.integers(0, 1000, n)
        self._salt = rng.integers(0, 1 << 62, n)
        self._non_utf8 = rng.random(n) < 0.02
        stream, route = rng.integers(0, 4, n), rng.integers(0, 3, n)
        juris, charset = rng.integers(0, 60, n), rng.random(n) < 0.5
        u_meta = rng.random(n)
        meta = []
        for i in range(n):
            if u_meta[i] < 0.005:
                meta.append([])
                continue
            m = [
                ("data_stream_id", f"stream-{stream[i]}"),
                ("data_stream_route", f"route-{route[i]}"),
                ("Reporting_Jurisdiction", f"J{juris[i]}"),
            ]
            if epoch[i] >= CHARSET_EPOCH:
                m.append(("charset", "utf-8" if charset[i] else "latin-1"))
            meta.append(m if u_meta[i] >= 0.025 else m[1:])
        # at-least-once delivery: a seeded sample is delivered twice, verbatim
        self.src = np.concatenate([lsn, np.flatnonzero(rng.random(n) < 0.015)])
        s = self.src
        self.key = key
        self.cols = {
            "lsn": lsn[s],
            "op": op[s],
            "url": np.char.add(
                np.char.add(np.char.add("https://site-", (key % 97).astype(str)), ".example/p/"),
                key.astype(str),
            ).astype(object)[s],
            "warc_ts": ((BASE_TS_S + lsn + rng.integers(-5, 6, n)) * 1_000_000)[s],
            "lang": lang[s],
            "content_type": ctype[s],
            "meta": [meta[i] for i in s],
            "epoch_hint": epoch[s],
        }
        self.seed, self.n_epochs = seed, n_epochs

    def page(self, row: int) -> bytes | None:
        """html payload of delivered row ``row`` (None for deletes)."""
        i = int(self.src[row])
        if self.cols["op"][row] == "D":
            return None
        k = int(self.key[i])
        page = (
            f"<html><head><title>Page {k}</title><script>var x=1;</script></head>"
            f"<body><h1>Site {k % 97}</h1><p>revision {i} &amp; content "
            f"{self._salt[i]:X} of page.</p><p>" + f"word{self._word[i]} " * self.filler
            + "</p></body></html>"
        ).encode()
        return page + b"\xff\x00\xfe" if self._non_utf8[i] else page

    def table(self, rows: np.ndarray) -> pa.Table:
        c = self.cols
        return pa.table(
            {
                "lsn": c["lsn"][rows],
                "op": c["op"][rows],
                "url": c["url"][rows],
                "warc_ts": pa.array(c["warc_ts"][rows], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
                "html": pa.array([self.page(r) for r in rows], pa.binary()),
                "lang": c["lang"][rows],
                "content_type": c["content_type"][rows],
                "meta": pa.array([c["meta"][r] for r in rows], pa.map_(pa.string(), pa.string())),
            },
            schema=EVENT_SCHEMA,
        )


def write_change_events(root: str, log: ChangeLog) -> None:
    shard = np.random.default_rng([log.seed, 2]).integers(0, FILES_PER_EPOCH, len(log.src))
    for e in range(log.n_epochs):
        d = os.path.join(root, f"epoch_hint={e}")
        os.makedirs(d)
        in_epoch = log.cols["epoch_hint"] == e
        for s in range(FILES_PER_EPOCH):
            part = log.table(np.flatnonzero(in_epoch & (shard == s)))
            # url-sorted files: storage order differs from lsn order
            part = part.sort_by([("url", "ascending")])
            pq.write_table(part, os.path.join(d, f"part-{s:05d}.parquet"), compression="snappy")


# ---------------------------------------------------------------------------
# query corpus
# ---------------------------------------------------------------------------

WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
DOC_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EPOCH_1995_S = int(np.datetime64("1995-01-01T00:00:00", "s").astype(np.int64))
DAY_S = 86_400


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype(np.int64) * 1_000_000, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def corpus_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """``scale`` 1 is the size of the shared sf0.001 test data (6k lineitem)."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part, n_ord = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    n_line, n_ev, n_doc, n_emb = 6000 * scale, 1000 * scale, 50 * scale, 50 * scale

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], dtype=object)
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "new"], dtype=object)
    noun = np.array(["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "nut"], dtype=object)
    ptype = np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], dtype=object)
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": adj[rng.integers(0, 8, n_part)] + " " + noun[rng.integers(0, 8, n_part)],
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
            "p_type": ptype[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts(EPOCH_1995_S + rng.integers(0, 2400, n_ord) * DAY_S),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(EPOCH_1995_S + rng.integers(1, 2500, n_line) * DAY_S),
        }
    )
    ev_types = np.array(["signup", "error", "click", "view", "purchase"], dtype=object)
    ev_ts = BASE_TS_S * 1_000_000 + np.sort(rng.integers(0, 30 * DAY_S * 1_000_000, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": rng.integers(0, 15 * scale, n_ev),
            "event_type": ev_types[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(DOC_LANGS, dtype=object)[rng.integers(0, len(DOC_LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_corpus(root: str, seed: int, scale: int) -> None:
    for name, t in corpus_tables(seed, scale).items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))

