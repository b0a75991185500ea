"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (numpy PCG64 / ``random``
seeded from it), writes only under the directory it is given, and
returns the ground truth the output checks use. Nothing reads the
repository's test data: the tables mimic its shapes (TPC-H-like star
schema, an ``events`` stream, ``documents`` and ``embeddings``), so
``queries()`` entries run unchanged on them.
"""

from __future__ import annotations

import gzip
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("small", "red", "blue", "hot", "old", "big", "green", "cold")
_PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()


def _ts(days_from: str, n: int, rng: np.random.Generator, days: int):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.array(_DOC_WORDS)
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 100))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # ~5% near-duplicates of earlier documents, so the dedup entries
    # find pairs to report
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the star-schema tables at scale ``sf`` (sf 1 = 6M line
    items). Every table the entry module knows is written, including
    ``documents`` and ``embeddings``: the oracle views cover them all, and
    ``oracle_sql()`` reads ``embeddings`` to build its SQL."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    builders = {
        "region": lambda: {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": lambda: {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": lambda: {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": lambda: {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": lambda: {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(_PART_ADJ), n_part),
                    rng.integers(0, len(_PART_NOUN), n_part),
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": lambda: {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_ord)
            ],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts("1995-01-01", n_ord, rng, 2404),
            "o_orderpriority": np.array(_PRIORITIES)[
                rng.integers(0, 5, n_ord)
            ],
        },
        "lineitem": lambda: {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[
                rng.integers(0, 3, n_line)
            ],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts("1995-01-02", n_line, rng, 2498),
        },
        "events": lambda: {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": (
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.cumsum(
                    rng.integers(1, int(2_592_000e6 / n_evt) * 2, n_evt)
                ).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.maximum(
                np.round(rng.exponential(50.0, n_evt), 2), 0.01
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
        "documents": lambda: _documents(rng, n_docs),
        "embeddings": lambda: _embeddings(rng, n_vecs),
    }
    for name in TABLES:  # fixed order: one rng stream feeds every table
        _write(out_dir, name, builders[name]())


def split_batches(src_dir: str, out_dir: str, table: str, n: int) -> dict:
    """Split ``table`` into ``n`` equal consecutive batches
    ``<table>-<k>.parquet``; return ``{batch name: row count}``."""
    tbl = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
    os.makedirs(out_dir, exist_ok=True)
    rows, step = {}, -(-tbl.num_rows // n)
    for k in range(n):
        part = tbl.slice(k * step, step)
        pq.write_table(part, os.path.join(out_dir, f"{table}-{k}.parquet"))
        rows[f"{table}-{k}"] = part.num_rows
    return rows


# ---------------------------------------------------------------------- #
# validate_models: planted violations                                     #
# ---------------------------------------------------------------------- #


def plant_violations(src_dir: str, out_dir: str, seed: int, n_rows: int) -> dict:
    """Copy the first ``n_rows`` rows of ``lineitem`` (a batch) with
    seeded violations; return the exact counts.

    Planted, on disjoint row sets: nulls in ``l_partkey``, out-of-enum
    ``l_returnflag`` values, out-of-bounds ``l_discount`` (> 1) and
    ``l_quantity`` (<= 0), and duplicated ``l_orderkey`` rows (the
    planted model declares it unique; the clean table is made unique
    on it first, so every duplicate counted is a planted one).
    """
    rng = np.random.default_rng(seed + 7919)
    tbl = pq.read_table(os.path.join(src_dir, "lineitem.parquet")).slice(0, n_rows)
    n = tbl.num_rows
    cols = {c: np.array(tbl.column(c).to_numpy(zero_copy_only=False)) for c in tbl.column_names}
    cols["l_orderkey"] = np.arange(n, dtype=np.int64)
    n_null, n_enum, n_disc, n_qty, n_dup = (
        int(k) for k in rng.integers(20, 200, 5)
    )
    rows = rng.permutation(n)
    take = iter(np.split(rows, np.cumsum([n_null, n_enum, n_disc, n_qty, n_dup]))[:5])
    null_rows = next(take)
    partkey = pa.array(cols["l_partkey"], mask=np.isin(np.arange(n), null_rows))
    bad_flags = np.array(["X", "Z"])
    enum_rows = next(take)
    cols["l_returnflag"] = cols["l_returnflag"].astype(object)
    cols["l_returnflag"][enum_rows] = bad_flags[rng.integers(0, 2, len(enum_rows))]
    cols["l_discount"][next(take)] = 1.5
    cols["l_quantity"][next(take)] = -1.0
    dup_rows = next(take)
    # each duplicate copies the key of a row outside every planted set
    donors = rows[-len(dup_rows):]
    cols["l_orderkey"][dup_rows] = cols["l_orderkey"][donors]
    cols["l_partkey"] = partkey
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "lineitem_planted", cols)
    return {
        "rows": n,
        "l_partkey.nulls": n_null,
        "l_returnflag.enum": sorted(
            set(cols["l_returnflag"][enum_rows].tolist())
        ),
        "l_discount.bounds": n_disc,
        "l_quantity.bounds": n_qty,
        "l_orderkey.unique": n_dup,
    }


# ---------------------------------------------------------------------- #
# crawl_to_shards: WARC segments                                          #
# ---------------------------------------------------------------------- #

_STOP = ("the", "of", "and", "to", "with", "that", "be", "have", "in", "is")
_VOCAB = (
    "river market garden winter signal engine harbor meadow lantern "
    "village ledger courier pattern mountain archive weather battery "
    "circuit canvas compass orchard station valley bridge tunnel island "
    "forest desert canyon glacier museum theater library kitchen window "
    "doorway chimney blanket pillow mirror ladder barrel basket bucket "
    "candle feather marble copper silver golden wooden narrow gentle "
    "bright silent rapid hollow steady distant ancient modern simple "
    "careful curious patient honest eager quiet cheerful clever brave "
    "traveler farmer teacher painter sailor builder writer reader "
    "student keeper driver singer dancer worker player"
).split()
_DOMAINS = ("web", "news", "forum")
SCRIPT_MARK, STYLE_MARK, NOTFOUND_MARK = (
    "zqscriptmark", "zqstylemark", "zqnotfoundmark",
)


def _sentence(r: random.Random) -> str:
    words = [
        r.choice(_STOP) if r.random() < 0.35 else r.choice(_VOCAB)
        for _ in range(r.randint(8, 16))
    ]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(r: random.Random) -> str:
    return " ".join(_sentence(r) for _ in range(r.randint(3, 6)))


def _page(paragraphs, footer: str, title: str, k: int) -> str:
    body = "".join(f"<p>{p}</p>\n" for p in paragraphs)
    return (
        f"<html><head><title>{title}</title>"
        f"<style>.{STYLE_MARK}{k} {{ color: red }}</style>"
        f"<script>var {SCRIPT_MARK}{k} = 1; console.log('{SCRIPT_MARK}');</script>"
        f"</head><body><div class=\"nav\">Home Archive About</div>\n"
        f"{body}<footer><p>{footer}</p></footer></body></html>"
    )


def _record(uri: str, status: int, html: str, idx: int) -> bytes:
    body = html.encode("utf-8")
    reason = b"OK" if status == 200 else b"Not Found"
    http = (
        b"HTTP/1.1 %d %s\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: %d\r\n\r\n" % (status, reason, len(body))
    ) + body
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{idx:012d}>\r\n"
        f"WARC-Target-URI: {uri}\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii")
    return gzip.compress(head + http + b"\r\n\r\n", compresslevel=1, mtime=0)


def write_warc_segments(out_dir: str, seed: int, n_pages: int, n_files: int) -> dict:
    """Write ``n_files`` ``.warc.gz`` segments holding ``n_pages`` response
    records; return the planted ground truth.

    Planted: a footer shared by every page of a site (boilerplate), and
    5% each of 404 responses, exact mirrors (the same HTML under another
    URL), near mirrors (3% of words changed) and pages with a copied
    60-word span. Every page
    carries ``<script>``/``<style>`` bodies with marker words that must
    never reach the output.
    """
    r = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    sites = [(f"site{j}.{_DOMAINS[j % 3]}.example", _paragraph(r)) for j in range(40)]
    pages: list[tuple[str, int, str]] = []  # (uri, status, html)
    htmls: dict[str, str] = {}
    originals: list[tuple[str, list]] = []
    truth = {"n_pages": n_pages, "not_found": [], "exact_mirrors": []}
    for i in range(n_pages):
        host, footer = sites[r.randrange(len(sites))]
        uri = f"http://{host}/page/{i}"
        # fixed shares, so every seed plants the same counts: 5% each of
        # 404s, exact mirrors, near mirrors and pages with a copied span;
        # mirrors copy fresh pages only (near-dup clusters are stars)
        role = i % 20 if i >= 20 else 4
        if role == 0:
            html = f"<html><body><p>Not found {NOTFOUND_MARK} {i}.</p></body></html>"
            pages.append((uri, 404, html))
            truth["not_found"].append(uri)
            continue
        src_uri, src_paras = originals[r.randrange(len(originals))] if originals else (None, [])
        if role == 1:
            pages.append((uri, 200, htmls[src_uri]))
            truth["exact_mirrors"].append([src_uri, uri])
            continue
        if role == 2:
            paras = [
                " ".join(
                    r.choice(_VOCAB) if r.random() < 0.03 else w
                    for w in p.split(" ")
                )
                for p in src_paras
            ]
        else:
            paras = [_paragraph(r) for _ in range(r.randint(3, 8))]
            if role == 3:
                words = " ".join(src_paras).split(" ")
                start = r.randrange(max(1, len(words) - 60))
                paras.insert(1, " ".join(words[start:start + 60]))
            originals.append((uri, paras))
        htmls[uri] = _page(paras, footer, f"Page {i}", i)
        pages.append((uri, 200, htmls[uri]))
    per_file = -(-len(pages) // n_files)
    for f in range(n_files):
        chunk = pages[f * per_file:(f + 1) * per_file]
        with open(os.path.join(out_dir, f"segment-{f:03d}.warc.gz"), "wb") as fh:
            for k, (uri, status, html) in enumerate(chunk):
                fh.write(_record(uri, status, html, f * per_file + k))
    truth["bytes"] = sum(
        os.path.getsize(os.path.join(out_dir, n)) for n in os.listdir(out_dir)
    )
    return truth
