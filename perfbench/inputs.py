"""Seeded workload inputs, their single-node goldens, and the digests that pin
both.

``crawl_mix`` draws its pages from the program's own generator
(``fixtures.gen_corpus``, FIXTURES.md section 1). ``curation_queries`` draws
its tables from ``curation_tables`` below, shaped like the sf testdata star
schema of TESTDATA.md and FIXTURES.md section 4 (same columns, types and
value ranges) so the query plans see the layout they were written for: one
parquet file with one row group per table. The benchmark reads nothing
outside its checkout, so it generates these tables instead of reading them.

Every input is a pure function of (workload, seed). ``pages_digest`` and
``tables_digest`` hash what the program reads, ``golden_digest`` what it must
write; ``digests.json`` holds them for seeds 0-63, so a change to the
generator or to the kernel's output cannot pass unnoticed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "digests.json")

#: documents per extraction job; sized so one committed job is a few seconds
#: at 4 cores and a run holds several jobs (BENCHMARK.json run_seconds)
EXTRACTION_DOCS = 4000
#: the small slice every set-up extracts (worker spawn + engine import)
WARM_DOCS = 200
#: first index of the warm-up slice: disjoint from the timed input's rows
WARM_OFFSET = 1_000_000

#: fields of one output row that must equal the single-node golden
GOLDEN_FIELDS = ("mime", "status", "error_code", "extracted_text", "spans")


# ---------------------------------------------------------------------------
# extraction workloads: pages + goldens
# ---------------------------------------------------------------------------


def golden_row(url: str, r: dict) -> dict:
    return {
        "url": url,
        "mime": r["mime"],
        "status": r["status"],
        "error_code": r["error_code"],
        "extracted_text": r["extracted_text"],
        "spans": [(int(s), int(e), k) for s, e, k in r["spans"]],
    }


def _page_chunk(args: tuple) -> tuple[list[dict], list[dict]]:
    """Pool worker: pages rows and their goldens for the given indices. The
    golden call is the one ``gen_corpus.generate_goldens`` makes."""
    seed, idx = args
    from activestorage_ocr_spark.engine.extract import extract_document
    from activestorage_ocr_spark.fixtures.gen_corpus import TEST_MAX_BYTES, make_row, row_lang

    pages, goldens = [], []
    for i in idx:
        row = make_row(seed, i, TEST_MAX_BYTES)
        pages.append(row)
        r = extract_document(
            row["html"], engine="pixelocr", preset="minimal",
            max_bytes=TEST_MAX_BYTES, languages=row_lang(seed, i),
        )
        goldens.append(golden_row(row["url"], r))
    return pages, goldens


def make_pages(seed: int, n: int, workers: int) -> tuple[pa.Table, list[dict]]:
    """Rows 0..n-1 of the FIXTURES mix and their goldens, over a process pool."""
    from activestorage_ocr_spark.fixtures.gen_corpus import PAGES_SCHEMA

    idx = list(range(n))
    step = max(50, (len(idx) + 4 * workers - 1) // (4 * workers))
    chunks = [(seed, idx[k : k + step]) for k in range(0, len(idx), step)]
    pages: list[dict] = []
    goldens: list[dict] = []
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("spawn")) as p:
        for pg, gd in p.map(_page_chunk, chunks):
            pages.extend(pg)
            goldens.extend(gd)
    return pa.Table.from_pylist(pages, schema=PAGES_SCHEMA), goldens


def write_pages(table: pa.Table, path: str) -> None:
    """The layout ``gen_corpus.ensure_corpus`` writes: a directory of zstd
    part files, one per 1000 rows, with 256-row row groups."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n_files = max(1, min(64, table.num_rows // 1000))
    step = (table.num_rows + n_files - 1) // n_files
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(
                part, os.path.join(path, f"part-{k:05d}.parquet"),
                compression="zstd", row_group_size=256,
            )


def column_bytes(path: str, columns: tuple[str, ...]) -> int:
    """On-disk (compressed) bytes of ``columns`` across a parquet directory:
    what a scan pruned to those columns reads."""
    total = 0
    for f in sorted(os.listdir(path)):
        meta = pq.ParquetFile(os.path.join(path, f)).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                col = group.column(c)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total


def pages_digest(table: pa.Table) -> str:
    """sha256 of the columns the extraction job reads, in row order (the
    ``text`` column is a golden prefix, so it is pinned by the golden digest)."""
    h = hashlib.sha256()
    cols = [table.column(c).to_pylist() for c in ("url", "warc_ts", "html", "lang")]
    for url, ts, html, lang in zip(*cols):
        for v in (url, ts.isoformat(), lang):
            h.update(str(v).encode())
            h.update(b"\x00")
        h.update(html or b"")
        h.update(b"\x01")
    return h.hexdigest()


def golden_digest(goldens: list[dict]) -> str:
    h = hashlib.sha256()
    for g in sorted(goldens, key=lambda g: g["url"]):
        h.update(json.dumps([g["url"]] + [g[f] for f in GOLDEN_FIELDS]).encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# curation_queries: the star-schema tables the 17 queries read
# ---------------------------------------------------------------------------

#: rows per table (about sf0.01, with the text tables widened so the
#: curation operators carry weight)
TABLE_ROWS = {
    "documents": 1000,
    "embeddings": 500,
    "events": 10000,
    "lineitem": 60000,
    "orders": 15000,
    "customer": 1500,
    "nation": 25,
}

_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base.replace(tzinfo=None), "us") + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def curation_tables(seed: int) -> dict[str, pa.Table]:
    # SeedSequence takes non-negative entropy; identity for seeds >= 0
    rng = np.random.default_rng([seed % 2**63, 0xC0FFEE])
    n = TABLE_ROWS
    out: dict[str, pa.Table] = {}

    # documents: random-word texts; ~5% repeat an earlier doc plus " dup"
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_DOC_WORDS, size=k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n["documents"])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: unit vectors, 64 dims, 10 labels
    vecs = rng.normal(size=(n["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })

    # events: increasing timestamps over 30 days, 150 users
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[int(j)] for j in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {int(j)}}}' for j in rng.integers(0, 100, ne)],
    })

    # TPC-H-ish star: nation -> customer -> orders -> lineitem
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[int(j)] for j in rng.integers(0, 5, nc)],
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[int(j)] for j in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, no).astype(float) * 86400),
        "o_orderpriority": [_PRIORITIES[int(j)] for j in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[int(j)] for j in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[int(j)] for j in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, nl).astype(float) * 86400),
    })
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=1 << 20)


def tables_digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(name.encode())
        h.update(str(t.schema).encode())
        for col in t.columns:
            h.update(json.dumps(col.to_pylist(), default=str).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# committed digests
# ---------------------------------------------------------------------------


def load_digests() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def expected_digest(workload: str, seed: int, kind: str) -> str | None:
    """The committed ``kind`` ('input' or 'golden') digest, or None for a
    seed outside the committed range."""
    return load_digests().get(workload, {}).get(str(seed), {}).get(kind)
