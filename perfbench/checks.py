"""Correctness gates: committed extraction output against the single-node
goldens, and query results against their DuckDB oracles."""

from __future__ import annotations

import math
import os
import sys

import pyarrow.dataset as ds

from inputs import GOLDEN_FIELDS

OK_STATUSES = ("ok", "empty")


def check_extraction_output(out_dir: str, goldens: dict[str, dict]) -> int:
    """Failed documents of one committed job: every input url must appear
    exactly once across outcome=extracted and outcome=quarantine, under the
    outcome its status implies, with the golden's fields. A url failing
    several checks counts once; a url that is not an input counts too."""
    data = ds.dataset(os.path.join(out_dir, "data"), format="parquet", partitioning="hive")
    cols = ["url", "outcome"] + list(GOLDEN_FIELDS)
    rows = data.to_table(columns=cols).to_pylist()
    seen: dict[str, int] = {}
    bad: set[str] = set()
    for r in rows:
        url = r["url"]
        seen[url] = seen.get(url, 0) + 1
        g = goldens.get(url)
        if g is None:
            bad.add(url)
            continue
        want_outcome = "extracted" if r["status"] in OK_STATUSES else "quarantine"
        spans = [(s["start"], s["end"], s["kind"]) for s in (r["spans"] or [])]
        if (
            r["outcome"] != want_outcome
            or spans != g["spans"]
            or any(r[f] != g[f] for f in GOLDEN_FIELDS if f != "spans")
        ):
            bad.add(url)
    bad.update(u for u, c in seen.items() if c != 1)
    bad.update(u for u in goldens if u not in seen)
    if bad:
        print(f"# {len(bad)} failed docs in {out_dir}, e.g. {sorted(bad)[:3]}", file=sys.stderr)
    return len(bad)


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if v is None:
        return "NULL"
    return str(v)


def normalize(rows, colnames) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name and doubles printed
    to 9 significant digits (the parity suite's comparison)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def oracle_results(sf_dir: str, names: list[str], threads: int) -> dict[str, tuple]:
    import duckdb

    from activestorage_ocr_spark.plans.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(f"SET temp_directory = '{os.path.join(sf_dir, '.duckdb_tmp')}'")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
        out = {}
        for name in names:
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            out[name] = (sorted(cols), normalize(res.fetchall(), cols))
        return out
    finally:
        con.close()


def matches_oracle(name: str, cols: list[str], rows: list, oracle: tuple) -> bool:
    got = (sorted(cols), normalize([tuple(r) for r in rows], cols))
    if got != oracle:
        print(f"# query {name} differs from its oracle "
              f"({len(got[1])} rows vs {len(oracle[1])})", file=sys.stderr)
        return False
    return True
