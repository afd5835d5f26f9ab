"""The extraction pipeline operator — the Spark mapping of the reference's
whole request path (SURVEY.md §3.1 "Spark equivalent"):

    scan (url, warc_ts, html, lang)
      -> mapInArrow(pass-1 kernel)      extract small rows, defer giants
      -> hash exchange on url           spreads the deferred giant tail
      -> mapInArrow(finish kernel)      extract giants, forward the rest
      -> ok/quarantine split, lineage manifest, sinks

Both kernels build their rows in one place (`_extract_rows`), the only caller
of `engine.extract.extract_document` here.

Physical-plan posture (SURVEY.md §4.2): one scan and exactly one shuffle (the
url-hash exchange; ``skew_handling="off"`` drops it and maps directly over
scan partitions); Catalyst prunes the scan to the four needed columns because
the kernel is declared over an explicit projection.

Skew handling: a 50 MB page next to 2 KB pages makes task runtimes bimodal and
can blow Python-worker memory when many giants land in one Arrow batch. Pass 1
defers rows above ``giant_bytes`` so the exchange can spread them over many
tasks; inside both kernels, incoming Arrow batches are re-sliced to a byte
budget (zero-copy) before extraction.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

#: Output columns of the extraction kernels — the one declaration of the
#: output schema. Timing fields are excluded from byte-identity comparison
#: (FIXTURES.md §2).
_OUTPUT_FIELDS = [
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("lang", pa.string()),
    pa.field("mime", pa.string()),
    pa.field("extracted_text", pa.string()),
    pa.field("confidence", pa.float64()),
    pa.field("engine", pa.string()),
    pa.field("status", pa.string()),
    pa.field("error_code", pa.string()),
    pa.field("warnings", pa.list_(pa.string())),
    pa.field(
        "spans",
        pa.list_(
            pa.struct(
                [
                    pa.field("start", pa.int64()),
                    pa.field("end", pa.int64()),
                    pa.field("kind", pa.string()),
                ]
            )
        ),
    ),
    pa.field("n_bytes", pa.int64()),
    pa.field("chars_out", pa.int64()),
    pa.field("processing_time_ms", pa.int64()),
    pa.field("preset", pa.string()),
    pa.field(
        "step_timings",
        pa.list_(pa.struct([pa.field("name", pa.string()), pa.field("time_ms", pa.int64())])),
    ),
    pa.field("partition_id", pa.int32()),
]
_OUTPUT_NAMES = [f.name for f in _OUTPUT_FIELDS]


def _arrow_output_schema(with_deferred: bool = False) -> pa.Schema:
    if with_deferred:
        return pa.schema(_OUTPUT_FIELDS + [pa.field("deferred_html", pa.binary())])
    return pa.schema(_OUTPUT_FIELDS)


#: Output schema of the extraction pipeline (Spark form of _OUTPUT_FIELDS).
EXTRACTED_SCHEMA = from_arrow_schema(_arrow_output_schema())

OK_STATUSES = ("ok", "empty")

#: Pass-1 output of single-scan skew routing: EXTRACTED_SCHEMA plus the raw
#: payload of rows deferred to pass 2 (null for finished rows).
DEFERRED_SCHEMA = from_arrow_schema(_arrow_output_schema(with_deferred=True))

#: kernel re-slices incoming Arrow batches so one slice never exceeds this
#: many payload bytes (giant-page memory guard; SURVEY.md §7.3).
KERNEL_SLICE_BYTES = 64 * 1024 * 1024

_PYFILES_SESSIONS: set[int] = set()

#: ISO-639-1 -> tesseract-style codes, so a crawl's 2-letter lang column
#: maps onto the engine's language packs.
_ISO_LANG = {
    "en": "eng", "de": "deu", "fr": "fra", "es": "spa", "it": "ita",
    "pt": "por", "nl": "nld", "ja": "jpn", "zh": "chi_sim", "ko": "kor",
    "ar": "ara", "ru": "rus",
}


def _lang_request(lang: str | None) -> str | None:
    """Map a crawl's lang ANNOTATION onto a language request. Unlike the
    explicit `languages=` API parameter (strictly validated, INVALID_REQUEST
    on junk), an unknown annotation ('und', mis-tagged rows) falls back to
    the job default — a metadata column must never quarantine a document."""
    if not lang:
        return None
    from ..engine.rasters import SUPPORTED_LANGUAGES

    mapped = _ISO_LANG.get(lang.lower(), lang)
    return mapped if mapped in SUPPORTED_LANGUAGES else None


def ensure_workers_can_import(spark) -> None:
    """Ship the package zip to Python workers via ``addPyFile`` (idempotent
    per session). Kernels are unpickled *by import* in the workers, so the
    package must be importable there even when the driver session was built
    by an external harness from an arbitrary cwd. On clusters this is the
    ``--py-files`` zip; locally we build and add it on demand."""
    key = id(spark.sparkContext)
    if key in _PYFILES_SESSIONS:
        return
    try:
        import sys

        sys.path.insert(0, _repo_root()) if _repo_root() not in sys.path else None
        from jobs.package import build  # noqa: PLC0415

        spark.sparkContext.addPyFile(build())
    except Exception:
        # best effort — PYTHONPATH (sources/session.py) usually covers it
        pass
    _PYFILES_SESSIONS.add(key)


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _deferred_result(engine: str, preset: str) -> dict[str, Any]:
    """A pass-1 placeholder in `extract_document`'s result shape for a row
    left to pass 2."""
    return {
        "mime": None, "extracted_text": None, "confidence": None,
        "engine": engine, "status": "deferred", "error_code": None,
        "warnings": [], "spans": [], "processing_time_ms": 0,
        "preset": preset, "step_timings": [],
    }


def _extract_rows(
    sub: pa.RecordBatch,
    target: pa.Schema,
    payload_col: str,
    pid: int,
    *,
    engine: str,
    preset: str | None,
    max_bytes: int,
    default_language: str | None,
    forced_languages: str | None,
    timeout_ms: int | None,
    defer_over: int | None = None,
) -> pa.RecordBatch:
    """Extract every row of ``sub`` and build the output batch against
    ``target`` — the one place both passes turn `extract_document` results
    into output columns. A ``preset`` input column overrides ``preset`` per
    row (P5, `rust/src/server.rs:201-213`). Payloads larger than
    ``defer_over`` are not extracted: they get a ``status='deferred'`` row
    carrying the raw payload in ``deferred_html`` for pass 2."""
    from ..engine.extract import extract_document

    payloads = sub.column(payload_col).to_pylist()
    langs = sub.column("lang").to_pylist()
    if "preset" in sub.schema.names:
        presets = [p or preset for p in sub.column("preset").to_pylist()]
    else:
        presets = [preset] * sub.num_rows
    deferred = [
        defer_over is not None and p is not None and len(p) > defer_over for p in payloads
    ]
    results = [
        _deferred_result(engine, row_preset)
        if d
        else extract_document(
            payload, engine=engine, preset=row_preset, max_bytes=max_bytes,
            languages=forced_languages or _lang_request(lg) or default_language,
            timeout_ms=timeout_ms,
        )
        for lg, payload, row_preset, d in zip(langs, payloads, presets, deferred)
    ]
    cols: dict[str, Any] = {
        "url": sub.column("url"),
        "warc_ts": sub.column("warc_ts"),
        "lang": sub.column("lang"),
        "spans": [
            [{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]] for r in results
        ],
        "n_bytes": [len(p) if p is not None else 0 for p in payloads],
        "chars_out": [len(r["extracted_text"] or "") for r in results],
        "step_timings": [
            [{"name": n, "time_ms": t} for n, t in r["step_timings"]] for r in results
        ],
        "partition_id": [pid] * sub.num_rows,
        "deferred_html": [p if d else None for p, d in zip(payloads, deferred)],
    }
    arrays = []
    for f in target:
        col = cols[f.name] if f.name in cols else [r[f.name] for r in results]
        arrays.append(
            col.cast(f.type) if isinstance(col, pa.Array) else pa.array(col, type=f.type)
        )
    return pa.RecordBatch.from_arrays(arrays, schema=target)


def _partition_id() -> int:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else -1


def make_extract_kernel(
    engine: str,
    preset: str,
    max_bytes: int,
    defer_over: int | None = None,
    default_language: str | None = None,
    forced_languages: str | None = None,
    timeout_ms: int | None = None,
):
    """Build the pass-1 mapInArrow kernel. All per-document work happens in
    `engine.extract.extract_document` — the same function the golden oracle
    runs, so byte-identity is structural (SURVEY.md §7.3). The heavy imports
    happen once per Python worker at first batch (model-warm-once analog,
    `rust/src/engines/ocrs.rs:30-62`).

    With ``defer_over`` set, payloads larger than that many bytes are NOT
    extracted here: the row is emitted with ``status='deferred'`` and the raw
    payload in a ``deferred_html`` column, to be finished by
    `make_finish_kernel` after a redistribution exchange (single-scan skew
    routing — see `extract_pages`)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out_schema = _arrow_output_schema(with_deferred=defer_over is not None)
        pid = _partition_id()
        for batch in batches:
            for sub in _slice_by_bytes(batch, KERNEL_SLICE_BYTES):
                yield _extract_rows(
                    sub, out_schema, "html", pid, engine=engine, preset=preset,
                    max_bytes=max_bytes, default_language=default_language,
                    forced_languages=forced_languages, timeout_ms=timeout_ms,
                    defer_over=defer_over,
                )

    return kernel


def make_finish_kernel(
    engine: str,
    max_bytes: int,
    default_language: str | None = None,
    forced_languages: str | None = None,
    timeout_ms: int | None = None,
):
    """Pass 2 of single-scan skew routing: finish rows deferred by
    `make_extract_kernel(defer_over=...)` after the redistribution exchange.

    Finished rows (``deferred_html`` null) pass through as zero-copy Arrow
    slices — no per-row Python touches them. Deferred rows run the same
    `_extract_rows` on their raw payload, with the per-row ``preset``
    resolved in pass 1."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        pid = _partition_id()
        for batch in batches:
            for sub in _slice_by_bytes(batch, KERNEL_SLICE_BYTES, payload_col="deferred_html"):
                mask = pc.is_valid(sub.column("deferred_html"))
                if not pc.any(mask).as_py():
                    yield sub.select(_OUTPUT_NAMES)
                    continue
                finished = sub.filter(pc.invert(mask))
                if finished.num_rows:
                    yield finished.select(_OUTPUT_NAMES)
                deferred = sub.filter(mask)
                # mirror the incoming Arrow types exactly (they round-tripped
                # through Spark's shuffle) so all yielded batches agree
                yield _extract_rows(
                    deferred, deferred.select(_OUTPUT_NAMES).schema, "deferred_html", pid,
                    engine=engine, preset=None, max_bytes=max_bytes,
                    default_language=default_language,
                    forced_languages=forced_languages, timeout_ms=timeout_ms,
                )

    return kernel


def _slice_by_bytes(
    batch: pa.RecordBatch, budget: int, payload_col: str = "html"
) -> Iterator[pa.RecordBatch]:
    """Zero-copy re-slice of an Arrow batch so each slice's payload bytes stay
    under ``budget`` (giant-page guard). Null payloads cost zero budget."""
    if batch.num_rows == 0:
        return
    col = batch.column(batch.schema.get_field_index(payload_col))
    try:
        import pyarrow.compute as pc

        sizes = pc.binary_length(col).fill_null(0).to_numpy(zero_copy_only=False).astype("int64")
    except Exception:
        yield batch
        return
    start = 0
    acc = 0
    for i in range(batch.num_rows):
        acc += int(sizes[i])
        if acc > budget and i > start:
            yield batch.slice(start, i - start)
            start = i
            acc = int(sizes[i])
    if start < batch.num_rows:
        yield batch.slice(start, batch.num_rows - start)


#: documents larger than this take the shuffled giant path (~p99 of a
#: Common-Crawl-style size distribution at our synthetic scale).
GIANT_BYTES = 64 * 1024


def extract_pages(
    df: DataFrame,
    *,
    engine: str | None = None,
    preset: str | None = None,
    max_bytes: int | None = None,
    default_language: str | None = None,
    languages: str | None = None,
    repartition: int | None = None,
    skew_handling: str = "giants",
    giant_bytes: int = GIANT_BYTES,
    doc_timeout_ms: int | None = None,
) -> DataFrame:
    """Run the extraction pipeline over a pages DataFrame.

    Input: (url, warc_ts, html, lang, ...). Output: EXTRACTED_SCHEMA. The
    explicit ``select`` keeps the scan pruned to 4 columns regardless of the
    input table's width.

    ``skew_handling``:

    * ``"giants"`` (default) — SINGLE-SCAN skew routing. Pass 1 maps the
      extraction kernel directly over scan partitions but *defers* rows above
      ``giant_bytes``: they pass through untouched with their raw payload in
      a side column. One hash exchange on ``url`` then spreads the deferred
      giants uniformly across the cluster (finished rows ride along as
      extracted text, not raw html), and pass 2 finishes the giants while
      zero-copy forwarding everything else. The table is read ONCE and the
      exchange carries extracted text (~10-20% of input) plus the ~1-2%
      giant tail. No task accumulates many giants; in-kernel Arrow batch
      re-slicing (KERNEL_SLICE_BYTES) guards worker memory in both passes.
    * ``"off"`` — map directly over scan partitions (no exchange; streaming
      and the fixture-backed queries use it).

    Exchange width: when ``repartition`` is not pinned, the hash exchange
    carries no explicit count — AQE sizes it to the data (coalescing tiny
    partitions, splitting skewed ones); per-document cost varies ~50x
    between payload kinds, so adaptive sizing beats any fixed multiple.

    If the input carries a ``preset`` column it overrides the job-level
    preset per row (P5, the reference's per-request ``?preprocess=`` query
    parameter).

    ``languages`` is the job-level FORCED request ('eng+deu', the
    reference's per-request multipart field applied to the whole batch,
    e.g. a language-targeted reprocessing run): when set, it is validated
    once on the driver and used for every row, overriding the per-row
    crawl ``lang`` annotation; when None, each row's annotation maps to a
    request and unknown annotations fall back to ``default_language``.
    """
    if skew_handling not in ("giants", "off"):
        raise ValueError(f"unknown skew_handling mode: {skew_handling!r}")
    ensure_workers_can_import(df.sparkSession)
    # unset knobs resolve from env config ON THE DRIVER (configuration.rb /
    # main.rs clap-env analog, engine/config.py). Env is only read — and
    # only validated — when at least one knob was actually left unset:
    # explicit arguments must not be vetoed by a stale ASOS_OCR_* variable.
    if (
        engine is None or preset is None or max_bytes is None
        or default_language is None or doc_timeout_ms is None
    ):
        from ..engine.config import EngineConfig

        cfg = EngineConfig.from_env()
        engine = cfg.engine if engine is None else engine
        preset = cfg.preset if preset is None else preset
        max_bytes = cfg.max_bytes if max_bytes is None else max_bytes
        default_language = cfg.default_language if default_language is None else default_language
        # per-document wall budget (the reference's 30 s request timeout):
        # overruns quarantine with the stable TIMEOUT code instead of
        # straggling a task; 0 disables
        doc_timeout_ms = cfg.doc_timeout_ms if doc_timeout_ms is None else doc_timeout_ms
    if languages is not None:
        # fail fast on the driver — a bad forced request must not
        # quarantine an entire run row-by-row
        from ..engine.extract import _parse_languages

        _, err = _parse_languages(languages, engine)
        if err is not None:
            raise ValueError(err)
    cols = ["url", "warc_ts", "html", "lang"]
    if "preset" in df.columns:
        cols.append("preset")
    proj = df.select(*cols)
    opts = dict(
        default_language=default_language, forced_languages=languages,
        timeout_ms=doc_timeout_ms,
    )
    if skew_handling == "off":
        kernel = make_extract_kernel(engine, preset, max_bytes, **opts)
        return proj.mapInArrow(kernel, EXTRACTED_SCHEMA)

    # single scan: pass 1 extracts the small rows and defers giants (raw
    # payload in deferred_html); one url-hash exchange spreads the giant
    # tail; pass 2 finishes giants and zero-copy-forwards the rest. The
    # giant/normal decision is made per row inside the kernel, so NULL
    # payloads never hit three-valued filter logic.
    #
    # r7 note (guide §4.1): two split alternatives were measured at sf1.0
    # and REJECTED — (a) filtering the exchange output into a JVM-only
    # finished branch + a Python giants branch runs pass 1 twice
    # (ReuseExchange does not fire across the deduplicated self-union:
    # 9.0s -> 18.2s), and (b) persisting pass 1 and shuffling only the
    # giants pays more to build/read the columnar cache of the wide output
    # than the forwarding it saves (9.0s -> 11.1s). The zero-copy
    # batch-level forward inside the finish kernel remains the cheapest
    # realization of "finished rows ride along".
    pass1 = proj.mapInArrow(
        make_extract_kernel(engine, preset, max_bytes, defer_over=giant_bytes, **opts),
        DEFERRED_SCHEMA,
    )
    # explicit width when the caller pinned one; otherwise hash-repartition
    # WITHOUT a count so AQE sizes the exchange to the data (parallelism*4
    # fixed widths measured ~1s of pure scheduling overhead on small inputs,
    # and AQE splits skewed partitions at scale anyway)
    if repartition:
        redistributed = pass1.repartition(repartition, F.col("url"))
    else:
        redistributed = pass1.repartition(F.col("url"))
    finish = make_finish_kernel(engine, max_bytes, **opts)
    return redistributed.mapInArrow(finish, EXTRACTED_SCHEMA)


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P7/O7: ok+empty rows -> main stream; error rows -> quarantine side
    table (every input row is accounted for in exactly one of the two)."""
    ok = extracted.filter(F.col("status").isin(*OK_STATUSES))
    quarantined = extracted.filter(~F.col("status").isin(*OK_STATUSES))
    return ok, quarantined
