"""Per-layer probes for the traced run. Each probe calls the program's public
functions and is timed from outside; nothing in the program is edited."""

from __future__ import annotations

import time
from contextlib import contextmanager

import pyarrow.parquet as pq


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# sources.pages and operators.extraction, split by differential probes over
# the same 4-column scan
# ---------------------------------------------------------------------------


def _identity(batches):
    yield from batches


#: the projection extract_pages declares (the scan is pruned to it)
SCAN_COLUMNS = ("url", "warc_ts", "html", "lang")


def scan(spark, pages_path: str):
    from activestorage_ocr_spark.sources.pages import read_pages_tuned

    return read_pages_tuned(spark, pages_path).select(*SCAN_COLUMNS)


def arrow_probe(spark, pages_path: str) -> None:
    """The scan through an identity mapInArrow: the JVM<->Python Arrow trip
    with no kernel."""
    proj = scan(spark, pages_path)
    noop(proj.mapInArrow(_identity, proj.schema))


def pass1_probe(spark, pages_path: str, max_bytes: int) -> None:
    from activestorage_ocr_spark.engine.config import EngineConfig
    from activestorage_ocr_spark.operators.extraction import (
        DEFERRED_SCHEMA,
        GIANT_BYTES,
        make_extract_kernel,
    )

    cfg = EngineConfig.from_env()
    kernel = make_extract_kernel(
        cfg.engine, cfg.preset, max_bytes, defer_over=GIANT_BYTES,
        default_language=cfg.default_language, timeout_ms=cfg.doc_timeout_ms,
    )
    noop(scan(spark, pages_path).mapInArrow(kernel, DEFERRED_SCHEMA))


def total_probe(spark, pages_path: str, max_bytes: int) -> None:
    from activestorage_ocr_spark.operators.extraction import extract_pages
    from activestorage_ocr_spark.sources.pages import read_pages_tuned

    noop(extract_pages(read_pages_tuned(spark, pages_path), max_bytes=max_bytes))


# ---------------------------------------------------------------------------
# engine: one process, no Spark
# ---------------------------------------------------------------------------

#: stage name -> (module path, attribute) of the call extract_document makes
ENGINE_STAGES = {
    "sniff": ("activestorage_ocr_spark.engine.mime", "sniff_mime"),
    "htmlx": ("activestorage_ocr_spark.engine.htmlx", "extract_main_content"),
    "pdfx": ("activestorage_ocr_spark.engine.pdfx", "extract_pdf"),
    "decode": ("activestorage_ocr_spark.engine.rasters", "decode_image"),
    "preprocess": ("activestorage_ocr_spark.engine.extract", "run_pipeline"),
    "ocr": ("activestorage_ocr_spark.engine.rasters", "ocr_decode_image"),
    "confidence": ("activestorage_ocr_spark.engine.extract", "calculate_confidence"),
}


@contextmanager
def stage_timers():
    """Wrap each engine stage call for the duration of the block; yields the
    seconds spent per stage. Only the outermost timed call counts, so a
    stage that calls another is not counted twice (pdfx includes its OCR
    fallback)."""
    import importlib

    totals = {name: 0.0 for name in ENGINE_STAGES}
    depth = [0]
    saved = []

    def wrap(name, fn):
        def timed(*a, **k):
            if depth[0]:
                return fn(*a, **k)
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                totals[name] += time.perf_counter() - t0
                depth[0] -= 1

        return timed

    for name, (mod_path, attr) in ENGINE_STAGES.items():
        mod = importlib.import_module(mod_path)
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))
        setattr(mod, attr, wrap(name, fn))
    try:
        yield totals
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _mime_class(mime: str) -> str | None:
    if mime == "text/html":
        return "html"
    if mime == "application/pdf":
        return "pdf"
    if mime.startswith("image/"):
        return "image"
    return None


def engine_profile(pages_path: str, goldens: dict[str, dict], max_bytes: int) -> dict[str, float]:
    """One plain pass for throughput and per-mime latency, then one pass with
    stage timers (the wrappers cost a little, so they stay out of the first)."""
    from activestorage_ocr_spark.engine.config import EngineConfig
    from activestorage_ocr_spark.engine.extract import extract_document

    cfg = EngineConfig.from_env()
    t = pq.read_table(pages_path, columns=["url", "html", "lang"])
    docs = list(zip(t.column("url").to_pylist(), t.column("html").to_pylist(), t.column("lang").to_pylist()))

    def run_all(per_doc: dict | None) -> float:
        from activestorage_ocr_spark.operators.extraction import _lang_request

        t0 = time.perf_counter()
        for url, html, lang in docs:
            d0 = time.perf_counter()
            extract_document(
                html, engine=cfg.engine, preset=cfg.preset, max_bytes=max_bytes,
                languages=_lang_request(lang) or cfg.default_language,
                timeout_ms=cfg.doc_timeout_ms,
            )
            if per_doc is not None:
                cls = _mime_class(goldens[url]["mime"])
                if cls:
                    per_doc.setdefault(cls, []).append(time.perf_counter() - d0)
        return time.perf_counter() - t0

    per_doc: dict[str, list[float]] = {}
    wall = run_all(per_doc)
    with stage_timers() as stages:
        run_all(None)
    out = {"engine.docs_per_s_1core": len(docs) / wall}
    for cls in ("html", "pdf", "image"):
        xs = per_doc.get(cls, [])
        out[f"engine.{cls}_ms"] = 1000.0 * sum(xs) / len(xs) if xs else 0.0
    out.update({f"engine.{k}_s": v for k, v in stages.items()})
    return out


# ---------------------------------------------------------------------------
# zero-framework ceiling: a process pool over the same payloads
# ---------------------------------------------------------------------------

_PAYLOADS: list = []


def _load_payloads(pages_path: str) -> None:
    global _PAYLOADS
    t = pq.read_table(pages_path, columns=["html", "lang"])
    _PAYLOADS = list(zip(t.column("html").to_pylist(), t.column("lang").to_pylist()))


def _extract_range(args: tuple) -> int:
    lo, hi, max_bytes = args
    from activestorage_ocr_spark.engine.config import EngineConfig
    from activestorage_ocr_spark.engine.extract import extract_document
    from activestorage_ocr_spark.operators.extraction import _lang_request

    cfg = EngineConfig.from_env()
    for html, lang in _PAYLOADS[lo:hi]:
        extract_document(
            html, engine=cfg.engine, preset=cfg.preset, max_bytes=max_bytes,
            languages=_lang_request(lang) or cfg.default_language,
            timeout_ms=cfg.doc_timeout_ms,
        )
    return hi - lo


def ceiling_docs_per_s(pages_path: str, n_docs: int, workers: int, max_bytes: int) -> float:
    """Docs/s of ``workers`` processes that hold the payloads in memory and
    run extract_document over 100-doc chunks. Pool start-up, imports and
    payload loading happen before the clock starts."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    jobs = [(lo, min(lo + 100, n_docs), max_bytes) for lo in range(0, n_docs, 100)]
    with ProcessPoolExecutor(
        max_workers=workers, mp_context=multiprocessing.get_context("spawn"),
        initializer=_load_payloads, initargs=(pages_path,),
    ) as p:
        list(p.map(_extract_range, [(0, 5, max_bytes)] * workers))  # warm imports
        t0 = time.perf_counter()
        done = sum(p.map(_extract_range, jobs))
        return done / (time.perf_counter() - t0)

