"""Property-based tests (hypothesis): the kernel's total-function contract.

O7 (`analyzer.rb:52-55`): no payload may ever raise — a 10^12-row job cannot
die on one document. Plus invariants: confidence in [0,1], mime vocabulary
closed, spans well-formed, determinism."""

import os

from hypothesis import given, settings, strategies as st

from activestorage_ocr_spark.engine import mime as mimex
from activestorage_ocr_spark.engine.confidence import calculate_confidence
from activestorage_ocr_spark.engine.extract import extract_document
from activestorage_ocr_spark.engine.htmlx import extract_main_content

MAGIC_PREFIXES = [
    b"%PDF-", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF87a", b"GIF89a",
    b"BM", b"RIFF1234WEBP", b"II*\x00", b"MM\x00*", b"<html>", b"",
]

payloads = st.one_of(
    st.binary(max_size=4096),
    st.tuples(st.sampled_from(MAGIC_PREFIXES), st.binary(max_size=4096)).map(
        lambda t: t[0] + t[1]
    ),
)


@settings(max_examples=300, deadline=None)
@given(payloads)
def test_extract_never_raises_and_invariants(payload):
    r = extract_document(payload, max_bytes=8192)
    assert 0.0 <= r["confidence"] <= 1.0
    assert r["mime"] in mimex.SUPPORTED_MIMES | {mimex.MIME_OCTET}
    assert r["status"] in (
        "ok", "empty", "PROCESSING_ERROR", "IMAGE_TOO_LARGE",
        "UNSUPPORTED_FORMAT", "INVALID_REQUEST", "PREPROCESSING_ERROR", "INTERNAL",
    )
    text = r["extracted_text"]
    for start, end, kind in r["spans"]:
        assert 0 <= start <= end <= len(text)
    # determinism (excluding timing fields)
    r2 = extract_document(payload, max_bytes=8192)
    for k in ("mime", "extracted_text", "confidence", "status", "warnings", "spans"):
        assert r[k] == r2[k]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=500))
def test_confidence_bounded(text):
    assert 0.0 <= calculate_confidence(text) <= 1.0


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_html_extractor_total(payload):
    text, spans = extract_main_content(payload)
    assert isinstance(text, str)
    prev_end = -1
    for start, end, _ in spans:
        assert 0 <= start <= end <= len(text)
        assert start > prev_end
        prev_end = end


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=64))
def test_sniff_total_and_stable(payload):
    m = mimex.sniff_mime(payload)
    assert m in mimex.SUPPORTED_MIMES | {mimex.MIME_OCTET}
    assert mimex.sniff_mime(payload) == m


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=2, max_size=2048))
def test_jpeg_decoder_total(payload):
    # real decoder must raise ValueError (quarantine) or return a raster —
    # never crash the worker with anything else
    from activestorage_ocr_spark.engine import jpegx

    try:
        img = jpegx.decode_jpeg(b"\xff\xd8" + payload)
    except ValueError:
        return
    assert img.ndim in (2, 3)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=2, max_size=2048))
def test_vp8l_decoder_total(payload):
    from activestorage_ocr_spark.engine import webpx

    try:
        img = webpx.decode_vp8l(b"\x2f" + payload)
    except ValueError:
        return
    assert img.ndim == 3


_REAL_JPEG = os.path.join(
    os.path.dirname(__file__), "data", "arithjpeg", "text_seq_gray_rst2.jpg"
)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=2, max_value=os.path.getsize(_REAL_JPEG)),
    st.integers(min_value=0, max_value=255),
)
def test_real_jpeg_truncations_total(cut, fill):
    from activestorage_ocr_spark.engine import jpegx

    with open(_REAL_JPEG, "rb") as f:
        data = f.read()
    mutated = data[:cut] + bytes([fill]) * min(8, max(0, len(data) - cut))
    try:
        jpegx.decode_jpeg(mutated)
    except ValueError:
        pass


# round 3: property round-trips for the expanded codec surface — any image
# the test encoders can express must decode back exactly
_dims = st.tuples(st.integers(1, 40), st.integers(1, 40))


@given(_dims, st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_png_rgb_roundtrip_property(dims, seed):
    import numpy as np

    from activestorage_ocr_spark.engine import rasters
    from tests.test_engine_rasters import _make_png

    h, w = dims
    img = np.random.RandomState(seed % 2**31).randint(0, 256, (h, w, 3)).astype(np.uint8)
    interlace = seed % 2
    assert np.array_equal(
        rasters.decode_png(_make_png(img, color_type=2, interlace=interlace)), img
    )


@given(_dims, st.integers(0, 2**32 - 1), st.sampled_from([1, 5, 32773]))
@settings(max_examples=40, deadline=None)
def test_tiff_roundtrip_property(dims, seed, comp):
    import numpy as np

    from activestorage_ocr_spark.engine import rasters
    from tests.test_engine_rasters import _make_tiff

    h, w = dims
    img = np.random.RandomState(seed % 2**31).randint(0, 256, (h, w)).astype(np.uint8)
    big = bool(seed % 2)
    pred = 2 if (comp == 5 and seed % 3 == 0) else 1
    got = rasters.decode_tiff(_make_tiff(img, big_endian=big, comp=comp, predictor=pred))
    assert np.array_equal(got, img)


@given(
    st.sampled_from(["JPX", "JPXJ", "JPXL", "JBIG2R", "JBIG2H", "JBIG2RA",
                     "JBIG2HF", "JBIG2HM"]),
    st.integers(0, 2**31 - 1),
    st.integers(1, 8),
)
@settings(max_examples=30, deadline=None)
def test_mutated_codec_pdfs_never_raise(kind, seed, nflips):
    """O7 for the scanned codecs: byte-mutated JPX / JBIG2-refinement /
    halftone / refagg / Huffman / MMR-halftone PDFs must extract or
    quarantine, never raise."""
    import numpy as np

    from activestorage_ocr_spark.engine import pdfx, rasters
    from activestorage_ocr_spark.engine.extract import extract_document

    rng = np.random.RandomState(seed)
    img = rasters.render_text("FUZZ 1", scale=2)
    pdf = bytearray(pdfx.build_image_pdf([(img, kind)]))
    for _ in range(nflips):
        pdf[rng.randint(0, len(pdf))] = rng.randint(0, 256)
    res = extract_document(bytes(pdf))
    assert isinstance(res, dict) and "status" in res


@given(st.integers(0, 2**31 - 1), st.integers(1, 20))
@settings(max_examples=25, deadline=None)
def test_mutated_warc_streams_never_raise(seed, nmut):
    """The WARC parser's resync posture holds under arbitrary mutation."""
    import io

    import numpy as np

    from activestorage_ocr_spark.sources import warc

    recs = [
        {"url": f"http://f.example/{i}", "date": "2023-05-01T00:00:00Z",
         "html": b"<html><body><p>Record body with words.</p></body></html>"}
        for i in range(4)
    ]
    import tempfile
    import os

    p = tempfile.mktemp(suffix=".warc")
    warc.write_warc(p, recs)
    base = open(p, "rb").read()
    os.unlink(p)
    rng = np.random.RandomState(seed % 2**31)
    buf = bytearray(base)
    for _ in range(nmut):
        op = rng.randint(3)
        if op == 0:
            buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
        elif op == 1 and len(buf) > 60:
            at = rng.randint(0, len(buf) - 40)
            del buf[at : at + rng.randint(1, 32)]
        else:
            at = rng.randint(0, len(buf))
            buf[at:at] = bytes(rng.randint(0, 256, rng.randint(1, 16)).astype(np.uint8))
    rows = list(warc.parse_warc_stream(io.BufferedReader(io.BytesIO(bytes(buf))), "f"))
    assert isinstance(rows, list)


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_charset_entity_storms_never_raise_and_stay_encodable(seed):
    """Random charsets + entity storms: the result must be a quarantine-or-ok
    dict whose text is UTF-8-encodable (the Arrow serialization contract)."""
    import numpy as np

    from activestorage_ocr_spark.engine.extract import extract_document

    rng = np.random.RandomState(seed % 2**31)
    cs = [b"utf-8", b"gbk", b"shift_jis", b"windows-1251", b"nonsense",
          b"utf-16"][rng.randint(6)]
    body = bytes(rng.randint(0, 256, rng.randint(50, 500)).astype(np.uint8))
    ents = b"&amp;&bogus;&#x110000;&#xD800;&#99999999;&aacute" * rng.randint(0, 4)
    html = (b'<html><head><meta charset="' + cs + b'"></head><body><p>'
            + body + ents + b"</p></body></html>")
    res = extract_document(html, timeout_ms=2000)
    assert "status" in res
    (res.get("extracted_text") or "").encode("utf-8")  # must not raise
