"""PDF blob processing (reference surface: processors/pdf/processor.py —
NaivePDFProcessorStrategy.process :75-123 per-page loop, _process_page
:204-233 text extraction, _extract_links :403-413 URI annotations,
_extract_metadata :415-438 Info dict; processors/pdf/__init__.py
PDFContentScrapingStrategy wiring).

Spark shape: PDFs ride as opaque ``binary`` columns (the multimodal
convention); page extraction is a ``mapInPandas`` 1→N explosion — one Arrow
batch in, one row per page out, shuffle-free. The real decoder is pypdf,
gated behind a try-import like the image codec (multimodal.decode_image);
this container has no pypdf, so the shipped path is a from-scratch naive
parser over content streams:

- a page = one ``stream``…``endstream`` content block, in byte order (the
  naive stand-in for pypdf's page tree walk);
- page text = the ``(...)`` strings shown by ``Tj`` operators (joined with
  single spaces) and inside ``[...] TJ`` arrays (concatenated — kerning
  numbers ignored), BT…ET blocks joined with newlines; octal-free escapes
  ``\\(`` ``\\)`` ``\\\\`` are unescaped;
- page links = ``/URI (...)`` annotation values, in order (the reference's
  _extract_links reads the same annotation dictionaries via pypdf);
- document metadata = ``/Title`` ``/Author`` ``/Subject`` ``/Producer``
  literal-string values from the Info dictionary region, last wins (pypdf
  reads the trailer's Info ref; a linearized file can carry two copies and
  the updated one is last).

A stream whose object dictionary names ``/FlateDecode`` is inflated with
stdlib ``zlib`` before the scan. The inflated size is capped (PDFs are
outside input; a few KB of deflate can expand to gigabytes), and a stream
that is corrupt, truncated or over the cap yields an empty page instead of
raising. Other filters (LZW, DCT, filter chains) still need the real
decoder and yield empty text, like every codec-absent stub in
datapipe.multimodal.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PDF_MAGIC = b"%PDF"

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_BT_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# literal string with \-escapes kept opaque until unescaping
_STR = rb"\(((?:[^()\\]|\\.)*)\)"
# text-showing operators in one scan: group 1 = Tj string, group 2 = TJ array
_SHOW_RE = re.compile(_STR + rb"\s*Tj|\[((?:[^\]\\]|\\.)*)\]\s*TJ")
_URI_RE = re.compile(rb"/URI\s*" + _STR)
_META_KEYS = ("Title", "Author", "Subject", "Producer")
# zip-bomb guard: largest decoded size of one /FlateDecode stream
_MAX_INFLATED = 16 << 20


def _unescape(raw: bytes) -> str:
    out = re.sub(rb"\\([()\\])", rb"\1", raw)
    return out.decode("latin-1")


def _block_text(block: bytes) -> str:
    """Text shown inside one BT…ET block: Tj strings joined with spaces,
    TJ array strings concatenated in place of their Tj-level slot."""
    parts: list[str] = []
    # walk Tj and TJ operators in order of appearance
    for m in _SHOW_RE.finditer(block):
        if m.group(1) is not None:
            parts.append(_unescape(m.group(1)))
        else:
            arr = m.group(2)
            parts.append("".join(_unescape(s.group(1)) for s in re.finditer(_STR, arr)))
    return " ".join(p for p in parts if p)


def _inflate(raw: bytes) -> bytes:
    """Decoded bytes of a /FlateDecode stream; b'' when it is corrupt,
    truncated or would inflate past ``_MAX_INFLATED``."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(raw, _MAX_INFLATED)
    except zlib.error:
        return b""
    return out if d.eof else b""


def parse_pdf_pages(data: bytes) -> list[dict]:
    """Naive per-page parse: [{page_number, text, links}] (1-based, the
    reference's page numbering, processor.py:85)."""
    if not data.startswith(PDF_MAGIC):
        return []
    pages = []
    prev_end = 0
    for i, m in enumerate(_STREAM_RE.finditer(data)):
        content = m.group(1)
        # the stream's own dictionary: the bytes after the last ``obj``
        # header since the previous stream
        head = data[prev_end:m.start()].rpartition(b"obj")[2]
        prev_end = m.end()
        if b"/FlateDecode" in head:
            content = _inflate(content)
        text = "\n".join(
            t for t in (_block_text(b.group(1)) for b in _BT_RE.finditer(content)) if t
        )
        links = [_unescape(u.group(1)) for u in _URI_RE.finditer(content)]
        pages.append({"page_number": i + 1, "text": text, "links": links})
    return pages


def parse_pdf_metadata(data: bytes) -> dict:
    """Info-dict literal strings (title/author/subject/producer), last
    occurrence wins; '' when absent. Mirrors _extract_metadata's field set
    minus the date parsing (no /CreationDate in the naive surface)."""
    meta = {k.lower(): "" for k in _META_KEYS}
    if not data.startswith(PDF_MAGIC):
        return meta
    for k in _META_KEYS:
        hits = re.findall(rb"/" + k.encode() + rb"\s*" + _STR, data)
        if hits:
            meta[k.lower()] = _unescape(hits[-1])
    return meta


def extract_pdf_pages(
    df: DataFrame, blob_col: str = "blob", id_col: str = "url"
) -> DataFrame:
    """mapInPandas 1→N page extraction: (id, page_number, text, n_links,
    links array). Tries pypdf per document; the naive parser is the
    codec-absent fallback (same pattern as multimodal.extract_blob_features
    — in an environment with pypdf installed the real decoder wins)."""
    schema = (
        f"{id_col} string, page_number bigint, text string, "
        "n_links bigint, links array<string>"
    )
    cols = df.select(F.col(id_col).cast("string"), F.col(blob_col).alias("_blob"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            out: dict[str, list] = {
                id_col: [], "page_number": [], "text": [], "n_links": [], "links": []
            }
            for i, data in zip(pdf_batch[id_col], pdf_batch["_blob"]):
                data = bytes(data) if data is not None else b""
                pages = _parse_any(data)
                for p in pages:
                    out[id_col].append(i)
                    out["page_number"].append(p["page_number"])
                    out["text"].append(p["text"])
                    out["n_links"].append(len(p["links"]))
                    out["links"].append(p["links"])
            # explicit dtypes: a batch whose PDFs all fail the magic check
            # yields zero rows, and pandas would infer float64 for the empty
            # list column — which Arrow cannot convert to array<string>
            yield pd.DataFrame({
                id_col: pd.Series(out[id_col], dtype=object),
                "page_number": pd.Series(out["page_number"], dtype="int64"),
                "text": pd.Series(out["text"], dtype=object),
                "n_links": pd.Series(out["n_links"], dtype="int64"),
                "links": pd.Series(out["links"], dtype=object),
            })

    return cols.mapInPandas(extract, schema)


def _parse_any(data: bytes) -> list[dict]:
    """Decode with pypdf when available, fall back to the naive parser for
    NON-PDF blobs (no magic — pypdf would raise, not skip), for the
    pypdf-absent container, and for documents the real decoder rejects
    (malformed xref/trailer — the naive parser still salvages uncompressed
    text streams, which is strictly more than crashing the whole job)."""
    if not data.startswith(PDF_MAGIC):
        return []
    try:
        return _pypdf_pages(data)
    except Exception:
        # pypdf absent (NotImplementedError) or parse failure (PdfReadError
        # etc.) — degrade, don't kill the mapInPandas task and with it the
        # entire query
        return parse_pdf_pages(data)


def _pypdf_pages(data: bytes) -> list[dict]:
    """Real decoder path (processor.py:75-123). STUB: requires pypdf, not
    installed in this container."""
    try:
        import pypdf  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "pdf decode requires pypdf; extract_pdf_pages falls back to the "
            "naive uncompressed-stream parser in this environment"
        ) from e
    import io

    from pypdf import PdfReader

    reader = PdfReader(io.BytesIO(data))
    pages = []
    for i, page in enumerate(reader.pages):
        links = []
        for annot in page.get("/Annots") or []:
            obj = annot.get_object()
            uri = obj.get("/A", {}).get("/URI")
            if uri:
                links.append(str(uri))
        pages.append(
            {"page_number": i + 1, "text": page.extract_text() or "", "links": links}
        )
    return pages


def pdf_doc_summary(
    df: DataFrame, blob_col: str = "blob", id_col: str = "url"
) -> DataFrame:
    """One row per document: page count, ordered per-page text digests,
    total link count, and the Info-dict title — 1:1 on the id for
    composite joins, with non-PDF blobs kept visible as zero rows.

    ONE mapInPandas pass: pages and metadata come from the same blob
    parse, and the digest aggregation happens in-batch (hashlib.md5 over
    UTF-8 ≡ both engines' md5) — blobs are the widest column on the
    multimodal path, so a second Arrow scan + a shuffle join purely to
    recombine metadata would double the dominant cost."""
    import hashlib

    schema = (
        f"{id_col} string, is_pdf boolean, n_pages bigint, "
        "page_digests string, total_links bigint, pdf_title string"
    )
    cols = df.select(F.col(id_col).cast("string"), F.col(blob_col).alias("_blob"))

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {
                id_col: [], "is_pdf": [], "n_pages": [], "page_digests": [],
                "total_links": [], "pdf_title": [],
            }
            for i, data in zip(b[id_col], b["_blob"]):
                data = bytes(data) if data is not None else b""
                pages = _parse_any(data)
                out[id_col].append(i)
                out["is_pdf"].append(data.startswith(PDF_MAGIC))
                out["n_pages"].append(len(pages))
                out["page_digests"].append("|".join(
                    hashlib.md5(p["text"].encode("utf-8")).hexdigest()
                    for p in pages
                ))
                out["total_links"].append(sum(len(p["links"]) for p in pages))
                out["pdf_title"].append(parse_pdf_metadata(data)["title"])
            yield pd.DataFrame({
                id_col: pd.Series(out[id_col], dtype=object),
                "is_pdf": pd.Series(out["is_pdf"], dtype=bool),
                "n_pages": pd.Series(out["n_pages"], dtype="int64"),
                "page_digests": pd.Series(out["page_digests"], dtype=object),
                "total_links": pd.Series(out["total_links"], dtype="int64"),
                "pdf_title": pd.Series(out["pdf_title"], dtype=object),
            })

    return cols.mapInPandas(summarize, schema)
