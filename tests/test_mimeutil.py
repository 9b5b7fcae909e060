"""MimeUtil stand-in: TestMimeUtil ports + twin-agreement property.

Goldens are the reference's ``src/test/.../TestMimeUtil.java:47-136``
test pages (same header/url/content triples, same expected types); the
agreement test pins the JVM column twin to the Python scalar over an
adversarial fixture grid.
"""

import os

import pytest
from pyspark.sql import functions as F

from nutch_spark.data.mimeutil import (
    OCTET_STREAM,
    auto_resolve_content_type,
    auto_resolve_mime_col,
    clean_mime_type,
    for_name,
    magic_mime,
    mime_type_from_url,
)

URL_PREFIX = "http://localhost/"

HTML_401 = (
    '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
    '"http://www.w3.org/TR/html4/loose.dtd">\n<html>\n<head>\n'
    '<meta http-equiv=Content-Type content="text/html; charset=utf-8" />\n'
    "</head>\n<body>Hello, World!</body></html>"
)
HTML_5 = "<!DOCTYPE html>\n<html>\n<head>\n</head>\n<body>Hello, World!</body></html>"
XHTML = (
    '<?xml version="1.0"?>\n<html xmlns="http://www.w3.org/1999/xhtml">'
    "<html>\n<head>\n"
    '<meta http-equiv="Content-Type" content="text/html; charset=utf-8" />'
    "</head>\n<body>Hello, World!</body></html>"
)
PLAIN = "This is a plain text document"

# (expected mime, file name, Content-Type header, content, magic-only?)
# — TestMimeUtil.textBasedFormats:47-79 verbatim
TEXT_PAGES = [
    ("text/html", "test.html", "text/html; charset=utf-8", HTML_401, False),
    ("text/html", "test.html", "", HTML_5, False),
    ("application/xhtml+xml", "test.html", "application/xhtml+xml; charset=utf-8",
     XHTML, False),
    ("text/plain", "test.doc", "application/msword", PLAIN, True),
]


def test_with_mime_magic():
    """TestMimeUtil.testWithMimeMagic:99-105 — header + magic, bare
    url."""
    for want, _name, ct, content, _ in TEXT_PAGES:
        got = auto_resolve_content_type(ct, URL_PREFIX, content.encode())
        assert got == want, (ct, want, got)


def test_without_mime_magic():
    """testWithoutMimeMagic:108-117 — header + URL pattern only; the
    requires-mime-magic page is skipped like the reference does."""
    for want, name, ct, content, needs_magic in TEXT_PAGES:
        if needs_magic:
            continue
        got = auto_resolve_content_type(
            ct, URL_PREFIX + name, content.encode(), mime_magic=False
        )
        assert got == want, (ct, want, got)


def test_only_mime_magic():
    """testOnlyMimeMagic:120-126 — empty header, bare url."""
    for want, _name, _ct, content, _ in TEXT_PAGES:
        got = auto_resolve_content_type("", URL_PREFIX, content.encode())
        assert got == want, (want, got)


REF_XLSX = "/root/reference/src/testresources/test-mime-util/test.xlsx"


@pytest.mark.skipif(not os.path.exists(REF_XLSX), reason="reference tree absent")
def test_binary_files():
    """testBinaryFiles:129-136 — xlsx resolved by URL pattern with
    magic OFF (an OOXML sheet is a zip container; Tika's container
    inspection is out of scope, exactly why the reference golden runs
    this file without magic)."""
    with open(REF_XLSX, "rb") as f:
        data = f.read()
    got = auto_resolve_content_type(
        "", URL_PREFIX + "test.xlsx", data, mime_magic=False
    )
    assert got == (
        "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
    )


def test_clean_and_for_name():
    assert clean_mime_type("text/html; charset=utf-8") == "text/html"
    assert clean_mime_type(None) is None
    assert for_name(" Text/HTML ") == "text/html"
    assert for_name("text/xml") == "application/xml"  # alias folds
    assert for_name("no/such-type") is None
    assert mime_type_from_url("http://x/a.tar.GZ") == "application/gzip"
    assert mime_type_from_url("http://x/a") == OCTET_STREAM


def test_magic_corrections():
    """Mislabeled headers corrected by content magic."""
    gz = b"\x1f\x8b\x08\x00" + b"x" * 40
    assert auto_resolve_content_type("text/html", "http://x/a.html", gz) == (
        "application/gzip"
    )
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    assert auto_resolve_content_type("text/plain", "http://x/i", png) == "image/png"
    # generic magic refined by a specialized header hint (css is text)
    assert auto_resolve_content_type(
        "text/css", "http://x/s", b"body { color: red }"
    ) == "text/css"
    # rss root specializes the xml magic with no header at all
    rss = b'<?xml version="1.0"?>\n<rss version="2.0"><channel/></rss>'
    assert auto_resolve_content_type(None, "http://x/feed", rss) == (
        "application/rss+xml"
    )
    # magic that returns octet (binary junk) never overrides the header
    junk = b"\x00\x01\x02\x03\x04"
    assert auto_resolve_content_type("text/html", "http://x/h", junk) == "text/html"


FIXTURES = [
    # (content_type, url, payload bytes)
    ("text/html; charset=utf-8", URL_PREFIX + "a.html", HTML_401.encode()),
    ("", URL_PREFIX, HTML_5.encode()),
    (None, URL_PREFIX + "x", b"\xef\xbb\xbf  \n<html><body>bom</body></html>"),
    ("application/xhtml+xml", URL_PREFIX + "x.html", XHTML.encode()),
    ("application/msword", URL_PREFIX + "t.doc", PLAIN.encode()),
    ("text/css", URL_PREFIX + "s", b"body { color: red }"),
    (None, URL_PREFIX + "f", b'<?xml version="1.0"?><rss><channel/></rss>'),
    (None, URL_PREFIX + "f.xml", b'<?xml version="1.0"?>\n<unknownroot/>'),
    ("text/html", URL_PREFIX + "a.html", b"\x1f\x8b\x08\x00gzipped"),
    (None, URL_PREFIX + "p", b"PK\x03\x04zipfile"),
    ("image/png", URL_PREFIX + "i.png", b"\x89PNG\r\n\x1a\nrest"),
    ("text/html", URL_PREFIX + "h", b"\x00\x01\x02\x03"),
    (None, URL_PREFIX + "n", b""),
    (None, URL_PREFIX + "n.txt", None),
    ("application/octet-stream", URL_PREFIX + "o.csv", b"a,b\n1,2\n"),
    ("bogus;;nonsense", URL_PREFIX + "b.js", b"var x = 1;\n"),
    (None, URL_PREFIX + "w", b"WARC/1.0\r\nWARC-Type: response\r\n"),
    (None, URL_PREFIX + "j.jpg", b"\xff\xd8\xff\xe0JFIF"),
    # header padded with non-space whitespace: both surfaces strip it
    ("text/html\t", URL_PREFIX + "t.txt", b"plain words"),
    ("\r\napplication/xml\t; x=y", URL_PREFIX + "x", b"plain words"),
]


def test_column_twin_agrees_with_python(spark):
    """auto_resolve_mime_col must be bit-identical to
    auto_resolve_content_type on every fixture, magic on AND off."""
    df = spark.createDataFrame(
        [(i, ct, url, data) for i, (ct, url, data) in enumerate(FIXTURES)],
        "i int, ct string, url string, content binary",
    )
    for magic in (True, False):
        got = {
            r["i"]: r["m"]
            for r in df.select(
                "i",
                auto_resolve_mime_col(
                    F.col("ct"), F.col("url"), F.col("content"), mime_magic=magic
                ).alias("m"),
            ).collect()
        }
        for i, (ct, url, data) in enumerate(FIXTURES):
            want = auto_resolve_content_type(ct, url, data, mime_magic=magic)
            assert got[i] == want, (magic, ct, url, data, want, got[i])


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_MAGIC_SEEDS = [
    b"", b"\x1f\x8b\x08", b"PK\x03\x04", b"%PDF-1.7", b"\x89PNG\r\n\x1a\n",
    b"GIF89a", b"<!doctype html><p>", b"<HTML>", b"\xef\xbb\xbf<html>",
    b"<?xml version='1.0'?><rss>", b"<?xml?><feed>", b"{\"json\": 1}",
    b"\x00\x01binary", b"WARC/1.0",
]
_payload = st.one_of(
    st.binary(max_size=64),
    st.tuples(st.sampled_from(_MAGIC_SEEDS), st.binary(max_size=32)).map(
        lambda t: t[0] + t[1]
    ),
)
_header = st.one_of(
    st.none(),
    st.sampled_from([
        "", "text/html", "text/plain; charset=utf-8", "application/xml",
        "text/css", "application/msword", "image/png", "bogus/type",
        "application/octet-stream", ";;", "text/HTML ; x=y",
    ]),
    st.text(alphabet=list("abctext/html;= \t\r"), max_size=20),
)
_url = st.builds(
    lambda stem, ext: f"http://h.example.com/{stem}{ext}",
    st.text(alphabet=list("abc012"), max_size=8),
    st.sampled_from(["", ".html", ".xml", ".csv", ".doc", ".gz", ".png", ".q"]),
)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(_header, _url, _payload), min_size=1, max_size=30))
def test_prop_twin_agreement(spark, rows):
    """Fuzz parity: the JVM column twin and the Python scalar must
    agree on arbitrary (header, url, payload) triples — magic on AND
    off — including junk headers, BOMs, truncated magics and binary
    soup."""
    df = spark.createDataFrame(
        [(i, ct, url, data) for i, (ct, url, data) in enumerate(rows)],
        "i int, ct string, url string, content binary",
    )
    for magic in (True, False):
        got = {
            r["i"]: r["m"]
            for r in df.select(
                "i",
                auto_resolve_mime_col(
                    F.col("ct"), F.col("url"), F.col("content"), mime_magic=magic
                ).alias("m"),
            ).collect()
        }
        for i, (ct, url, data) in enumerate(rows):
            want = auto_resolve_content_type(ct, url, data, mime_magic=magic)
            assert got[i] == want, (magic, ct, url, data, want, got[i])


def test_magic_mime_hint_priority():
    """Content-type hint outranks the URL hint when both specialize a
    generic match (Tika's metadata-hint order)."""
    body = b"plain enough text"
    assert magic_mime(body, type_hint="text/css", url_hint="http://x/a.csv") == (
        "text/css"
    )
    assert magic_mime(body, type_hint=None, url_hint="http://x/a.csv") == "text/csv"
    assert magic_mime(body) == "text/plain"
    assert magic_mime(None) is None
