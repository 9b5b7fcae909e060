"""MimeUtil stand-in: header + URL-extension + magic-byte MIME
resolution, without Tika.

Re-expresses ``util/MimeUtil.java:119-221`` (``cleanMimeType`` +
``autoResolveContentType``) for the formats this repo actually parses.
The reference delegates to Tika's full registry; this stand-in is a
deterministic subset built the same way the charset sniffer was: a
small in-repo registry (names, aliases, a supertype hierarchy) plus a
magic-prefix table — design mirrors Tika's public detection strategy
(magic first, then the content-type / resource-name hint refines a
generic match to a declared specialization), no tables ported.

Resolution order (``autoResolveContentType``, MimeUtil.java:153-221):

1. clean the header type (drop ``;``-params), look it up in the
   registry; unknown names are discarded (``forName`` returning null).
2. if that produced nothing (or the generic octet-stream), resolve by
   URL extension (``tika.detect(url)``), octet-stream default.
3. with ``mime.type.magic`` on (default), run magic detection over the
   content bytes; a non-octet magic result that differs from the
   header/URL result wins (MimeUtil.java:189-218) — this is what
   corrects a mislabeled Content-Type. A *generic* magic match
   (text/plain, application/xml) is first refined to the header or
   extension hint when that hint is a registered specialization of it
   (NUTCH-2606 semantics: erroneous ``application/msword`` over plain
   text resolves to text/plain; ``text/css`` over plain text stays
   text/css).

Two surfaces, bit-identical by construction (shared tables, agreement
test in ``tests/test_mimeutil.py``):

- :func:`auto_resolve_content_type` — driver-side scalar (goldens,
  oracles, per-file tooling).
- :func:`auto_resolve_mime_col` — the scale path: pure JVM column
  expressions over a 512-byte latin-1 prefix of the payload (substring
  + decode + regexp), zero Python in the hot loop, no shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

OCTET_STREAM = "application/octet-stream"

# how many payload bytes magic detection may examine (Tika's default
# getMinLength-style bound; every pattern below fits well inside it)
MAGIC_LIMIT = 512

# canonical name -> supertype (None = root). The transitive closure
# drives hint refinement: a generic magic match (text/plain,
# application/xml) yields to a declared descendant.
_PARENT = {
    "text/plain": None,
    "text/html": "text/plain",
    "text/css": "text/plain",
    "text/csv": "text/plain",
    "text/javascript": "text/plain",
    "application/json": "text/plain",
    "application/xml": "text/plain",
    "application/rss+xml": "application/xml",
    "application/atom+xml": "application/xml",
    "application/xhtml+xml": "application/xml",
    "application/gzip": None,
    "application/zip": None,
    "application/pdf": None,
    "application/warc": None,
    "application/msword": None,
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet": None,
    "image/png": None,
    "image/jpeg": None,
    "image/gif": None,
    "video/mp4": None,
    "audio/mpeg": None,
    "audio/x-wav": None,
    OCTET_STREAM: None,
}

# accepted spellings -> canonical (MimeTypes.forName); canonical names
# map to themselves, aliases fold in
_ALIASES = {
    "text/xml": "application/xml",
    "application/x-gzip": "application/gzip",
    "application/javascript": "text/javascript",
    "application/x-javascript": "text/javascript",
    "image/jpg": "image/jpeg",
    "application/x-zip-compressed": "application/zip",
}
KNOWN_NAMES = {**{n: n for n in _PARENT}, **_ALIASES}
# whitespace for_name ignores around a header type; the JVM twin strips
# the same set (F.trim would strip spaces only)
_NAME_WS = " \t\r\n\x0b\f"
_NAME_WS_JVM = r"^[ \t\r\n\x0B\f]+|[ \t\r\n\x0B\f]+$"

# URL-extension map (tika.detect(url)); shares the indexer's table and
# adds the archive formats this module introduces
_EXT_EXTRA = {
    "gz": "application/gzip", "tgz": "application/gzip",
    "warc": "application/warc", "rss": "application/rss+xml",
    "atom": "application/atom+xml", "xhtml": "application/xhtml+xml",
    "xlsx": (
        "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
    ),
}


def _ext_mime_table() -> dict:
    from nutch_spark.operators.index_filters import _EXT_MIME

    return {**_EXT_MIME, **_EXT_EXTRA}


# binary magic prefixes, checked in order (first match wins); the
# text-based detectors (html/xml/text) run after these
_BINARY_MAGIC = [
    ("\x1f\x8b", "application/gzip"),
    ("PK\x03\x04", "application/zip"),
    ("%PDF-", "application/pdf"),
    ("\x89PNG\r\n\x1a\n", "image/png"),
    ("\xff\xd8\xff", "image/jpeg"),
    ("GIF87a", "image/gif"),
    ("GIF89a", "image/gif"),
    ("WARC/", "application/warc"),
    ("ID3", "audio/mpeg"),
    ("RIFF", "audio/x-wav"),
]

# html root tags (case-insensitive, after BOM/whitespace strip)
_HTML_STARTS = ("<!doctype html", "<html", "<head", "<body", "<title")

# root element of an <?xml ...?> document -> specialized xml type
_XML_ROOTS = {
    "rss": "application/rss+xml",
    "feed": "application/atom+xml",
    "html": "application/xhtml+xml",
}

# control bytes that mark content as binary; everything else
# (tab/LF/VT/FF/CR/ESC, printable, high bytes) is text-compatible —
# Tika's TextDetector heuristic
_BAD_CONTROL = re.compile("[\x00-\x08\x0e-\x1a\x1c-\x1f]")
_XML_ROOT_RE = re.compile(r"<\?xml[^>]*\?>[\s\S]*?<([A-Za-z][A-Za-z0-9]*)")
# one optional UTF-8 BOM (as latin-1 chars) + ASCII whitespace — the
# SAME pattern both surfaces strip, so html/xml detection agrees
# byte-for-byte (Python \s is unicode-wide; this class is not)
_LEAD_STRIP_RE = re.compile("^(\xef\xbb\xbf)?[ \t\r\n\x0b\x0c]*")
_LEAD_STRIP_JVM = "^(\\xEF\\xBB\\xBF)?[ \\t\\r\\n\\x0B\\f]*"
_BAD_CONTROL_JVM = "[\\x00-\\x08\\x0E-\\x1A\\x1C-\\x1F]"


def is_subtype(name: str | None, ancestor: str) -> bool:
    """True iff ``name`` is a strict registered descendant of
    ``ancestor`` in the supertype hierarchy."""
    cur = _PARENT.get(name) if name else None
    while cur is not None:
        if cur == ancestor:
            return True
        cur = _PARENT.get(cur)
    return False


def descendants(ancestor: str) -> set[str]:
    return {n for n in _PARENT if is_subtype(n, ancestor)}


def clean_mime_type(orig: str | None) -> str | None:
    """MimeUtil.cleanMimeType:119-133 — first ``;``-token (the
    reference does not trim; registry lookup tolerates whitespace)."""
    if orig is None:
        return None
    return orig.split(";")[0]


def for_name(name: str | None) -> str | None:
    """MimeTypes.forName against the in-repo registry: canonical name
    for known spellings (case/whitespace-insensitive), else None."""
    if not name:
        return None
    return KNOWN_NAMES.get(name.strip(_NAME_WS).lower())


def mime_type_from_url(url: str | None) -> str:
    """tika.detect(url): extension lookup, octet-stream default."""
    if not url:
        return OCTET_STREAM
    m = re.search(r"\.([A-Za-z0-9]+)(?:[?#].*)?$", url)
    if not m:
        return OCTET_STREAM
    return _ext_mime_table().get(m.group(1).lower(), OCTET_STREAM)


def _prefix_text(data: bytes) -> str:
    # latin-1 maps bytes 1:1 onto U+0000..U+00FF — the same prefix the
    # JVM twin sees via decode(substring(content), 'ISO-8859-1')
    return bytes(data[:MAGIC_LIMIT]).decode("latin-1")


def _raw_magic(prefix: str) -> str | None:
    """Magic table over the latin-1 prefix: concrete binary formats,
    then html, then xml (with root-element specialization), then the
    text heuristic; None = no match (octet-stream semantics)."""
    if not prefix:
        return None
    for pat, mime in _BINARY_MAGIC:
        if prefix.startswith(pat):
            return mime
    stripped = _LEAD_STRIP_RE.sub("", prefix, count=1)
    low = stripped.lower()
    if any(low.startswith(p) for p in _HTML_STARTS):
        return "text/html"
    if low.startswith("<?xml"):
        m = _XML_ROOT_RE.search(stripped)
        if m:
            spec = _XML_ROOTS.get(m.group(1).lower())
            if spec:
                return spec
        return "application/xml"
    if not _BAD_CONTROL.search(prefix):
        return "text/plain"
    return None


def magic_mime(
    data: bytes | None,
    type_hint: str | None = None,
    url_hint: str | None = None,
) -> str | None:
    """MimeTypes.detect(stream, metadata) stand-in: magic result, with
    a generic match refined to the content-type hint (first) or the
    URL-extension hint (second) when that hint is a registered
    specialization of the match. None = octet-stream."""
    if data is None:
        return None
    raw = _raw_magic(_prefix_text(data))
    if raw in ("text/plain", "application/xml"):
        h = for_name(clean_mime_type(type_hint))
        if h and is_subtype(h, raw):
            return h
        u = mime_type_from_url(url_hint)
        if u != OCTET_STREAM and is_subtype(u, raw):
            return u
    return raw


def auto_resolve_content_type(
    type_name: str | None,
    url: str | None,
    data: bytes | None,
    mime_magic: bool = True,
) -> str:
    """MimeUtil.autoResolveContentType:153-221 — header name lookup,
    URL-extension fallback, then (``mime.type.magic``) magic override
    when it disagrees and is not octet-stream."""
    canon = for_name(clean_mime_type(type_name))
    if canon is None or canon == OCTET_STREAM:
        ret = mime_type_from_url(url)
    else:
        ret = canon
    if mime_magic:
        magic = magic_mime(data, type_hint=type_name, url_hint=url)
        if magic is not None and magic != OCTET_STREAM and magic != ret:
            ret = magic
    return ret


# ---------------------------------------------------------------------------
# JVM column twin
# ---------------------------------------------------------------------------


def _map_lookup(table: dict, key: Column) -> Column:
    return F.element_at(
        F.create_map(*[F.lit(x) for kv in table.items() for x in kv]), key
    )


def header_mime_col(content_type: Column) -> Column:
    """cleanMimeType + forName as one expression: canonical name for
    known header spellings, NULL otherwise."""
    cleaned = F.lower(
        F.regexp_replace(F.substring_index(content_type, ";", 1), _NAME_WS_JVM, "")
    )
    return _map_lookup(KNOWN_NAMES, cleaned)


def url_mime_col(url: Column) -> Column:
    """tika.detect(url) twin over the shared extension table."""
    ext = F.lower(F.regexp_extract(url, r"\.([A-Za-z0-9]+)(?:[?#].*)?$", 1))
    return F.coalesce(_map_lookup(_ext_mime_table(), ext), F.lit(OCTET_STREAM))


def magic_mime_col(
    content: Column, content_type: Column, url: Column
) -> Column:
    """magic_mime as JVM expressions over a 512-byte latin-1 prefix;
    NULL = no match (octet semantics, never overrides)."""
    prefix = F.decode(F.substring(content, 1, MAGIC_LIMIT), "ISO-8859-1")
    stripped = F.regexp_replace(prefix, _LEAD_STRIP_JVM, "")
    low = F.lower(stripped)
    texty = F.when(
        (F.length(prefix) > 0) & ~prefix.rlike(_BAD_CONTROL_JVM),
        F.lit("text/plain"),
    )
    root = F.lower(
        F.regexp_extract(stripped, r"<\?xml[^>]*\?>[\s\S]*?<([A-Za-z][A-Za-z0-9]*)", 1)
    )
    xml = F.when(
        low.startswith("<?xml"),
        F.coalesce(
            _map_lookup(_XML_ROOTS, root), F.lit("application/xml")
        ),
    )
    html_cond = None
    for p in _HTML_STARTS:
        c = low.startswith(p)
        html_cond = c if html_cond is None else (html_cond | c)
    raw = F.coalesce(
        *[
            F.when(prefix.startswith(pat), F.lit(mime))
            for pat, mime in _BINARY_MAGIC
        ],
        F.when(html_cond, F.lit("text/html")),
        xml,
        texty,
    )
    # hint refinement for generic matches: content-type hint first,
    # then URL extension — only registered strict descendants apply
    h = header_mime_col(content_type)
    u = url_mime_col(url)
    text_desc = sorted(descendants("text/plain"))
    xml_desc = sorted(descendants("application/xml"))
    return (
        F.when(
            raw == "text/plain",
            F.coalesce(
                F.when(h.isin(text_desc), h),
                F.when(u.isin(text_desc), u),
                raw,
            ),
        )
        .when(
            raw == "application/xml",
            F.coalesce(
                F.when(h.isin(xml_desc), h),
                F.when(u.isin(xml_desc), u),
                raw,
            ),
        )
        .otherwise(raw)
    )


def auto_resolve_mime_col(
    content_type: Column,
    url: Column,
    content: Column,
    mime_magic: bool = True,
) -> Column:
    """autoResolveContentType as one JVM expression — the 100-TB path:
    narrow map over (header, url, 512-byte prefix), no Python, no
    shuffle. Bit-parity with :func:`auto_resolve_content_type` is
    asserted by the agreement test."""
    h = header_mime_col(content_type)
    base = F.when(
        h.isNull() | (h == OCTET_STREAM), url_mime_col(url)
    ).otherwise(h)
    if not mime_magic:
        return base
    magic = magic_mime_col(content, content_type, url)
    return F.when(
        magic.isNotNull() & (magic != OCTET_STREAM) & (magic != base), magic
    ).otherwise(base)
