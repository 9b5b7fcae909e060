"""HTML parse-filter battery (§2.9 HtmlParseFilter extension point).

The remaining HtmlParseFilter plugins, each as pure-JVM column
expressions over a raw ``html`` string column (the reference walks a
NekoHTML DocumentFragment; this engine extracts the same narrow
signals with Java-regex columns — a documented deviation that keeps
the whole battery inside whole-stage codegen, no Python anywhere):

- parse-metatags (``parse-metatags/.../MetaTagsParser.java:42-127``):
  every ``<meta name=...>`` / ``<meta http-equiv=...>`` tag becomes a
  ``metatag.<lowercased-name>`` parse-metadata entry; a configured
  name subset or ``*``.
- headings (``headings/.../HeadingsParseFilter.java:37-134``): text of
  the first (or all, when multivalued) ``<h1>``/``<h2>`` elements,
  inner tags stripped, whitespace collapsed.
- microformats-reltag (``microformats-reltag/.../RelTagParser.java:61-137``
  + ``RelTagIndexingFilter.java``): the sorted distinct set of
  URL-decoded last-path-segments of ``<a rel="tag" href=...>`` links.
- creativecommons (``creativecommons/.../CCParseFilter.java:60-273`` +
  ``CCIndexingFilter.java:42-129``): license URL by precedence
  rdf-comment > ``rel="license"`` anchor > plain CC anchor, the
  location tag (``rdf``/``rel``/``a``), the cc:Work dc:type name, and
  the indexer's license/features/version split of the license path.

Scale: every function is a map-side expression over the page's own
html — no shuffle, no join, no UDF; at 100 TB these run inside the
parse stage's existing scan.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

from nutch_spark.urls.urlutil import host_expr

# attribute extraction within a single already-isolated tag string;
# our writers emit double-quoted attributes (the reference reads the
# DOM, so quoting style is normalized before it looks)
_META_TAG_RE = r"(?i)<meta\s[^>]*>"
_A_TAG_RE = r"(?i)<a\s[^>]*>"
_COMMENT_RE = r"(?s)<!--.*?-->"


def _attr(tag: Column, name: str) -> Column:
    return F.regexp_extract(tag, rf'(?i)\b{name}\s*=\s*"([^"]*)"', 1)


def meta_tag_pairs(html: Column) -> Column:
    """All meta tags in document order as
    ``array<struct<name:string,value:string>>`` — name lowercased from
    either ``name=`` or ``http-equiv=`` (MetaTagsParser.filter:100-126,
    '*' mode). Tags with neither attribute or no content are dropped."""
    tags = F.regexp_extract_all(html, F.lit(_META_TAG_RE), F.lit(0))
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.lower(
                F.when(_attr(t, "name") != "", _attr(t, "name")).otherwise(
                    _attr(t, "http-equiv")
                )
            ).alias("name"),
            _attr(t, "content").alias("value"),
        ),
    )
    return F.filter(pairs, lambda p: p["name"] != "")


def meta_tags_map(html: Column, names: list[str]) -> Column:
    """Configured-subset mode (``metatags.names``): map from
    ``metatag.<name>`` to the array of values for that (lowercased)
    name, absent names dropped."""
    pairs = meta_tag_pairs(html)
    lnames = [n.lower() for n in names]
    keys = F.array(*[F.lit(f"metatag.{n}") for n in lnames])

    def values_of(name):  # single-arg lambdas only: a 2-arg lambda
        # would receive the element index as its second argument
        return F.transform(
            F.filter(pairs, lambda p: p["name"] == name), lambda p: p["value"]
        )

    vals = F.array(*[values_of(n) for n in lnames])
    return F.map_filter(
        F.map_from_arrays(keys, vals), lambda _, v: F.size(v) > 0
    )


def _strip_inner(text: Column) -> Column:
    # getNodeValue: concatenated TEXT nodes, surplus whitespace -> ' '
    no_tags = F.regexp_replace(text, r"<[^>]+>", "")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def headings(
    html: Column, tags: tuple[str, ...] = ("h1", "h2"), *, multivalued: bool = False
) -> dict[str, Column]:
    """One ``array<string>`` column per heading tag: element text with
    inner tags stripped and whitespace collapsed; first element only
    unless multivalued (HeadingsParseFilter.getElement:91-112)."""
    out: dict[str, Column] = {}
    for tag in tags:
        raw = F.regexp_extract_all(
            html, F.lit(rf"(?is)<{tag}[^>]*>(.*?)</{tag}>"), F.lit(1)
        )
        texts = F.filter(
            F.transform(raw, _strip_inner), lambda t: F.length(t) > 0
        )
        out[tag] = texts if multivalued else F.slice(texts, 1, 1)
    return out


def rel_tags(html: Column) -> Column:
    """Sorted distinct URL-decoded last path segments of rel="tag"
    anchors (RelTagParser.Parser:78-137; TreeSet ordering)."""
    anchors = F.regexp_extract_all(html, F.lit(_A_TAG_RE), F.lit(0))
    tagged = F.filter(
        anchors,
        lambda a: (F.lower(_attr(a, "rel")) == "tag") & (_attr(a, "href") != ""),
    )
    segs = F.transform(
        tagged,
        lambda a: F.url_decode(
            F.substring_index(F.try_parse_url(_attr(a, "href"), F.lit("PATH")), "/", -1)
        ),
    )
    return F.array_sort(
        F.array_distinct(F.filter(segs, lambda s: s.isNotNull() & (s != "")))
    )


_CC_NS = "http://web.resource.org/cc/"
_WORK_TYPE_NAMES = {
    "http://purl.org/dc/dcmitype/MovingImage": "video",
    "http://purl.org/dc/dcmitype/StillImage": "image",
    "http://purl.org/dc/dcmitype/Sound": "audio",
    "http://purl.org/dc/dcmitype/Text": "text",
    "http://purl.org/dc/dcmitype/Interactive": "interactive",
    "http://purl.org/dc/dcmitype/Software": "software",
    "http://purl.org/dc/dcmitype/Image": "image",
}


def _is_cc_license_url(href: Column) -> Column:
    proto = F.lower(F.try_parse_url(href, F.lit("PROTOCOL")))
    path = F.try_parse_url(href, F.lit("PATH"))
    return (
        proto.isin("http", "https")
        & (host_expr(href) == "creativecommons.org")
        & path.startswith("/licenses/")
        & (F.length(path) > len("/licenses/"))
    )


def cc_license(html: Column) -> Column:
    """``struct<license_url, license_loc, work_type>`` by the walker's
    precedence (CCParseFilter.Walker.walk:77-117): rdf comment first,
    then the first ``rel="license"`` CC anchor, then the first plain CC
    anchor. Anchors must be absolute CC-license URLs (the fixture uses
    absolute hrefs; the reference resolves relative ones against the
    page base — documented narrowing)."""
    anchors = F.regexp_extract_all(html, F.lit(_A_TAG_RE), F.lit(0))
    cc = F.filter(anchors, lambda a: _is_cc_license_url(_attr(a, "href")))
    rel = F.filter(cc, lambda a: _attr(a, "rel") == "license")
    plain = F.filter(cc, lambda a: _attr(a, "rel") != "license")
    rel_url = _attr(F.try_element_at(rel, F.lit(1)), "href")
    plain_url = _attr(F.try_element_at(plain, F.lit(1)), "href")

    comments = F.regexp_extract_all(html, F.lit(_COMMENT_RE), F.lit(0))
    rdfish = F.filter(
        comments,
        lambda c: c.contains("RDF") & c.contains(_CC_NS),
    )
    rdf = F.try_element_at(rdfish, F.lit(1))  # empty -> null (ANSI)
    rdf_url = F.regexp_extract(
        rdf, r'(?is)<cc:License\s+rdf:about="([^"]*)"', 1
    )
    type_uri = F.regexp_extract(
        rdf, r'(?is)<dc:type\s+rdf:resource="([^"]*)"', 1
    )
    work_map = F.create_map(
        *chain.from_iterable(
            (F.lit(k), F.lit(v)) for k, v in sorted(_WORK_TYPE_NAMES.items())
        )
    )
    nz = lambda c: F.when(c != "", c)  # noqa: E731 — '' -> null
    url = F.coalesce(nz(rdf_url), nz(rel_url), nz(plain_url))
    loc = (
        F.when(nz(rdf_url).isNotNull(), "rdf")
        .when(nz(rel_url).isNotNull(), "rel")
        .when(nz(plain_url).isNotNull(), "a")
    )
    return F.struct(
        url.alias("license_url"),
        loc.alias("license_loc"),
        F.element_at(work_map, nz(type_uri)).alias("work_type"),
    )


def cc_index_fields(license_url: Column) -> Column:
    """CCIndexingFilter.addFieldsFromUrl:100-125 — split the license
    path ``/licenses/<license>/<version>/...``: ``struct<license,
    features:array<string>, version>``; too-short paths yield nulls."""
    first = F.substring_index(license_url, " ", 1)
    path = F.try_parse_url(first, F.lit("PATH"))
    parts = F.split(path, "/")
    ok = F.size(parts) >= 4
    lic = F.when(ok, F.element_at(parts, 3))
    return F.struct(
        lic.alias("license"),
        F.when(ok, F.split(F.element_at(parts, 3), "-")).alias("features"),
        F.when(ok, F.element_at(parts, 4)).alias("version"),
    )


def debug_dom_meta(markup: Column, parse_meta: Column | None = None) -> Column:
    """parsefilter-debug (``parsefilter-debug/.../DebugParseFilter.java``
    :49-58): append the serialized document to parse_meta under the
    key ``DOM`` so a debugging run can see exactly what the parser
    interpreted.

    Deviation, inherent to the architecture: the reference serializes
    the DOM fragment built by parse-html (DomUtil.saveDom); this
    engine parses by JVM regex scan over the stored markup and builds
    no DOM, so the serialized form IS the source markup. The filter is
    therefore the identity evidence for debugging ("what did the
    parser see"), which is the plugin's whole purpose. NULL markup
    stores the empty string (saveDom of an empty fragment)."""
    entry = F.create_map(
        F.lit("DOM"), F.coalesce(markup, F.lit(""))
    )
    if parse_meta is None:
        return entry
    # newer-wins merge, same policy as every metadata merge in the
    # engine (spark.sql.mapKeyDedupPolicy=LAST_WIN)
    return F.map_concat(F.coalesce(parse_meta, F.create_map().cast("map<string,string>")), entry)
