"""feed plugin: RSS/Atom feed parsing + feed indexing fields.

Re-expresses the reference's ROME-based FeedParser
(``feed/.../FeedParser.java:100-288``): a fetched feed document fans
out into one parse row per entry — keyed by the entry link after the
outlink-scope normalize/filter chain (``addToMap``:225-240) — plus one
row for the feed URL itself carrying the channel title/description
(``getParse``:139-144). Per-entry metadata mirrors ``addFields``:304-360
and is indexed by FeedIndexingFilter.java:68-105: author, tags
(categories), published/updated as epoch millis, and the feed link.

Tag stripping follows ``stripTags``:289-302 (drop ``<[^>]*>`` runs,
trim). The entry text follows the markup-reparse path (description
markup parsed down to text — here the same tag strip, since parse-html's
text extraction is exactly that for the simple markup feeds carry).

Spark-first plan: feeds arrive as (url, xml) rows; every extraction is
a JVM regex over the XML (``regexp_extract_all`` for the entry blocks,
``regexp_extract`` per field) — one map-side pass, no shuffle, no
Python. Entry-block patterns are RE2-safe (non-greedy, no
backreferences) so the same semantics replay in ANSI-SQL oracles.
RFC-822 pubDates parse after stripping the redundant weekday token
(Spark's parser rejects day-of-week fields on input); Atom dates are
ISO-8601. At 100 TB this is embarrassingly parallel: the fan-out is
``explode`` on pre-extracted blocks, and the downstream join surface
(entry link -> crawldb) is the ordinary parse-outlink path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.urls.filters import url_filter_cond
from nutch_spark.urls.normalizer import normalize_col


def strip_tags(c: Column) -> Column:
    """FeedParser.stripTags:289-302 — remove tag runs, then trim."""
    return F.trim(F.regexp_replace(c, "<[^>]*>", ""))


def _rss_date_ms(s: Column) -> Column:
    # "Mon, 05 Jan 2026 13:00:00 GMT" — weekday is redundant and Spark
    # refuses EEE on parse, so drop it; ' GMT' becomes the 'Z' offset so
    # the instant parses as UTC regardless of the session timezone.
    bare = F.regexp_replace(F.regexp_replace(s, "^[A-Za-z]{3}, ", ""), " GMT$", "Z")
    return (F.unix_timestamp(F.to_timestamp(bare, "dd MMM yyyy HH:mm:ssX")) * 1000)


def _atom_date_ms(s: Column) -> Column:
    # zone-offset pattern: the trailing 'Z' IS the offset, session-tz-proof
    return (
        F.unix_timestamp(F.to_timestamp(s, "yyyy-MM-dd'T'HH:mm:ssX")) * 1000
    )


def parse_feed(
    feeds: DataFrame,
    *,
    url_col: str = "url",
    xml_col: str = "xml",
    normalize_links: bool = True,
    url_filter_rules: list[str] | None = None,
) -> DataFrame:
    """Fan a feed document out into per-entry parse rows.

    Output: (url, feed_url, kind 'entry'|'feed', title, text, author,
    tags array<string>, published_ms). The feed-level row (kind='feed')
    carries the channel title/description and no date/author, matching
    FeedParser.getParse:139-144.
    """
    xml = F.col(xml_col)
    # root-element check, not contains: an RSS item body mentioning
    # '<feed' (CDATA samples, <feedburner:…> elements) must not flip
    # the whole document to the Atom branch
    is_atom = xml.rlike(r"^\s*(<\?[^>]*>\s*)?<feed[\s>]")

    # channel-level fields: the fixture (like real feeds) puts the
    # channel <title>/<link>/<description> before any entry
    feed_link = F.when(
        is_atom, F.regexp_extract(xml, '<link[^>]*href="([^"]*)"', 1)
    ).otherwise(F.regexp_extract(xml, "<link>([^<]*)</link>", 1))
    feed_title = strip_tags(F.regexp_extract(xml, "(?s)<title>(.*?)</title>", 1))
    feed_desc = strip_tags(
        F.when(
            is_atom, F.regexp_extract(xml, "(?s)<subtitle>(.*?)</subtitle>", 1)
        ).otherwise(
            F.regexp_extract(xml, "(?s)<description>(.*?)</description>", 1)
        )
    )

    blocks = F.when(
        is_atom, F.regexp_extract_all(xml, F.lit("(?s)<entry>.*?</entry>"), 0)
    ).otherwise(F.regexp_extract_all(xml, F.lit("(?s)<item>.*?</item>"), 0))

    base = feeds.select(
        F.col(url_col).alias("feed_url"),
        is_atom.alias("_atom"),
        feed_link.alias("_flink"),
        feed_title.alias("_ftitle"),
        feed_desc.alias("_fdesc"),
        blocks.alias("_blocks"),
    )

    b = F.col("_b")
    entry_link = F.when(
        F.col("_atom"), F.regexp_extract(b, '<link[^>]*href="([^"]*)"', 1)
    ).otherwise(F.regexp_extract(b, "<link>([^<]*)</link>", 1))
    entry_title = strip_tags(F.regexp_extract(b, "(?s)<title>(.*?)</title>", 1))
    entry_text = strip_tags(
        F.when(
            F.col("_atom"), F.regexp_extract(b, "(?s)<summary>(.*?)</summary>", 1)
        ).otherwise(
            F.regexp_extract(b, "(?s)<description>(.*?)</description>", 1)
        )
    )
    author = F.when(
        F.col("_atom"),
        F.regexp_extract(b, "(?s)<author>\\s*<name>([^<]*)</name>", 1),
    ).otherwise(F.regexp_extract(b, "<author>([^<]*)</author>", 1))
    tags = F.when(
        F.col("_atom"), F.regexp_extract_all(b, F.lit('<category term="([^"]*)"'), 1)
    ).otherwise(F.regexp_extract_all(b, F.lit("<category>([^<]*)</category>"), 1))
    pub = F.when(
        F.col("_atom"),
        _atom_date_ms(F.regexp_extract(b, "<published>([^<]*)</published>", 1)),
    ).otherwise(
        _rss_date_ms(F.regexp_extract(b, "<pubDate>([^<]*)</pubDate>", 1))
    )

    entries = base.select(
        "feed_url", "_atom", "_flink", F.explode("_blocks").alias("_b")
    ).select(
        entry_link.alias("url"),
        F.col("_flink").alias("feed_link"),
        F.col("feed_url"),
        F.lit("entry").alias("kind"),
        entry_title.alias("title"),
        entry_text.alias("text"),
        F.nullif(author, F.lit("")).alias("author"),
        tags.alias("tags"),
        pub.alias("published_ms"),
    )
    if normalize_links:
        entries = entries.withColumn(
            "url", normalize_col(F.col("url"))
        ).filter(F.col("url").isNotNull())
    if url_filter_rules is not None:
        entries = entries.filter(url_filter_cond(F.col("url"), url_filter_rules))

    feed_rows = base.select(
        F.col("feed_url").alias("url"),
        F.col("_flink").alias("feed_link"),
        "feed_url",
        F.lit("feed").alias("kind"),
        F.col("_ftitle").alias("title"),
        F.col("_fdesc").alias("text"),
        F.lit(None).cast("string").alias("author"),
        F.array().cast("array<string>").alias("tags"),
        F.lit(None).cast("long").alias("published_ms"),
    )
    return entries.unionByName(feed_rows)


def feed_index_fields(parsed: DataFrame) -> DataFrame:
    """FeedIndexingFilter.java:68-105: project the indexable fields for
    entry rows (authors, tags, feed link, published date)."""
    return parsed.filter(F.col("kind") == "entry").select(
        "url",
        F.col("feed_link").alias("feed"),
        "author",
        F.array_join("tags", "|").alias("tags"),
        "published_ms",
        "title",
    )
