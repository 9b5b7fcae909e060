"""CrawlDb update — THE core merge operator (J2 + state machine §2.4).

Re-expresses ``crawl/CrawlDbReducer.java:64-324`` — the reference's
MapReduce co-group of {crawldb, crawl_fetch, crawl_parse} by URL with an
in-reducer state machine — as a single Spark aggregation:

    unionByName(tagged inputs) -> groupBy(url).agg(
        max_by(db struct, fetch_time),          # latest old (:81-96)
        max_by(fetch struct, fetch_time),       # latest fetch (:98-112)
        top-K linked by score desc,             # priority queue (:60-61,:328-342)
        any signature datum (:125-127), any parse_meta datum (:128-130))
    -> one wide projection of `when` chains    # state machine (:144-312)

All state-machine logic is JVM column arithmetic (whole-stage codegen);
no Python touches the hot path. Float32 parity: score updates and
interval growth are computed in FloatType (OPIC adjust at
``scoring-opic/.../OPICScoringFilter.java:97-109``).

Input-order independence: the reference's MRUnit test shuffles reducer
inputs (``CrawlDbUpdateTestDriver.java:73``); our aggregation is
order-independent by construction.

Scale notes (10^10-URL frontier):
- one shuffle on url; partial aggregation happens map-side for max_by /
  collect_list; the linked top-K bound (10000, ``db.update.max.inlinks``)
  caps each URL's merged inlinks as the reference's priority queue
  does, but partial aggregation does not truncate ``collect_list``, so
  a URL with 10^8 inlink rows still gathers them all in one reducer
  before the slice;
- AQE skew-join/partition splitting stays ON for this stage (no
  politeness constraint here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators import schedules as S
from nutch_spark.schema import (
    DATUM_COLS,
    META_GENERATE_TIME,
    STATUS_DB_FETCHED,
    STATUS_DB_GONE,
    STATUS_DB_NOTMODIFIED,
    STATUS_DB_REDIR_PERM,
    STATUS_DB_REDIR_TEMP,
    STATUS_DB_UNFETCHED,
    STATUS_FETCH_GONE,
    STATUS_FETCH_NOTMODIFIED,
    STATUS_FETCH_REDIR_PERM,
    STATUS_FETCH_REDIR_TEMP,
    STATUS_FETCH_RETRY,
    STATUS_FETCH_SUCCESS,
    STATUS_LINKED,
    STATUS_PARSE_META,
    STATUS_SIGNATURE,
    new_datum,
)

from nutch_spark.schema import EMPTY_META_EXPR as _EMPTY_MAP
from nutch_spark.urls.urlseen import fingerprint_split


def _datum_struct() -> Column:
    # the datum minus its url (the grouping key)
    return F.struct(*DATUM_COLS[1:])


def updatedb(
    crawldb: DataFrame | None,
    segment_rows: DataFrame,
    cfg: NutchConfig,
    now_ms: int,
    *,
    max_inlinks: int = 10000,
) -> DataFrame:
    """Merge segment output into the CrawlDb; returns the new CrawlDb.

    ``segment_rows``: union of crawl_fetch and crawl_parse rows (fetch
    statuses + linked/signature/parse_meta transients), crawldb schema.
    ``now_ms``: injected clock for initializeSchedule of newly
    discovered URLs (replaces System.currentTimeMillis,
    AbstractFetchSchedule.java:75-76).
    """
    seg = segment_rows.select(*DATUM_COLS)
    if crawldb is not None:
        both = crawldb.select(*DATUM_COLS).unionByName(seg)
    else:
        both = seg

    is_db = (F.col("status") >= 0x01) & (F.col("status") <= 0x1F)
    is_fetch = (F.col("status") >= 0x20) & (F.col("status") <= 0x3F)
    is_link = F.col("status") == STATUS_LINKED
    is_sig = F.col("status") == STATUS_SIGNATURE
    is_meta = F.col("status") == STATUS_PARSE_META

    # link struct: score FIRST so array_sort orders by score (priority
    # queue ordering, CrawlDbReducer.java:334-341); no map fields so the
    # struct stays orderable.
    link_struct = F.struct(
        F.col("score").alias("score"),
        F.col("fetch_time").alias("fetch_time"),
        F.col("retries").alias("retries"),
        F.col("fetch_interval").alias("fetch_interval"),
        F.col("modified_time").alias("modified_time"),
    )

    agg = both.groupBy("url").agg(
        F.max_by(F.when(is_db, _datum_struct()), F.when(is_db, F.col("fetch_time"))).alias("old"),
        # tie-break by (fetch_time, fetch_interval, retries): the fork's
        # synthetic non-canonical success rows (ParseOutputFormat.java
        # :365-377) share the real fetch row's fetch_time but carry
        # interval/retries 0 — the richer real datum must win
        # deterministically (replay invariant)
        F.max_by(
            F.when(is_fetch, _datum_struct()),
            F.when(is_fetch, F.struct("fetch_time", "fetch_interval", "retries")),
        ).alias("fetch"),
        F.slice(
            F.reverse(F.array_sort(F.collect_list(F.when(is_link, link_struct)))),
            1,
            max_inlinks,
        ).alias("links"),
        F.max(F.when(is_sig, F.col("signature"))).alias("sig_datum"),
        F.max_by(F.when(is_meta, F.col("metadata")), F.when(is_meta, F.col("fetch_time"))).alias("parse_meta"),
    )

    o = lambda c: F.col("old." + c)  # noqa: E731
    has_old = F.col("old").isNotNull()
    has_real_fetch = F.col("fetch").isNotNull()
    top_link = F.element_at("links", 1)

    # "if there is no fetched datum, perhaps there is a link" (:148-152):
    # the highest-score linked datum acts as the fetch with STATUS_LINKED.
    agg = agg.withColumn(
        "fetch",
        F.when(has_real_fetch, F.col("fetch")).otherwise(
            F.when(
                F.size("links") > 0,
                # minus its url, as _datum_struct
                F.struct(*new_datum(
                    F.col("url"), STATUS_LINKED, top_link["fetch_time"],
                    retries=top_link["retries"],
                    fetch_interval=top_link["fetch_interval"],
                    score=top_link["score"],
                    modified_time=top_link["modified_time"],
                )[1:]),
            )
        ),
    )

    f = lambda c: F.col("fetch." + c)  # noqa: E731
    has_fetch = F.col("fetch").isNotNull()

    # row disposition (:144-172)
    keep_old_only = has_old & ~has_fetch
    drop = (~has_old & ~has_fetch) | (~has_old & ~F.lit(cfg.db_update_additions_allowed))
    agg = agg.filter(~drop)

    # ---- merged base (result.set(fetch) + metadata/modifiedTime merge, :174-194)
    signature = F.coalesce(F.col("sig_datum"), f("signature"))
    prev_modified = F.when(has_old, o("modified_time")).otherwise(F.lit(0).cast("long"))
    base_meta = F.map_concat(
        F.coalesce(o("metadata"), F.expr(_EMPTY_MAP)),
        F.coalesce(f("metadata"), F.expr(_EMPTY_MAP)),
    )  # old ∪ fetch, fetch wins (mapKeyDedupPolicy=LAST_WIN)
    base_modified = F.when(
        has_old & (o("modified_time") > 0) & (f("modified_time") == 0), o("modified_time")
    ).otherwise(f("modified_time"))

    # ---- modification state (:226-239; NUTCH-1422: signature comparison
    # only for fetch_success)
    st = f("status")
    success_family = st.isin(
        STATUS_FETCH_SUCCESS, STATUS_FETCH_REDIR_TEMP, STATUS_FETCH_REDIR_PERM, STATUS_FETCH_NOTMODIFIED
    )
    mod_state = (
        F.when(st == STATUS_FETCH_NOTMODIFIED, F.lit(S.STATUS_NOTMODIFIED))
        .when(
            (st == STATUS_FETCH_SUCCESS) & has_old & o("signature").isNotNull() & signature.isNotNull(),
            F.when(o("signature") != signature, F.lit(S.STATUS_MODIFIED)).otherwise(F.lit(S.STATUS_NOTMODIFIED)),
        )
        .otherwise(F.lit(S.STATUS_UNKNOWN))
    )

    # metadata for the success family additionally merges parse_meta (:219-223)
    succ_meta = F.map_concat(base_meta, F.coalesce(F.col("parse_meta"), F.expr(_EMPTY_MAP)))

    # ---- schedules over the success family (:241-243)
    if cfg.db_fetch_schedule == "adaptive":
        sched = S.adaptive_fetch_schedule(
            cfg, f("fetch_time"), f("modified_time"), f("fetch_interval"), mod_state, succ_meta
        )
    elif cfg.db_fetch_schedule == "mime_adaptive":
        sched = S.mime_adaptive_fetch_schedule(
            cfg, f("fetch_time"), f("modified_time"), f("fetch_interval"), mod_state, succ_meta
        )
    else:
        sched = S.default_fetch_schedule(
            cfg, f("fetch_time"), f("modified_time"), f("fetch_interval"), mod_state
        )
    gone_from_fetch = S.page_gone_schedule(cfg, f("fetch_time"), f("fetch_interval"))
    retry = S.page_retry_schedule(f("fetch_time"), f("retries"))
    retry_exhausted = retry["retries"] >= cfg.db_fetch_retry_max
    # retry-exhausted applies the gone schedule on top (:294-299); the gone
    # growth uses the datum's interval (unchanged by retry schedule)
    init = S.initialize_schedule(cfg, now_ms)

    is_linked_fetch = st == STATUS_LINKED
    is_retry = st == STATUS_FETCH_RETRY
    is_gone = st == STATUS_FETCH_GONE
    notmod = mod_state == S.STATUS_NOTMODIFIED

    # per-field state machine -------------------------------------------------
    def machine(keep_old: Column, linked_new: Column, succ: Column, nm: Column, rt: Column, gn: Column) -> Column:
        """Dispatch: old-only | linked(no old -> new) | success-family
        (modified vs notmodified) | retry | gone."""
        return (
            F.when(keep_old_only | (is_linked_fetch & has_old), keep_old)
            .when(is_linked_fetch, linked_new)
            .when(success_family & notmod, nm)
            .when(success_family, succ)
            .when(is_retry, rt)
            .otherwise(gn)  # STATUS_FETCH_GONE
        )

    new_status = machine(
        keep_old=o("status"),
        linked_new=F.lit(STATUS_DB_UNFETCHED),
        succ=F.when(st == STATUS_FETCH_SUCCESS, STATUS_DB_FETCHED)
        .when(st == STATUS_FETCH_REDIR_PERM, STATUS_DB_REDIR_PERM)
        .when(st == STATUS_FETCH_REDIR_TEMP, STATUS_DB_REDIR_TEMP)
        .otherwise(F.when(has_old, o("status")).otherwise(F.lit(STATUS_DB_UNFETCHED))),
        nm=F.lit(STATUS_DB_NOTMODIFIED),
        rt=F.when(retry_exhausted, STATUS_DB_GONE).otherwise(STATUS_DB_UNFETCHED),
        gn=F.lit(STATUS_DB_GONE),
    )
    new_fetch_time = machine(
        keep_old=o("fetch_time"),
        linked_new=init["fetch_time"].cast("long"),
        succ=sched["fetch_time"],
        nm=sched["fetch_time"],
        rt=F.when(retry_exhausted, gone_from_fetch["fetch_time"]).otherwise(retry["fetch_time"]),
        gn=gone_from_fetch["fetch_time"],
    )
    new_interval = machine(
        keep_old=o("fetch_interval"),
        linked_new=init["fetch_interval"],
        succ=sched["fetch_interval"],
        nm=sched["fetch_interval"],
        rt=F.when(retry_exhausted, gone_from_fetch["fetch_interval"]).otherwise(f("fetch_interval")),
        gn=gone_from_fetch["fetch_interval"],
    )
    new_retries = machine(
        keep_old=o("retries"),
        linked_new=init["retries"],
        succ=sched["retries"],
        nm=sched["retries"],
        rt=retry["retries"].cast("int"),
        gn=f("retries"),
    )
    new_signature = machine(
        keep_old=o("signature"),
        linked_new=F.lit(None).cast("string"),
        succ=signature,
        nm=F.when(has_old, o("signature")).otherwise(f("signature")),  # NUTCH-1341 (:245-253)
        rt=F.when(has_old, o("signature")).otherwise(f("signature")),
        gn=F.when(has_old, o("signature")).otherwise(f("signature")),
    )
    new_modified = machine(
        keep_old=o("modified_time"),
        linked_new=base_modified,
        succ=sched["modified_time"],
        nm=prev_modified,  # NUTCH-1341: reset lastModified
        rt=base_modified,
        gn=base_modified,
    )
    new_metadata = machine(
        keep_old=o("metadata"),
        linked_new=base_meta,
        succ=succ_meta,
        nm=succ_meta,
        rt=base_meta,
        gn=base_meta,
    )
    new_repr = machine(
        keep_old=o("repr_url"),
        linked_new=f("repr_url"),
        succ=f("repr_url"),
        nm=f("repr_url"),
        rt=f("repr_url"),
        gn=f("repr_url"),
    )

    # forceRefetch when interval exceeds db.fetch.interval.max (:276-281),
    # success family only (success_family is already false for linked
    # rows — st == STATUS_LINKED — and null for keep-old-only rows,
    # where st itself is null, so no extra guards are needed)
    force = success_family & (F.lit(cfg.db_fetch_interval_max) < new_interval)
    forced_iv = F.round(
        F.lit(cfg.db_fetch_interval_max).cast("float") * F.lit(0.9).cast("float")
    ).cast("int")
    new_status = F.when(force, F.lit(STATUS_DB_UNFETCHED)).otherwise(new_status)
    new_interval = F.when(force, forced_iv).otherwise(new_interval)
    new_retries = F.when(force, F.lit(0)).otherwise(new_retries)
    new_signature = F.when(force, F.lit(None).cast("string")).otherwise(new_signature)
    new_modified = F.when(force, F.lit(0).cast("long")).otherwise(new_modified)

    # ---- OPIC updateDbScore: score += Σ inlink scores, float32
    # (OPICScoringFilter.java:97-109); the no-new-data path skips it (:155-172)
    link_sum = F.aggregate(
        F.col("links"),
        F.lit(0.0).cast("float"),
        lambda acc, x: (acc + x["score"]).cast("float"),
    )
    base_score = (
        F.when(keep_old_only, o("score"))
        .when(is_linked_fetch & has_old, o("score"))  # result=old, then +adjust
        .when(is_linked_fetch, F.lit(0.0).cast("float"))  # OPIC initialScore
        .when(has_old, o("score"))
        .otherwise(f("score"))
    )
    new_score = F.when(keep_old_only, o("score")).otherwise((base_score + link_sum).cast("float"))

    # strip _ngt_ (:319-320); gen_time column is its hoisted twin
    new_metadata = F.map_filter(new_metadata, lambda k, _: k != META_GENERATE_TIME)
    new_gen_time = F.when(keep_old_only, o("gen_time")).otherwise(F.lit(None).cast("long"))

    out = agg.select(
        F.col("url"),
        new_status.cast("int").alias("status"),
        new_fetch_time.cast("long").alias("fetch_time"),
        new_retries.cast("int").alias("retries"),
        new_interval.cast("int").alias("fetch_interval"),
        new_score.cast("float").alias("score"),
        new_signature.alias("signature"),
        new_modified.cast("long").alias("modified_time"),
        new_metadata.alias("metadata"),
        new_gen_time.alias("gen_time"),
        new_repr.alias("repr_url"),
    )
    return out


def crawldb_filter(
    df: DataFrame,
    cfg: NutchConfig,
    *,
    url_normalize: bool = False,
    url_filter_rules: list[str] | None = None,
) -> DataFrame:
    """CrawlDbFilter map-side pass (crawl/CrawlDbFilter.java:74-117):
    optional 404-purge (drop db_gone), orphan purge, re-normalize and
    re-filter URLs."""
    from nutch_spark.schema import STATUS_DB_ORPHAN
    from nutch_spark.urls.filters import url_filter_cond
    from nutch_spark.urls.normalizer import normalize_col

    if cfg.db_update_purge_404:
        df = df.filter(F.col("status") != STATUS_DB_GONE)
    if cfg.db_update_purge_orphans:
        df = df.filter(F.col("status") != STATUS_DB_ORPHAN)
    if url_normalize:
        df = df.withColumn("url", normalize_col(F.col("url"), "crawldb")).filter(
            F.col("url").isNotNull()
        )
    if url_filter_rules is not None:
        df = df.filter(url_filter_cond(F.col("url"), url_filter_rules))
    return df


def updatedb_split(
    crawldb: DataFrame,
    segment_rows: DataFrame,
    cfg: NutchConfig,
    now_ms: int,
    **kw,
) -> DataFrame:
    """updatedb through the fingerprint URL-seen split.

    At frontier scale the plain merge shuffles the entire CrawlDb every
    cycle even though a cycle touches ≤ topN + discovered-outlink URLs.
    Here the CrawlDb is split by the broadcast fingerprints of the
    *segment's* URLs (:func:`nutch_spark.urls.urlseen.fingerprint_split`):

    - untouched rows (provably not in the segment: the split has no
      false negatives) bypass the merge entirely: no shuffle, emitted
      as-is, exactly the reducer's "no new data, emit old" path
      (CrawlDbReducer.java:155-172);
    - touched rows (including fingerprint collisions) go through the
      exact :func:`updatedb` state machine; a collision has no segment
      rows, lands in keep_old_only, and comes out unchanged.

    Result is row-identical to ``updatedb(crawldb, segment_rows, ...)``.
    """
    touched, untouched = fingerprint_split(crawldb, segment_rows)
    merged = updatedb(touched, segment_rows, cfg, now_ms, **kw)
    return merged.unionByName(untouched.select(*merged.columns))


def updatedb_incremental(
    crawldb: DataFrame | None,
    segment_rows: DataFrame,
    cfg: NutchConfig,
    now_ms: int,
    **kw,
) -> DataFrame:
    """updatedb that takes :func:`updatedb_split` when a cycle touches
    a small share of the CrawlDb, and the plain merge otherwise.

    When the segment is a large fraction of the CrawlDb (row-count ratio
    ≥ ``cfg.db_update_incremental_max_touched``; segment rows
    over-count touched URLs, so the test is conservative toward the full
    merge) the plain single-shuffle merge is used. The threshold is set
    for CLUSTER economics, not single-box wall time: the split
    broadcasts one fingerprint per distinct segment URL to EVERY
    executor, so its cost grows as (touched x executors) while the
    shuffle it avoids shrinks with the untouched fraction — at 10^3
    executors and a dense (>15%) touch ratio the replicated broadcast
    dwarfs the saved shuffle, while in the true frontier regime (10^7
    touched of 10^10) the bypass of the untouched 99.9% dominates at any
    cluster size. A single-JVM probe reads the opposite at dense ratios
    precisely because local mode materializes the broadcast ONCE
    (BENCH/MEASUREMENT_LOG.md round-3i: fair per-variant probe at 31%
    touched, local[4] split 62.8s vs full 90.8s — both dispatches are
    measured, the constant chooses the cluster-honest one). The two
    counts spent here run over committed parquet in the crawl loop (the
    CrawlDb snapshot and the segment tables committed before the merge),
    so they are column-free parquet scans and re-execute no cycle
    lineage.

    Result is row-identical to ``updatedb(crawldb, segment_rows, ...)``
    on both paths.
    """
    if crawldb is not None:
        db_n = crawldb.count()
        if db_n and segment_rows.count() < cfg.db_update_incremental_max_touched * db_n:
            return updatedb_split(crawldb, segment_rows, cfg, now_ms, **kw)
    return updatedb(crawldb, segment_rows, cfg, now_ms, **kw)
