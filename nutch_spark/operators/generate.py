"""Generate — selection, top-N, per-host caps, politeness partitioning.

Re-expresses ``crawl/Generator.java`` (3 chained MR jobs, :818-996) as
one Spark job with three stages:

G1 select (SelectorMapper :218-300): chained column filters —
  - URLFilters (optional, pandas UDF);
  - **fork rule**: only ``db_unfetched`` rows are ever generated
    (:234-237 — refetching never happens in this fork);
  - ``shouldFetch`` (fetchTime <= curTime with far-future clamp,
    AbstractFetchSchedule.java:195-210);
  - ``_ngt_`` generate-delay re-block (:247-255, crawl.gen.delay=7d);
  - Spark-SQL expr filter (behavioral substitution for JEXL, T14);
  - restrict-status / min score / max interval (:274-291);
  - sort value = score * 1.0f (OPIC generatorSortValue).

G2 quota (SelectorReducer :391-566): topN + ``generate.max.count`` per
  host/domain with segment spill, as windows: a per-host ``row_number``
  caps any host to maxCount*maxNumSegments rows BEFORE any global
  shuffle (the reference's own skew bound, :509-552), hosts without a
  cap spill across segments by rank, and a per-segment window applies
  the reducer budget. With no cap, no hostdb and one reducer it is
  ``orderBy.limit`` (TakeOrdered, a distributed partial top-N) plus one
  window over the pruned <=topN*segments rows.

  With one reducer this equals the reducer loop (:427-561) when there
  is one segment or no host has a cap. With caps and
  ``maxNumSegments > 1`` it does not: the loop moves a capped host on
  to the next segment once the current one is full, while here a
  capped host's row ranks into segment ``ceil(rank/maxCount)`` and is
  dropped if that segment's budget is spent. Minimal case: ``h1`` scores 3, ``h2`` scores 1, maxCount=2,
  topN=1, 2 segments — the loop gives ``h2`` segment 2; this drops it.
  A hostdb cap <= 0 also differs: the loop reads it as uncapped, the
  windows drop the host.
  ``tests/test_generate.py`` holds the loop as a plain-Python oracle.

G3 partition (:998-1042): repartition by URLPartitioner host-hash with
  an injected seed (politeness unit = partition, host never spans two)
  and sort within partitions by the HashComparator url-hash
  (:605-635) so hosts interleave inside each fetch list.

G4 mark (:640-689): fetchlist rows carry ``gen_time=genTime`` (the
  mapper stamps ``_ngt_`` before writing, :296-298); with
  ``generate.update.crawldb`` the mark is joined back into the db (J3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.schedules import should_fetch
from nutch_spark.schema import STATUS_DB_UNFETCHED
from nutch_spark.urls.filters import url_filter_cond
from nutch_spark.urls.urlutil import (
    domain_expr,
    domain_udf,
    host_expr,
    host_udf,
    partition_hash_udf,
    url_hash32_udf,
)


def select_eligible(
    crawldb: DataFrame,
    cfg: NutchConfig,
    cur_time: int,
    *,
    url_filter_rules: list[str] | None = None,
    expr: str | None = None,
    jexl: str | None = None,
) -> DataFrame:
    """G1: eligibility filters + sort value; returns datums + ``sort`` col.

    ``expr`` takes a Spark-SQL boolean (the repo's long-standing T14
    substitution); ``jexl`` takes the reference's own ``generate.expr``
    JEXL syntax (Generator.java evaluates it via
    ``datum.execute(expr, url)``, CrawlDatum.java:569-612) compiled to
    a JVM Column over the same variable names — see
    :mod:`nutch_spark.jexl`."""
    df = crawldb
    if url_filter_rules is not None:
        df = df.filter(url_filter_cond(F.col("url"), url_filter_rules))
    # fork: only pick unfetched URLs (Generator.java:234-237)
    df = df.filter(F.col("status") == STATUS_DB_UNFETCHED)

    eligible, adj_ft, adj_iv = should_fetch(cfg, F.col("fetch_time"), F.col("fetch_interval"), cur_time)
    df = (
        df.withColumn("fetch_time", adj_ft)
        .withColumn("fetch_interval", adj_iv)
        .filter(eligible)
    )
    # _ngt_ gen-delay re-block (:247-255)
    df = df.filter(
        F.col("gen_time").isNull()
        | (F.col("gen_time") + F.lit(cfg.crawl_gen_delay_ms) <= F.lit(cur_time))
    )
    # OPIC generatorSortValue = score * initSort(1.0f)
    df = df.withColumn("sort", (F.col("score") * F.lit(1.0).cast("float")).cast("float"))
    if cfg.scoring_depth_enabled:
        # DepthScoringFilter.generatorSortValue chained after OPIC:
        # boost by remaining depth budget (scoring-depth plugin)
        from nutch_spark.operators.depth import depth_sort_value

        df = df.withColumn(
            "sort", depth_sort_value(F.col("sort"), F.col("metadata"), cfg)
        )
    if expr:
        df = df.filter(F.expr(expr))
    if jexl:
        from nutch_spark.jexl import crawldatum_resolver, jexl_filter_column

        df = df.filter(jexl_filter_column(jexl, crawldatum_resolver()))
    # NOTE: per the fork rule above, restrict-status is only reachable
    # for db_unfetched — the reference's own mapper returns early for
    # every other status before this check (Generator.java:234-237 vs
    # :274-277), and we mirror that ordering exactly
    if cfg.generate_restrict_status:
        from nutch_spark import schema as S

        code = {v: k for k, v in S.STATUS_NAMES.items()}[cfg.generate_restrict_status]
        df = df.filter(F.col("status") == code)
    if cfg.generate_min_score > 0.0:
        df = df.filter(F.col("sort") >= F.lit(cfg.generate_min_score).cast("float"))
    # generate.min.interval: only entries with fetchInterval <= threshold
    # are generated (INTERVAL_REJECTED, Generator.java:287-291)
    if cfg.generate_min_interval != -1:
        df = df.filter(F.col("fetch_interval") <= cfg.generate_min_interval)
    return df


def _host_key(cfg: NutchConfig) -> F.Column:
    # HOT-PATH NOTE (A/B at 20M urls, local[4], BENCH/MEASUREMENT_LOG.md
    # 2026-08-18): the pandas twin beats host_expr here — 37s vs 52s for
    # the whole generate stage. host_key feeds .filter(isNotNull) plus
    # two window keys; Catalyst clones the inlined regexp_extract through
    # the pushed-down filter (and nullif() doubles it again per CASE
    # expansion), so the "codegen" regex runs up to 4x per row, while an
    # ArrowEvalPython node is a cloning barrier: one C-level pandas regex
    # pass per batch, materialized once. host_expr/domain_expr remain the
    # right choice where the value is consumed once (fetch queue key,
    # dedup/webgraph/stats domains) or feeds a pandas UDF input.
    if cfg.generate_count_mode == "domain" and cfg.generate_max_count != -1:
        return F.lower(domain_udf()(F.col("url")))
    return F.lower(host_udf()(F.col("url")))


def apply_quota_windowed(
    df: DataFrame, cfg: NutchConfig, top_n: int, max_num_segments: int,
    num_reducers: int = 1,
) -> DataFrame:
    """G2 quota. Adds ``segnum`` (1-based); drops over-quota rows.

    ``num_reducers`` mirrors the reference exactly: the SelectorReducer
    budget is ``limit = topN / numReduceTasks`` applied *independently
    per reducer partition* (Generator.java:396-397) — the reference's
    top-N is per-partition, not global. With num_reducers=1 (default,
    the oracle/test configuration) the quota is the exact global one;
    with R>1 rows are partitioned by host hash (hosts never split, so
    per-host caps stay exact) and every window below is
    partition-parallel — no global sort anywhere, which is what lets
    this scale to a 10^10-row frontier.
    """
    max_count = cfg.generate_max_count
    order = [F.desc("sort"), F.asc("url")]  # deterministic tie-break
    if num_reducers > 1:
        limit = max(1, top_n // num_reducers)
        part = F.pmod(F.xxhash64("host_key", F.lit(cfg.partition_url_seed)), num_reducers)
        df = df.withColumn("_red", part)
        red = ["_red"]
    else:
        limit = top_n
        red = []
    has_hdb = "_hdb_max_count" in df.columns
    if max_count > 0 or has_hdb:
        # per-row cap: hostdb override first (variable maxCount,
        # Generator.java:445-457), else the config cap; null = uncapped
        if has_hdb and max_count > 0:
            capc = F.coalesce(F.col("_hdb_max_count"), F.lit(max_count).cast("int"))
        elif has_hdb:
            capc = F.col("_hdb_max_count")
        else:
            capc = F.lit(max_count).cast("int")
        w_host = Window.partitionBy("host_key").orderBy(*order)
        df = df.withColumn("rn_host", F.row_number().over(w_host))
        df = df.filter(capc.isNull() | (F.col("rn_host") <= capc * max_num_segments))
        # rows from hosts WITHOUT a cap (hostdb present but no
        # _hdb_max_count for the host, config cap -1) still spill across
        # segments by rank like the reference reducer loop — pinning them
        # to segment 1 would let rn_seg<=limit silently DROP over-budget
        # rows that the reference rotates into segments 2..max
        w_part = (
            Window.partitionBy(*red)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        rn_uncapped = F.sum(F.when(capc.isNull(), 1).otherwise(0)).over(w_part)
        df = df.withColumn(
            "segnum",
            F.when(
                capc.isNull(),
                ((rn_uncapped - 1) / F.lit(limit)).cast("int") + 1,
            ).otherwise(((F.col("rn_host") - 1) / capc).cast("int") + 1),
        ).filter(F.col("segnum") <= max_num_segments)
        # per-segment reducer budget (`limit`, :396-397)
        w_seg = Window.partitionBy(*red, "segnum").orderBy(*order)
        df = df.withColumn("rn_seg", F.row_number().over(w_seg)).filter(
            F.col("rn_seg") <= limit
        )
        return df.drop("rn_host", "rn_seg", *red)
    if num_reducers > 1:
        w = Window.partitionBy(*red).orderBy(*order)
        df = df.withColumn("rn", F.row_number().over(w))
        df = df.filter(F.col("rn") <= limit * max_num_segments)
        df = df.withColumn("segnum", ((F.col("rn") - 1) / limit).cast("int") + 1)
        return df.filter(F.col("segnum") <= max_num_segments).drop("rn", *red)
    # single reducer: global TakeOrdered prune, then exact segment ranks
    pruned = df.orderBy(*order).limit(top_n * max_num_segments)
    w = Window.orderBy(*order)
    pruned = pruned.withColumn("rn", F.row_number().over(w))
    pruned = pruned.withColumn("segnum", ((F.col("rn") - 1) / top_n).cast("int") + 1)
    return pruned.filter(F.col("segnum") <= max_num_segments).drop("rn")


def politeness_partition(
    df, cfg: NutchConfig, num_lists: int, dns=None, part_key=None
):
    """G3: explicit URLPartitioner partition id + url-hash interleave
    sort (URLPartitioner.java:76-108). A politeness unit (host / domain /
    IP) never spans two fetch lists; AQE never coalesces an explicit
    repartition-by-column with a fixed N.

    byIP resolves through the ``dns`` (host, ip) fixture — an unresolved
    host keeps hashCode 0, i.e. the empty-string key (the reference's
    exception path leaves hashCode at its 0 initial, :96-101)."""
    if cfg.partition_url_mode == "byIP":
        if dns is None:
            raise ValueError("partition.url.mode=byIP requires a dns fixture (host, ip)")
        df = df.withColumn("_ph", host_expr(F.col("url"))).join(
            F.broadcast(dns.select(F.col("host").alias("_ph"), F.col("ip").alias("_pip"))),
            "_ph",
            "left",
        )
        part_key = F.coalesce(F.col("_pip"), F.lit(""))  # "".hashCode() == 0
    elif part_key is not None:
        pass  # caller-provided precomputed key (generate reuses host_key)
    elif cfg.partition_url_mode == "byDomain":
        part_key = domain_expr(F.col("url"))
    else:
        part_key = host_expr(F.col("url"))
    # HOT-PATH NOTE (measured at 20M urls, BENCH/MEASUREMENT_LOG.md
    # 2026-08-18): JVM aggregate-fold hashes evaluate the per-char lambda
    # INTERPRETED — 4.2x slower than the Arrow+numpy Horner for url_hash
    # (63s vs 15s at local[4]) and a wash for the host-keyed partition
    # hash (which caches per unique host on the pandas side). The one
    # such fold left, urlutil.java_hashcode_expr, serves small columns
    # (outlink-follow waves); the 20M-row generate path stays numpy.
    df = df.withColumn(
        "part_id", partition_hash_udf(cfg.partition_url_seed, num_lists)(part_key)
    )
    if cfg.partition_url_mode == "byIP":
        df = df.drop("_ph", "_pip")
    df = df.withColumn("url_hash", url_hash32_udf()(F.col("url")))
    return df.repartition(num_lists, F.col("part_id")).sortWithinPartitions("url_hash")


def hostdb_jexl_overrides(
    hostdb: DataFrame,
    max_count_expr: str | None = None,
    fetch_delay_expr: str | None = None,
) -> DataFrame:
    """Generator's variable per-host budgets (Generator.java:431-475):
    ``generate.max.count.expr`` / ``generate.fetch.delay.expr`` are JEXL
    scripts evaluated over the HostDatum counters
    (``createContext``, :350-389 — unfetched/fetched/gone/redirTemp/
    redirPerm/notModified/dnsFailures/connectionFailures + numeric
    metadata) whose results become the host's maxCount and fetch delay.
    Compiles them to JVM Columns producing the ``max_count`` /
    ``fetch_delay_ms`` columns :func:`generate` consumes; results are
    rounded like the reference's ``Math.round((double) ...)``."""
    from nutch_spark.jexl import hostdb_resolver, jexl_column

    out = hostdb
    res = hostdb_resolver(hostdb)

    def math_round(col):
        # Java Math.round = floor(x + 0.5) (half toward +inf);
        # F.round would take -0.5 to -1 instead of 0
        return F.floor(col.cast("double") + F.lit(0.5))

    if max_count_expr:
        out = out.withColumn(
            "max_count",
            math_round(jexl_column(max_count_expr, res)).cast("int"),
        )
    if fetch_delay_expr:
        out = out.withColumn(
            "fetch_delay_ms",
            math_round(jexl_column(fetch_delay_expr, res)).cast("long"),
        )
    return out


def generate(
    crawldb: DataFrame,
    cfg: NutchConfig,
    cur_time: int,
    gen_time: int | None = None,
    *,
    top_n: int = 50000,
    max_num_segments: int = 1,
    num_lists: int | None = None,
    url_filter_rules: list[str] | None = None,
    expr: str | None = None,
    jexl: str | None = None,
    hostdb: DataFrame | None = None,
    max_count_expr: str | None = None,
    fetch_delay_expr: str | None = None,
    dns: DataFrame | None = None,
) -> DataFrame:
    """Full generate: returns the fetchlist with columns = crawldb schema
    + (sort, host_key, segnum, part_id, url_hash). Rows are stamped with
    ``gen_time`` (the ``_ngt_`` mark, :296-298).

    ``hostdb``: optional (host[, max_count][, fetch_delay_ms]) table for
    per-host budget overrides (windowed quota mode).
    ``dns``: (host, ip) fixture, required for partition.url.mode=byIP
    (no resolver in this sandbox; SURVEY A4).

    Issue order within a fetch partition = ascending ``url_hash``
    (HashComparator interleave); the fetch stage sorts on it.
    """
    gen_time = cur_time if gen_time is None else gen_time
    num_lists = num_lists or cfg.fetch_partitions

    df = select_eligible(
        crawldb, cfg, cur_time,
        url_filter_rules=url_filter_rules, expr=expr, jexl=jexl,
    )
    df = df.withColumn("host_key", _host_key(cfg)).filter(F.col("host_key").isNotNull())

    # hostdb-driven per-host budgets (Generator.java:431-475): a hostdb
    # row may override generate.max.count (variable maxCount) and supply
    # a per-host fetch delay stamped into datum metadata as
    # ``_variableFetchDelay_`` (picked up by the fetch politeness clock,
    # FetchItemQueue.java:94-111). The reference evaluates JEXL over the
    # HostDatum; pass generate.max.count.expr / generate.fetch.delay.expr
    # via max_count_expr/fetch_delay_expr (compiled to JVM Columns by
    # hostdb_jexl_overrides) or pre-compute the (host, max_count,
    # fetch_delay_ms) columns directly.
    if hostdb is not None and (max_count_expr or fetch_delay_expr):
        hostdb = hostdb_jexl_overrides(hostdb, max_count_expr, fetch_delay_expr)
    if hostdb is not None:
        h = hostdb.select(
            F.lower(F.col("host")).alias("host_key"),
            *( [F.col("max_count").cast("int").alias("_hdb_max_count")]
               if "max_count" in hostdb.columns else [] ),
            *( [F.col("fetch_delay_ms").cast("long").alias("_hdb_fetch_delay")]
               if "fetch_delay_ms" in hostdb.columns else [] ),
        )
        df = df.join(F.broadcast(h), "host_key", "left")

    df = apply_quota_windowed(
        df, cfg, top_n, max_num_segments, num_reducers=cfg.generate_num_reducers
    )

    if hostdb is not None and "_hdb_fetch_delay" in df.columns:
        from nutch_spark.schema import META_VARIABLE_FETCH_DELAY

        stamped = F.when(
            F.col("_hdb_fetch_delay").isNotNull(),
            F.map_concat(
                F.coalesce(F.col("metadata"), F.expr("cast(map() as map<string,string>)")),
                F.map_from_arrays(
                    F.array(F.lit(META_VARIABLE_FETCH_DELAY)),
                    F.array(F.col("_hdb_fetch_delay").cast("string")),
                ),
            ),
        ).otherwise(F.col("metadata"))
        df = df.withColumn("metadata", stamped)
    df = df.drop("_hdb_max_count", "_hdb_fetch_delay")

    df = df.withColumn("gen_time", F.lit(gen_time).cast("long"))

    # G3: politeness partitioning — explicit partition id from the
    # URLPartitioner hash (byHost) with injected seed; repartition on it so
    # a host never spans two fetch lists. AQE never coalesces an explicit
    # repartition-by-column with a fixed N. When the quota key and the
    # partition key are the same unit (both host, or both domain), reuse
    # the already-materialized host_key instead of re-extracting it.
    key_is_domain = cfg.generate_count_mode == "domain" and cfg.generate_max_count != -1
    reuse = (cfg.partition_url_mode == "byHost" and not key_is_domain) or (
        cfg.partition_url_mode == "byDomain" and key_is_domain
    )
    part_key = F.col("host_key") if reuse else None
    return politeness_partition(df, cfg, num_lists, dns, part_key=part_key)


def mark_generated(crawldb: DataFrame, fetchlist: DataFrame) -> DataFrame:
    """J3 / G4: write the ``_ngt_`` mark back into the crawldb
    (Generator.java:640-689, generate.update.crawldb=true)."""
    marks = fetchlist.select("url", F.col("gen_time").alias("_new_gen_time"))
    out = crawldb.join(marks, "url", "left")
    return out.withColumn(
        "gen_time", F.coalesce(F.col("_new_gen_time"), F.col("gen_time"))
    ).drop("_new_gen_time")


def free_generate(
    spark,
    seed_path_or_df,
    cfg: NutchConfig,
    now_ms: int,
    *,
    num_lists: int | None = None,
    url_filter_rules: list[str] | None = None,
    dns: DataFrame | None = None,
) -> DataFrame:
    """FreeGenerator (S10, ``tools/FreeGenerator.java:1-240``): build a
    fetch list straight from seed text, skipping the CrawlDb — parse +
    normalize + filter the lines, dedup per url, then apply the same G3
    politeness partitioning as the regular generator (``dns`` fixture
    required for partition.url.mode=byIP, like generate())."""
    from nutch_spark.operators.inject import parse_seeds

    num_lists = num_lists or cfg.fetch_partitions
    seeds = parse_seeds(
        spark, seed_path_or_df, cfg, now_ms, url_filter_rules=url_filter_rules
    )
    df = seeds.groupBy("url").agg(
        F.max_by(
            F.struct(*[c for c in seeds.columns if c != "url"]),
            F.struct("score", "fetch_time"),
        ).alias("d")
    )
    df = df.select("url", *[F.col("d." + c).alias(c) for c in seeds.columns if c != "url"])
    df = df.withColumn("status", F.lit(STATUS_DB_UNFETCHED).cast("int"))
    df = df.withColumn("gen_time", F.lit(now_ms).cast("long"))
    return politeness_partition(df, cfg, num_lists, dns)
