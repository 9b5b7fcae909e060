"""Inject — seed-list scan (S1) + inject merge (J1).

Re-expresses ``crawl/Injector.java``:

- seed parsing (:209-244): each line is ``url [\\t key=value]*``; blank
  lines and ``#`` comments skipped; reserved metadata keys
  ``nutch.score`` / ``nutch.fetchInterval`` / ``nutch.fetchInterval.fixed``
  override score / interval (:91-103, :172-207); everything else lands
  in the metadata map. Implemented with JVM-side ``split`` +
  ``map_from_entries`` — no Python in the parse path; only URL
  normalization's slow path (``normalize_col``) is a pandas UDF.
- merge rules (:292-348): the reference's co-group becomes a
  ``full_outer`` join (2 sides, no groupBy needed) + ``when`` logic:
  injected-only -> injected as db_unfetched; old-only -> old; both ->
  overwrite ? injected : old (optionally updated with injected
  meta/score/interval when ``db.injector.update``).

Scale: seeds are a text scan (narrow); the join shuffles on url only —
with crawldb bucketed/partitioned by url this is the cheapest possible
frontier merge. Broadcast is NOT used: at 10^10 frontier rows the seed
side may still be huge (sitemap injection), so a shuffle join with AQE
is the right default; Catalyst will broadcast small seed lists itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.schema import DATUM_COLS, META_FIXED_INTERVAL, STATUS_DB_UNFETCHED
from nutch_spark.urls.filters import url_filter_cond
from nutch_spark.urls.normalizer import normalize_col

RESERVED_SCORE = "nutch.score"
RESERVED_INTERVAL = "nutch.fetchInterval"
RESERVED_FIXED_INTERVAL = "nutch.fetchInterval.fixed"

from nutch_spark.schema import EMPTY_META_EXPR as _EMPTY_MAP


def parse_seeds(
    spark: SparkSession,
    path_or_df: str | DataFrame,
    cfg: NutchConfig,
    now_ms: int,
    *,
    url_filter_rules: list[str] | None = None,
    do_normalize: bool = True,
) -> DataFrame:
    """Seed text -> injected datums (status column omitted: these are the
    'injected' side of the merge; Injector.java:209-244)."""
    if isinstance(path_or_df, DataFrame):
        lines = path_or_df  # column 'value'
    else:
        lines = spark.read.text(path_or_df)

    # java.lang.String.trim() strips every char <= U+0020 (tabs, CR,
    # control chars) — F.trim only strips spaces, which would turn a
    # tab-indented seed line into an empty url + a discarded token
    def java_trim(c):
        return F.regexp_replace(c, r"^[\x00-\x20]+|[\x00-\x20]+$", "")

    lines = lines.select(java_trim(F.col("value")).alias("line")).filter(
        (F.length("line") > 0) & ~F.col("line").startswith("#")
    )
    parts = lines.select(
        F.split("line", "\t").alias("parts")
    ).select(
        java_trim(F.element_at("parts", 1)).alias("url"),
        F.slice("parts", 2, 1_000_000).alias("kvs"),
    )
    # key=value pairs; anything without '=' skipped (:178-181); value is
    # everything after the FIRST '=' (indexOf semantics)
    parts = parts.withColumn(
        "kv_entries",
        F.expr(
            "filter(transform(kvs, s -> struct(substring_index(s, '=', 1) as key,"
            " case when instr(s, '=') > 0 then substring(s, instr(s, '=') + 1) end as value)),"
            " e -> e.value is not null and e.key != '')"
        ),
    )
    meta = F.map_from_entries(F.col("kv_entries"))
    get = lambda k: F.element_at(meta, k)  # noqa: E731

    fixed = get(RESERVED_FIXED_INTERVAL).cast("int")
    has_fixed = fixed.isNotNull() & (fixed > -1)
    interval = F.coalesce(
        F.when(has_fixed, fixed),
        get(RESERVED_INTERVAL).cast("int"),
        F.lit(cfg.db_fetch_interval_default),
    )
    score = F.coalesce(get(RESERVED_SCORE).cast("float"), F.lit(cfg.db_score_injected).cast("float"))
    custom_meta = F.map_filter(
        meta, lambda k, _: ~k.isin(RESERVED_SCORE, RESERVED_INTERVAL, RESERVED_FIXED_INTERVAL)
    )
    custom_meta = F.when(has_fixed, F.map_concat(
        custom_meta, F.map_from_arrays(F.array(F.lit(META_FIXED_INTERVAL)), F.array(fixed.cast("float").cast("string")))
    )).otherwise(custom_meta)

    seeds = parts.select(
        F.col("url"),
        F.lit(now_ms).cast("long").alias("fetch_time"),
        F.lit(0).alias("retries"),
        interval.alias("fetch_interval"),
        score.alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        custom_meta.alias("metadata"),
        F.lit(None).cast("long").alias("gen_time"),
        F.lit(None).cast("string").alias("repr_url"),
    )

    if do_normalize:
        seeds = seeds.withColumn("url", normalize_col(F.col("url")))
    seeds = seeds.filter(F.col("url").isNotNull())
    if url_filter_rules is not None:
        seeds = seeds.filter(url_filter_cond(F.col("url"), url_filter_rules))
    return seeds


def inject(
    crawldb: DataFrame | None,
    seeds: DataFrame,
    cfg: NutchConfig,
) -> DataFrame:
    """Inject merge (Injector.InjectReducer, :292-348) as a full outer join."""
    # dedup seeds per url (the reference's reduce keeps the last injected
    # value; any single one is fine — keep max by score for determinism)
    s = seeds.groupBy("url").agg(
        F.max_by(
            F.struct(*[c for c in seeds.columns if c != "url"]), F.struct("score", "fetch_time")
        ).alias("inj")
    )
    if crawldb is None:
        return s.select(
            "url",
            F.lit(STATUS_DB_UNFETCHED).alias("status"),
            *[f"inj.{c}" for c in DATUM_COLS[2:]],
        )

    o = crawldb.select(
        "url", F.struct(*[c for c in crawldb.columns if c != "url"]).alias("old")
    )
    joined = s.join(o, "url", "full_outer")
    has_inj = F.col("inj").isNotNull()
    has_old = F.col("old").isNotNull()

    overwrite = F.lit(cfg.db_injector_overwrite)
    use_injected = has_inj & (~has_old | overwrite)
    upd = has_inj & has_old & F.lit(cfg.db_injector_update) & ~overwrite

    def field(name, default_expr=None):
        inj_v = F.col("inj." + name)
        old_v = F.col("old." + name)
        if name == "metadata":
            merged = F.map_concat(
                F.coalesce(old_v, F.expr(_EMPTY_MAP)), F.coalesce(inj_v, F.expr(_EMPTY_MAP))
            )
            return F.when(use_injected, inj_v).when(upd, merged).otherwise(old_v)
        if name == "score":
            # update keeps old score unless the injected score was customized
            return F.when(use_injected, inj_v).when(
                upd & (inj_v != F.lit(cfg.db_score_injected).cast("float")), inj_v
            ).otherwise(old_v)
        if name == "fetch_interval":
            return F.when(use_injected, inj_v).when(
                upd & (inj_v != cfg.db_fetch_interval_default), inj_v
            ).otherwise(old_v)
        return F.when(use_injected, inj_v).otherwise(old_v)

    status = F.when(use_injected, F.lit(STATUS_DB_UNFETCHED)).otherwise(F.col("old.status"))
    return joined.select(
        "url",
        status.cast("int").alias("status"),
        field("fetch_time").cast("long").alias("fetch_time"),
        field("retries").cast("int").alias("retries"),
        field("fetch_interval").cast("int").alias("fetch_interval"),
        field("score").cast("float").alias("score"),
        field("signature").alias("signature"),
        field("modified_time").cast("long").alias("modified_time"),
        field("metadata").alias("metadata"),
        field("gen_time").cast("long").alias("gen_time"),
        field("repr_url").alias("repr_url"),
    )


def inject_full(
    spark: SparkSession,
    crawldb: DataFrame | None,
    seed_path_or_df: str | DataFrame,
    cfg: NutchConfig,
    now_ms: int,
    *,
    url_filter_rules: list[str] | None = None,
    do_normalize: bool = True,
) -> DataFrame:
    """Convenience: parse seeds then merge into the crawldb."""
    seeds = parse_seeds(
        spark, seed_path_or_df, cfg, now_ms,
        url_filter_rules=url_filter_rules, do_normalize=do_normalize,
    )
    return inject(crawldb, seeds, cfg)
