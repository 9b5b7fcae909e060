"""Engine configuration.

Field-for-field mirror of the semantically load-bearing keys of the
reference's ``conf/nutch-default.xml`` (values extracted from that file;
the fork's config wins over code defaults, e.g. adaptive ``inc_rate``
0.4 at nutch-default.xml:580-620 vs. the 0.2 code default at
AdaptiveFetchSchedule.java:87 — SURVEY.md header note 3).

All times are integer milliseconds or integer seconds exactly as in the
reference — no TimestampType anywhere (parity arithmetic is integer ms,
AbstractFetchSchedule.java:121).
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class NutchConfig:
    # --- crawldb / updatedb (conf/nutch-default.xml) ---
    db_fetch_interval_default: int = 2592000  # 30 d, db.fetch.interval.default
    db_fetch_interval_max: int = 7776000  # 90 d, db.fetch.interval.max
    db_fetch_retry_max: int = 3  # db.fetch.retry.max
    db_fetch_schedule: str = "default"  # default | adaptive
    db_update_additions_allowed: bool = True  # db.update.additions.allowed
    db_update_purge_404: bool = False  # db.update.purge.404
    db_update_purge_orphans: bool = False  # db.update.purge.orphans
    # updatedb_incremental dispatch threshold: use the fingerprint-split
    # bypass (updatedb_split) only when segment rows < this fraction of
    # crawldb rows. Measured on the 20M-frontier scaling fixture
    # (BENCH/MEASUREMENT_LOG.md round-3f): at touched fraction 0.31 the
    # plain full merge beats the split at local[4] (55.3s vs 64.2s) and
    # scales better (3.10x vs 2.30x 1->4) because the split's broadcast
    # hash-relation builds are driver-serial; at the true frontier
    # regime (topN << frontier, e.g. 10^7 touched of 10^10) the split's
    # bypass of the untouched 99.9% dominates everything else.
    db_update_incremental_max_touched: float = 0.15
    db_injector_overwrite: bool = False  # db.injector.overwrite
    db_injector_update: bool = False  # db.injector.update
    db_score_injected: float = 1.0  # db.score.injected
    db_score_link_internal: float = 1.0  # db.score.link.internal
    db_score_link_external: float = 1.0  # db.score.link.external
    db_max_outlinks_per_page: int = 100  # db.max.outlinks.per.page
    db_max_outlink_length: int = 4096  # db.max.outlink.length
    db_ignore_internal_links: bool = False  # db.ignore.internal.links
    db_ignore_external_links: bool = False  # db.ignore.external.links

    # --- adaptive fetch schedule (nutch-default.xml:580-620; fork values) ---
    adaptive_inc_rate: float = 0.4
    adaptive_dec_rate: float = 0.2
    adaptive_min_interval: float = 60.0
    adaptive_max_interval: float = 31536000.0  # 365 d
    adaptive_sync_delta: bool = True
    adaptive_sync_delta_rate: float = 0.3
    # db.fetch.schedule.mime.file rows: ((mime, inc_rate, dec_rate), ...)
    mime_schedule_rates: tuple = ()

    # --- generate (Generator.java + nutch-default.xml) ---
    generate_max_count: int = -1  # generate.max.count (-1 = unlimited)
    generate_count_mode: str = "host"  # generate.count.mode: host | domain
    generate_min_score: float = 0.0  # generate.min.score
    # generate.min.interval: only datums with fetchInterval <= this are
    # generated (Generator.java:287-291); -1 = off
    generate_min_interval: int = -1
    generate_restrict_status: str | None = None  # generate.restrict.status
    generate_update_crawldb: bool = False  # generate.update.crawldb
    # numReduceTasks of the select job: the reducer budget is
    # topN/numReduceTasks per partition (Generator.java:396-397); >1
    # makes the windowed quota fully partition-parallel (scale mode)
    generate_num_reducers: int = 1
    crawl_gen_delay_ms: int = 604800000  # crawl.gen.delay = 7 d
    partition_url_mode: str = "byHost"  # partition.url.mode: byHost|byDomain|byIP

    # --- fetcher politeness (nutch-default.xml:1010-1075) ---
    fetcher_server_delay: float = 5.0  # s, fetcher.server.delay
    fetcher_threads_per_queue: int = 1  # fetcher.threads.per.queue
    fetcher_max_crawl_delay: float = 30.0  # s, fetcher.max.crawl.delay
    fetcher_queue_mode: str = "byHost"  # fetcher.queue.mode
    fetcher_max_exceptions_per_queue: int = -1  # fetcher.max.exceptions.per.queue
    fetcher_exceptions_per_queue_delay: float = 10.0  # backoff base, s
    fetcher_timelimit_mins: int = -1  # fetcher.timelimit.mins
    # throughput killer (Fetcher.java:311-338): kill the task's queues
    # when pages/sec stays below the threshold for `retries` consecutive
    # seconds, once `check_after` minutes have elapsed
    fetcher_throughput_threshold_pages: int = -1  # fetcher.throughput.threshold.pages
    fetcher_throughput_threshold_retries: int = 5  # fetcher.throughput.threshold.retries
    fetcher_throughput_check_after_mins: int = 5  # fetcher.throughput.threshold.check.after
    # bandwidth auto-scaling controller (F11, Fetcher.java:263-412):
    # every check the 1 Hz monitor compares bits/sec since the last
    # check against the target and adds/halts fetcher threads
    fetcher_threads_fetch: int = 10  # fetcher.threads.fetch
    fetcher_bandwidth_target_kbps: int = -1  # fetcher.bandwidth.target (kbit/s)
    fetcher_bandwidth_check_every_secs: int = 30  # fetcher.bandwidth.target.check.everyNSecs
    fetcher_max_num_threads: int = -1  # fetcher.maxNum.threads (< threads => threads)

    # in-fetch outlink following (F9, FetcherThread.java:840-886):
    # depth <= 0 disables; num.links caps follows per page; the config
    # default for ignore.external is true (nutch-default.xml:1241-1246 —
    # the file wins over FetcherThread.java:231's `false` code default,
    # per this module's header rule)
    fetcher_follow_outlinks_depth: int = -1  # fetcher.follow.outlinks.depth
    fetcher_follow_outlinks_num_links: int = 4  # fetcher.follow.outlinks.num.links
    fetcher_follow_outlinks_ignore_external: bool = True  # fetcher.follow.outlinks.ignore.external

    # --- dedup (DeduplicationJob.java:284) ---
    dedup_compare_order: str = "score,fetchTime,urlLength"
    dedup_group_mode: str = "none"  # none | host | domain

    # --- urlmeta plugin (URLMetaScoringFilter) ---
    urlmeta_tags: tuple = ()  # urlmeta.tags: metadata keys to propagate

    # --- scoring-depth plugin (DepthScoringFilter) ---
    scoring_depth_enabled: bool = False  # plugin.includes ~ scoring-depth
    scoring_depth_max: int = 1000  # scoring.depth.max
    scoring_depth_override_pattern: str | None = None  # scoring.depth.override.pattern
    scoring_depth_max_override: int = 10  # scoring.depth.max.override

    # --- linkdb ---
    linkdb_max_inlinks: int = 10000  # linkdb.max.inlinks
    linkdb_max_anchor_length: int = 100  # linkdb.max.anchor.length
    linkdb_ignore_internal_links: bool = True  # linkdb.ignore.internal.links
    linkdb_ignore_external_links: bool = False

    # --- engine / physical execution knobs (ours, not Nutch's) ---
    # unread by the engine (get_spark sets spark.sql.shuffle.partitions);
    # kept because perfbench/run.py constructs NutchConfig with it
    shuffle_partitions: int = 32
    fetch_partitions: int = 32  # numLists equivalent (Generator numLists)
    partition_url_seed: int = 42  # partition.url.seed analogue, injected

    def with_(self, **kw) -> "NutchConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = NutchConfig()
