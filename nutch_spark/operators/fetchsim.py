"""Fetch stage — simulated protocol with exact politeness accounting.

The reference fetcher is a thread-pool simulator (QueueFeeder + N
FetcherThreads over per-host FetchItemQueues, ``fetcher/Fetcher.java:60-93``).
Data-parallel re-expression: the per-host politeness clock
(``FetchItemQueue.java:119-170``: nextFetchTime = lastFinish +
crawlDelay, 1 thread per queue) is a **prefix sum over each host group**
— computed here with JVM-side window functions, zero Python in the hot
path:

    start_i = cycle_start + Σ_{j<i} (latency_j + delay_ms) + backoff_i

ordered by the G3 url-hash interleave within each host. Robots gating
(``FetcherThread.java:319-381``), the protocol-status -> fetch-status
switch (:405-487), exception backoff / queue kill
(``FetchItemQueues.java:279-325``), and the fetch time limit
(``Fetcher.java:221-223``) are all column expressions; redirect
discovery (:556-670, ``http.redirect.max``=0 -> emit STATUS_LINKED for
the next cycle) adds one exploded output; the representative-URL choice
(``URLUtil.chooseRepr``) is the single small pandas UDF.

Scale: one shuffle (by host, for the window); robots is a broadcast
join (per-host table is small relative to the frontier); outcomes/docs
join on url. The per-host generate cap (G2) has already bounded any
host's rows, so the window partitions are bounded — the same skew bound
the reference relies on (Generator.java:509-552).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.schema import (
    META_VARIABLE_FETCH_DELAY,
    STATUS_FETCH_GONE,
    STATUS_FETCH_NOTMODIFIED,
    STATUS_FETCH_REDIR_PERM,
    STATUS_FETCH_REDIR_TEMP,
    STATUS_FETCH_RETRY,
    STATUS_FETCH_SUCCESS,
    STATUS_LINKED,
    new_datum,
)
from nutch_spark.urls.urlutil import choose_repr, host_expr

from nutch_spark.schema import EMPTY_META_EXPR as _EMPTY_MAP

OUTCOME_TO_STATUS = {
    "success": STATUS_FETCH_SUCCESS,
    "notmodified": STATUS_FETCH_NOTMODIFIED,
    "moved": STATUS_FETCH_REDIR_PERM,
    "temp_moved": STATUS_FETCH_REDIR_TEMP,
    "gone": STATUS_FETCH_GONE,
    "notfound": STATUS_FETCH_GONE,
    "access_denied": STATUS_FETCH_GONE,
    "retry": STATUS_FETCH_RETRY,
    "blocked": STATUS_FETCH_RETRY,
    "exception": STATUS_FETCH_RETRY,
}


def _status_from_outcome(outcome: Column) -> Column:
    expr = None
    for k, v in OUTCOME_TO_STATUS.items():
        expr = F.when(outcome == k, v) if expr is None else expr.when(outcome == k, v)
    return expr.otherwise(STATUS_FETCH_GONE)  # unknown URL => notfound


def _choose_repr_udf():
    @F.pandas_udf("string")
    def _cr(src: pd.Series, dst: pd.Series, temp: pd.Series) -> pd.Series:
        return pd.Series(
            [
                choose_repr(s, d, bool(t)) if d is not None else None
                for s, d, t in zip(src, dst, temp)
            ]
        )

    return _cr


def attach_queue(df: DataFrame, cfg: NutchConfig, dns: DataFrame | None) -> DataFrame:
    """Adds ``host`` + the politeness queue id ``_queue`` per
    ``fetcher.queue.mode`` (FetchItem.create, fetcher/FetchItem.java:87-121).
    Robots rules stay host-keyed in every mode, so ``host`` is the real
    host and ``_queue`` the politeness unit."""
    df = df.withColumn("host", host_expr(F.col("url")))
    if cfg.fetcher_queue_mode == "byIP":
        if dns is None:
            raise ValueError("fetcher.queue.mode=byIP requires a dns fixture (host, ip)")
        df = df.join(
            F.broadcast(dns.select(F.col("host"), F.col("ip").alias("_queue"))),
            "host",
            "left",
        )
        # unresolved host => item skipped entirely, no host-name fallback
        # (FetchItem.java:101-104)
        return df.filter(F.col("_queue").isNotNull())
    if cfg.fetcher_queue_mode == "byDomain":
        from nutch_spark.urls.urlutil import domain_expr

        return df.withColumn("_queue", domain_expr(F.col("url")))
    return df.withColumn("_queue", F.col("host"))


def _backoff_cum_units(exc: Column) -> Column:
    """Cumulative exponential-backoff delay after ``exc`` queue
    exceptions, in units of the base delay. The k-th exception adds
    2^(k-1), capped at 2^32 from the 34th on (FetchItemQueues.java:
    295-301: ``exceptionDelay *= 2L << Math.min(excCount - 2, 31)``).
    Closed form of the partial sums: 2^j - 1 up to j = 33, then linear
    — everything stays < 2^53 per step, exact in a double."""
    jd = exc.cast("double")
    return F.when(exc <= 33, F.pow(F.lit(2.0), jd) - 1.0).otherwise(
        F.lit(float(2**33 - 1)) + (jd - 33.0) * F.lit(float(2**32))
    )


def fetch(
    fetchlist: DataFrame,
    robots: DataFrame,
    outcomes: DataFrame,
    cfg: NutchConfig,
    cycle_start_ms: int,
    *,
    dns: DataFrame | None = None,
    queue_clock: DataFrame | None = None,
    return_clock: bool = False,
):
    """Run the simulated fetch.

    Returns ``(crawl_fetch, redirect_links)``:
    - crawl_fetch: crawldb-schema rows with fetch statuses and the
      politeness-simulated actual fetch_time;
    - redirect_links: STATUS_LINKED rows for redirect targets
      (next-cycle discovery, http.redirect.max=0 semantics) carrying
      ``repr_url``.

    ``dns``: (host, ip) fixture table, required for
    ``fetcher.queue.mode=byIP`` (the sandbox has no resolver; SURVEY A4).

    ``queue_clock``: optional (``_queue``, ``_queue_start``[,
    ``_queue_exc``]) table — a queue's virtual clock starts there
    instead of ``cycle_start_ms`` (items appended to a live queue drain
    after what is already queued: the outlink-follow waves,
    FetcherThread.java:882), and ``_queue_exc`` seeds the queue's
    cumulative exception counter (FetchItemQueue's counter persists for
    the whole task, so backoff and the max-exceptions kill must carry
    across waves, not reset per wave). With ``return_clock=True`` the
    call returns ``(crawl_fetch, redirect_links, clock)``; ``clock``
    carries every queue ever seen (queues absent from this wave keep
    their prior clock — a wholesale replacement would restart them at
    cycle start), and crawl_fetch/redirect_links carry extra private
    columns (``gated``, ``latency_ms``, ``part_id``) so the caller can
    run the throughput killer once over the union of all waves
    (fetch_follow_outlinks strips them before returning).

    Within a queue, items drain by the G3 url-hash interleave — unless
    the fetchlist carries ``_fifo_seq`` (outlink-follow waves), which
    pins the reference's FIFO append order instead.
    """
    fl = attach_queue(fetchlist, cfg, dns)
    fl = fl.join(F.broadcast(robots), "host", "left")
    fl = fl.join(outcomes, "url", "left")

    path = F.regexp_replace("url", r"^https?://[^/]*", "")

    def _best_match(col):
        # longest-matching rule prefix length, -1 when nothing matches
        arr = F.coalesce(col, F.array().cast("array<string>"))
        return F.coalesce(
            F.array_max(
                F.transform(
                    arr, lambda p: F.when(path.startswith(p), F.length(p)).otherwise(-1)
                )
            ),
            F.lit(-1),
        )

    if "allow" in robots.columns:
        # longest-match-wins with Allow winning ties (urls/robots.py
        # semantics, crawler-commons / SimpleRobotRulesParser)
        rule_denied = _best_match(F.col("disallow")) > _best_match(F.col("allow"))
    else:
        rule_denied = F.when(
            F.col("disallow").isNotNull(),
            F.exists("disallow", lambda p: path.startswith(p)),
        ).otherwise(F.lit(False))
    robots_denied = rule_denied | F.coalesce(F.col("forbid_all"), F.lit(False))
    delay_skip = F.coalesce(F.col("crawl_delay"), F.lit(0.0)) > cfg.fetcher_max_crawl_delay
    deferred = F.coalesce(F.col("defer_visits"), F.lit(False))
    is_exception = F.col("outcome") == "exception"

    status = (
        F.when(robots_denied | delay_skip, F.lit(STATUS_FETCH_GONE))
        .when(deferred, F.lit(STATUS_FETCH_RETRY))
        .otherwise(_status_from_outcome(F.col("outcome")))
    )
    # gated items never enter the host queue => zero politeness cost
    gated = robots_denied | delay_skip | deferred
    # per-host delay: the hostdb variable fetch delay raises the queue's
    # minimum delay (FetchItemQueue.java:94-111), and the robots
    # Crawl-Delay is then clamped to at least that minimum
    # (FetcherThread.java:369-376) — so when both are present the LARGER
    # wins (greatest skips nulls); neither present => fetcher.server.delay
    var_delay = F.element_at(
        F.coalesce(F.col("metadata"), F.expr(_EMPTY_MAP)),
        F.lit(META_VARIABLE_FETCH_DELAY),
    ).cast("long")
    robots_delay_ms = F.when(
        F.col("crawl_delay").isNotNull() & ~delay_skip,
        (F.col("crawl_delay") * 1000).cast("long"),
    )
    delay_ms = F.coalesce(
        F.greatest(var_delay, robots_delay_ms),
        F.lit(int(cfg.fetcher_server_delay * 1000)).cast("long"),
    )
    cost = F.when(gated, F.lit(0).cast("long")).otherwise(
        F.coalesce(F.col("latency_ms"), F.lit(0).cast("long")) + delay_ms
    )

    if queue_clock is not None:
        fl = fl.join(F.broadcast(queue_clock), "_queue", "left")
        q_start = F.coalesce(F.col("_queue_start"), F.lit(cycle_start_ms).cast("long"))
        if "_queue_exc" in queue_clock.columns:
            exc_prior = F.coalesce(F.col("_queue_exc"), F.lit(0)).cast("int")
        else:
            exc_prior = F.lit(0)
    else:
        q_start = F.lit(cycle_start_ms).cast("long")
        exc_prior = F.lit(0)
    fl = fl.withColumn("_exc_prior", exc_prior)

    if "_fifo_seq" in fl.columns:
        # outlink-follow wave: FIFO append order (FetchItemQueue FIFO) —
        # append instant first (cross-queue interleave), then the
        # per-source-queue emission index, then url as the total order
        w = Window.partitionBy("_queue").orderBy("_fifo_t", "_fifo_seq", "url")
    else:
        w = Window.partitionBy("_queue").orderBy("url_hash", "url")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    # cumulative exception count INCLUDING earlier waves on this queue
    exc_before = F.col("_exc_prior") + F.coalesce(
        F.sum(F.when(is_exception & ~gated, 1).otherwise(0)).over(wprev), F.lit(0)
    )
    # exponential backoff: the k-th exception adds base*2^(k-1) ms of
    # delay (capped, see _backoff_cum_units); cumulative extra before
    # item i with p prior-wave exceptions (whose delays are already
    # baked into this queue's _queue_start) and j in-wave exceptions =
    # base*(cum(p+j) - cum(p))  (FetchItemQueues.java:279-325)
    backoff_ms = (
        F.lit(int(cfg.fetcher_exceptions_per_queue_delay * 1000))
        * (_backoff_cum_units(exc_before) - _backoff_cum_units(F.col("_exc_prior")))
    ).cast("long")
    ccost = F.coalesce(F.sum(cost).over(wprev), F.lit(0).cast("long"))
    if "_fifo_t" in fl.columns:
        # an appended item cannot start before it was discovered (its
        # source page fetched): start_i = max(prev_end_i, emit_i)
        # unrolls to adj_i + max(q_start, cummax_{j<=i}(emit_j - adj_j))
        # — a running-max window, still one shuffle. (Deviation, small:
        # emit is the source's fetch START; the reference appends on
        # parse completion — exact for same-queue follows, a few hundred
        # ms early for cross-queue ones.)
        # materialized first: Spark rejects a window expression nested
        # inside another window's argument
        fl = fl.withColumn("_adj", ccost + backoff_ms)
        wcur = w.rowsBetween(Window.unboundedPreceding, 0)
        emit_floor = F.max(F.col("_fifo_t") - F.col("_adj")).over(wcur)
        start_time = F.col("_adj") + F.greatest(q_start, emit_floor)
    else:
        start_time = q_start + ccost + backoff_ms

    fl = (
        fl.withColumn("fetch_start", F.when(gated, q_start).otherwise(start_time))
        .withColumn("exc_before", exc_before)
        .withColumn("fstatus", status)
        .withColumn("gated", gated)
        .withColumn("_cost", cost)
    )

    # queue kill after too many exceptions (fetcher.max.exceptions.per.queue):
    # the purge fires ON the exception that makes excCount >= max
    # (FetchItemQueues.java:306-311, `excCount >= maxExceptions`); the
    # triggering item was already processed and keeps its exception
    # status, so item i is purged iff the exceptions BEFORE it already
    # reached the trigger count max(max, 1) (max=0 still needs one
    # exception to fire the check — it only runs on exceptions)
    if cfg.fetcher_max_exceptions_per_queue >= 0:
        kill_at = max(cfg.fetcher_max_exceptions_per_queue, 1)
        fl = fl.filter(F.col("gated") | (F.col("exc_before") < kill_at))
    # F10 throughput killer (Fetcher.java:311-338): once check_after
    # minutes have elapsed, a run of `retries` consecutive wall seconds
    # in which the fetcher task completes fewer than `threshold` pages
    # empties the task's queues; items not yet started at the kill
    # instant are dropped without segment output (emptyQueues => they
    # stay db_unfetched; counter hitByThrougputThreshold). Re-expressed
    # on the virtual clock: per fetch partition, bucket completions by
    # second, locate the earliest bad run with a running-max window,
    # drop everything that starts after it.
    if cfg.fetcher_throughput_threshold_pages > 0:
        fl = _apply_throughput_killer(fl, cfg, cycle_start_ms)
        fl = fl.filter(~F.col("hit_throughput"))

    # fetch time limit: later items drain unprocessed (stay unfetched)
    if cfg.fetcher_timelimit_mins > 0:
        deadline = cycle_start_ms + cfg.fetcher_timelimit_mins * 60_000
        fl = fl.filter(F.col("gated") | (F.col("fetch_start") <= deadline))

    # no internal persist: callers materialize crawl_fetch/redirect_links
    # themselves, and an unreachable cached handle would leak one block-
    # manager entry per crawl cycle

    part = (
        F.col("part_id").cast("int") if "part_id" in fl.columns
        else F.lit(0).cast("int")
    )
    tk_cols = (
        # private columns for the caller's cross-wave throughput killer
        # (fetch_follow_outlinks strips them before returning)
        [
            F.col("gated"),
            F.coalesce(F.col("latency_ms"), F.lit(0).cast("long")).alias("latency_ms"),
            part.alias("part_id"),
        ]
        if return_clock
        else []
    )
    crawl_fetch = fl.select(
        "url",
        F.col("fstatus").cast("int").alias("status"),
        F.col("fetch_start").cast("long").alias("fetch_time"),
        F.col("retries").cast("int").alias("retries"),
        F.col("fetch_interval").cast("int").alias("fetch_interval"),
        F.col("score").cast("float").alias("score"),
        F.col("signature"),
        F.col("modified_time").cast("long").alias("modified_time"),
        F.coalesce(F.col("metadata"), F.expr(_EMPTY_MAP)).alias("metadata"),
        F.col("gen_time"),
        F.col("repr_url"),
        F.col("outcome"),
        F.col("host"),
        *tk_cols,
    )

    redirs = fl.filter(
        F.col("fstatus").isin(STATUS_FETCH_REDIR_PERM, STATUS_FETCH_REDIR_TEMP)
        & F.col("redirect_to").isNotNull()
    )
    is_temp = F.col("fstatus") == STATUS_FETCH_REDIR_TEMP
    redirect_links = redirs.select(
        *new_datum(
            F.col("redirect_to"), STATUS_LINKED, F.col("fetch_start"),
            fetch_interval=F.col("fetch_interval"),
            repr_url=_choose_repr_udf()(F.col("url"), F.col("redirect_to"), is_temp),
        ),
        # redirect rows are never gated; part_id lets the cross-wave
        # killer drop redirects of killed sources (fetch_time IS the
        # source's fetch_start)
        *([part.alias("part_id")] if return_clock else []),
    )
    if not return_clock:
        return crawl_fetch, redirect_links
    # end-of-wave clock: the virtual instant the queue's NEXT appended
    # item may start = end of the last surviving item plus any PENDING
    # backoff a trailing exception owes the next item (exc_before is
    # non-decreasing along the drain, so max(exc_before) over non-gated
    # rows is the count baked into the last item's start; the next item
    # owes base*(cum(E_total) - cum(that)) more — max(fetch_start +
    # cost) alone would silently drop it at the wave boundary). Gated
    # items cost 0 and cannot push the clock forward.
    exc_total_agg = F.max("_exc_prior") + F.sum(
        F.when(is_exception & ~F.col("gated"), 1).otherwise(0)
    )
    baked_exc = F.coalesce(
        F.max(F.when(~F.col("gated"), F.col("exc_before"))), exc_total_agg
    )
    base_ms = int(cfg.fetcher_exceptions_per_queue_delay * 1000)
    pending_backoff = (
        F.lit(base_ms)
        * (_backoff_cum_units(exc_total_agg) - _backoff_cum_units(baked_exc))
    ).cast("long")
    clock = fl.groupBy("_queue").agg(
        (F.max(F.col("fetch_start") + F.col("_cost")) + pending_backoff)
        .cast("long")
        .alias("_queue_start"),
        exc_total_agg.cast("int").alias("_queue_exc"),
    )
    if queue_clock is not None:
        # a queue with no items this wave keeps its prior clock/counter —
        # max() is the identity for both (cumulative, non-decreasing)
        prior = queue_clock
        if "_queue_exc" not in prior.columns:
            prior = prior.withColumn("_queue_exc", F.lit(0))
        clock = (
            clock.unionByName(prior.select("_queue", "_queue_start", "_queue_exc"))
            .groupBy("_queue")
            .agg(
                F.max("_queue_start").alias("_queue_start"),
                F.max("_queue_exc").alias("_queue_exc"),
            )
        )
    return crawl_fetch, redirect_links, clock


def _throughput_kill_secs(
    fl: DataFrame, cfg: NutchConfig, cycle_start_ms: int
) -> DataFrame:
    """(``_tk_part``, ``_kill_sec``): the earliest kill instant per
    fetch task (Fetcher.java:311-338 semantics on the virtual clock).

    A wall second `s` (bucket [s*1000, s*1000+999] after cycle start) is
    *bad* when s >= check_after and the task completed < threshold pages
    in it; `retries` consecutive bad seconds kill the task's queues at
    the check instant (s+1)*1000. ``fl`` needs ``_tk_part``,
    ``fetch_start``, ``latency_ms``, ``gated`` columns.

    Scale shape: one groupBy per (partition, second) — cardinality
    bounded by partitions x timelimit seconds, tiny next to the
    fetchlist; the result is one row per killed partition (broadcast
    join back). Zero Python."""
    thr = cfg.fetcher_throughput_threshold_pages
    retries = cfg.fetcher_throughput_threshold_retries
    check_after_s = cfg.fetcher_throughput_check_after_mins * 60
    end_sec = F.floor(
        (
            F.col("fetch_start")
            + F.coalesce(F.col("latency_ms"), F.lit(0).cast("long"))
            - F.lit(cycle_start_ms)
        )
        / 1000
    ).cast("long")
    counts = (
        fl.filter(~F.col("gated"))
        .select("_tk_part", end_sec.alias("_sec"))
        .groupBy("_tk_part", "_sec")
        .agg(F.count("*").alias("_n"))
    )
    # dense second grid: an empty second is a bad second, exactly like
    # the reference's 1 Hz check loop
    grid = (
        counts.groupBy("_tk_part")
        .agg(F.max("_sec").alias("_max_sec"))
        .select(
            "_tk_part", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_max_sec"))).alias("_sec")
        )
        .join(counts, ["_tk_part", "_sec"], "left")
        .withColumn("_n", F.coalesce(F.col("_n"), F.lit(0)))
    )
    good = (F.col("_sec") < check_after_s) | (F.col("_n") >= thr)
    w = (
        Window.partitionBy("_tk_part")
        .orderBy("_sec")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = F.col("_sec") - F.coalesce(
        F.max(F.when(good, F.col("_sec"))).over(w), F.lit(-1).cast("long")
    )
    return (
        grid.withColumn("_run", run)
        .filter(F.col("_run") >= retries)
        .groupBy("_tk_part")
        .agg(F.min("_sec").alias("_kill_sec"))
    )


def _apply_throughput_killer(
    fl: DataFrame, cfg: NutchConfig, cycle_start_ms: int
) -> DataFrame:
    """Adds ``hit_throughput``: True for items the throughput killer
    drains — everything not yet started at the kill instant
    (emptyQueues => they stay db_unfetched)."""
    part = F.col("part_id") if "part_id" in fl.columns else F.lit(0)
    fl = fl.withColumn("_tk_part", part)
    kills = _throughput_kill_secs(fl, cfg, cycle_start_ms)
    fl = fl.join(F.broadcast(kills), "_tk_part", "left")
    kill_wall = F.lit(cycle_start_ms) + (F.col("_kill_sec") + 1) * 1000
    hit = (
        F.col("_kill_sec").isNotNull()
        & ~F.col("gated")
        & (F.col("fetch_start") >= kill_wall)
    )
    return fl.withColumn("hit_throughput", F.coalesce(hit, F.lit(False))).drop(
        "_tk_part", "_kill_sec"
    )


def fetched_content(crawl_fetch: DataFrame, docs: DataFrame) -> DataFrame:
    """Content table: successful fetches joined to the docs corpus
    (FetcherOutputFormat's ``content`` output, S5). Carries the fetch
    score for OPIC pass-through (``passScoreBeforeParsing``)."""
    ok = crawl_fetch.filter(F.col("status") == STATUS_FETCH_SUCCESS)
    return ok.select("url", "score", "fetch_time", "gen_time").join(
        docs.select(F.col("doc_id").alias("url"), "spans", "is_canonical"), "url", "inner"
    )


def _follow_fold_udf(cap: int):
    """Per-queue sequential replay of the outlink follower
    (FetcherThread.java:840-886): one FetcherThread drains a queue in
    FIFO order, so within a queue the mutable ``alreadyFetched`` set and
    the per-page ``outlinkCounter`` cap evolve strictly sequentially —
    a fold, not a window (a capped-out candidate does NOT claim its
    hash, so later pages may still follow it; first-occurrence window
    semantics would get that corner wrong). Queue groups are bounded by
    the per-host generate cap x num.links^depth, so the Arrow group is
    small by construction."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        # replay order = the queue's actual drain order: completion time,
        # then the source's own drain ordinal (`drain`: url-hash for wave
        # 0, FIFO seq for later waves — ties happen when per-item cost is
        # 0), then span order. Lexicographic src_url alone would permute
        # zero-cost ties vs the modeled FIFO.
        pdf = pdf.sort_values(["t", "drain", "src_url", "pos"])
        seen: set[int] = set()
        page_count: dict[str, int] = {}
        out_src, out_to, out_pos, out_seq, out_t = [], [], [], [], []
        out_part: list[int] = []
        for r in pdf.itertuples(index=False):
            if r.kind == "s":
                # page enters processing: claim its own hash (:844)
                seen.add(r.h)
                continue
            if r.pre_seen or r.h in seen:
                continue
            c = page_count.get(r.src_url, 0)
            if c >= cap:
                continue
            page_count[r.src_url] = c + 1
            seen.add(r.h)
            out_seq.append(len(out_src))
            out_src.append(r.src_url)
            out_to.append(r.to_url)
            out_pos.append(r.pos)
            out_t.append(r.t)
            out_part.append(r.part_id)
        return pd.DataFrame(
            {
                "src_url": pd.Series(out_src, dtype="object"),
                "to_url": pd.Series(out_to, dtype="object"),
                "pos": pd.Series(out_pos, dtype="int32"),
                # emission instant + per-source-queue emission index:
                # together the order items were appended to their TARGET
                # queue — the next wave's FIFO drain order (emit_t alone
                # breaks cross-queue appends; seq orders within a queue)
                "seq": pd.Series(out_seq, dtype="int64"),
                "emit_t": pd.Series(out_t, dtype="int64"),
                # the source's fetcher task (partition) — the follow item
                # is appended to a queue of the SAME task
                "part_id": pd.Series(out_part, dtype="int32"),
            }
        )

    return fold


def fetch_follow_outlinks(
    fetchlist: DataFrame,
    robots: DataFrame,
    outcomes: DataFrame,
    docs: DataFrame,
    cfg: NutchConfig,
    cycle_start_ms: int,
    *,
    dns: DataFrame | None = None,
    url_filter_rules: list[str] | None = None,
    cleanup: list | None = None,
    return_parsed: bool = False,
):
    """F9 in-fetch outlink following (fetcher.follow.outlinks.depth > 0,
    FetcherThread.java:840-886): fetch wave 0, parse it, follow up to
    ``num.links`` outlinks per page (optionally same-host only) that no
    earlier page of the same politeness queue has claimed, enqueue them
    as STATUS_LINKED items at depth+1, repeat to the configured depth.

    Re-expression notes (vs the reference's thread pool):
    - Followed items are appended to live queues and drain after what is
      already enqueued (FIFO): each depth wave runs through ``fetch``
      with the previous wave's per-queue end-of-clock (and cumulative
      exception counter) as ``queue_clock``, and drains in the fold's
      emission order (``_fifo_seq``) — the order items were appended —
      not the wave-0 url-hash interleave. Queues idle for a wave keep
      their clock (the merge in ``fetch``).
    - The throughput killer runs ONCE over the union of all waves'
      completions — the reference's single 1 Hz task clock. Waves fetch
      with the in-fetch killer off; the post-union cut (drop everything
      starting after the earliest kill instant of its task/partition,
      follow items inheriting the SOURCE's partition) is equivalent
      because (a) completions in seconds <= the kill second all come
      from items that started before the kill instant, so the detected
      instant is unchanged by later items, and (b) every follow of a
      killed source starts after that source's completion, hence after
      the kill instant, and is dropped by the same cut — exactly the
      reference's emptied-queues end state (and nothing re-arms the
      checker after a kill, matching the task simply finishing).
    - The ``alreadyFetched`` dedup set is per-SOURCE-queue
      (FetchItemQueue of the page being parsed, :842-873) and persists
      across waves; the per-queue fold replays it sequentially.
    - Documented deviation: the reference walks candidates in
      ``HashSet<String>`` iteration order (:855), which is unspecified;
      we use span/document order (``pos``) — the only deterministic,
      engine-independent choice.
    - The fetch time limit already drops not-yet-started items inside
      ``fetch`` (Fetcher.java:221-223), which subsumes the reference's
      ``timelimitExceeded`` guard at :841.

    Returns ``(crawl_fetch, redirect_links)`` unions over all waves;
    crawl_fetch carries ``outlink_depth``. With ``return_parsed=True`` a
    third value: the per-wave ``parse()`` dicts unioned per key — waves
    0..depth-1 were parsed anyway to extract follow candidates (their
    outlink extraction is persisted, see ``parse(persist_handles=...)``),
    so the caller reuses them instead of re-parsing the whole union.

    ``cleanup``: per-wave intermediates are ``persist()``-ed (each wave
    feeds the next wave AND the output union; persisted blocks are
    evictable and unpersist-able, unlike ``localCheckpoint`` blocks
    which live until driver GC — the leak class fetch()'s own no-persist
    note documents). Pass a list to receive the handles and unpersist
    them once the returned unions are materialized (the crawl loop does
    this at cycle end); with ``cleanup=None`` the handles stay cached
    for the session — fine for one-shot/test use, not for a long loop.
    """
    from nutch_spark.operators.parse import parse
    from nutch_spark.urls.urlutil import java_hashcode_expr

    depth = cfg.fetcher_follow_outlinks_depth
    if depth <= 0:
        raise ValueError("fetch_follow_outlinks needs fetcher.follow.outlinks.depth > 0")
    cap = cfg.fetcher_follow_outlinks_num_links

    kill_thr = cfg.fetcher_throughput_threshold_pages
    # waves fetch with the in-fetch killer OFF; the kill is applied once
    # over the union of all waves (see the docstring's equivalence note)
    cfg_wave = cfg.with_(fetcher_throughput_threshold_pages=0) if kill_thr > 0 else cfg

    spark = fetchlist.sparkSession
    seen = spark.createDataFrame([], "_queue string, _h long")
    queue_clock = None
    wave = fetchlist
    fetched_waves: list[DataFrame] = []
    redir_waves: list[DataFrame] = []
    parsed_waves: list[dict] = []
    handles: list[DataFrame] = cleanup if cleanup is not None else []
    for d in range(depth + 1):
        crawl_fetch, redirs, queue_clock = fetch(
            wave, robots, outcomes, cfg_wave, cycle_start_ms,
            dns=dns, queue_clock=queue_clock, return_clock=True,
        )
        # persist the merged clock too: wave N's clock unions wave N-1's
        # (already joined into fl) — left lazy, the sub-plan count would
        # double per wave
        queue_clock = queue_clock.persist()
        handles.append(queue_clock)
        crawl_fetch = crawl_fetch.withColumn(
            "outlink_depth", F.lit(d).cast("int")
        ).persist()  # each wave feeds the next wave AND the output union
        handles.append(crawl_fetch)
        fetched_waves.append(crawl_fetch)
        redir_waves.append(redirs)
        if d == depth:
            if return_parsed:
                # the final wave is parsed only here, but the caller
                # commits several of its products (crawl_parse,
                # parse_text, parse_data, parse_meta) — the persist
                # keeps extraction from running per consumer
                parsed_waves.append(
                    parse(fetched_content(crawl_fetch, docs), cfg,
                          url_filter_rules=url_filter_rules,
                          persist_handles=handles)
                )
            break

        content = fetched_content(crawl_fetch, docs)
        parsed = parse(
            content, cfg, url_filter_rules=url_filter_rules,
            persist_handles=handles,
        )
        parsed_waves.append(parsed)
        # the source's drain ordinal within its queue — the fold's
        # tie-break when two pages complete at the same virtual instant
        # (per-item cost 0): url-hash interleave for wave 0, FIFO seq for
        # later waves. min() collapses the rare duplicate-url wave rows
        # (the same target followed from two different source queues).
        drain_expr = (
            F.col("_fifo_seq") if "_fifo_seq" in wave.columns
            else F.col("url_hash").cast("long")
        )
        # follow items belong to the SOURCE's fetcher task: the thread
        # that parses the page appends to its own task's queues
        # (FetcherThread.java:882) — part_id rides along for the
        # cross-wave throughput killer
        part_expr = (
            F.col("part_id").cast("int") if "part_id" in wave.columns
            else F.lit(0).cast("int")
        )
        src_drain = (
            wave.select("url", drain_expr.alias("drain"), part_expr.alias("part_id"))
            .groupBy("url")
            .agg(F.min("drain").alias("drain"), F.min("part_id").alias("part_id"))
        )
        src_q = (
            attach_queue(content.select("url", "fetch_time"), cfg, dns)
            .select("url", "_queue", "fetch_time")
            .join(src_drain, "url", "left")
        )
        cands = parsed["outlinks"].select("url", "to_url", "pos").join(src_q, "url")
        if cfg.fetcher_follow_outlinks_ignore_external:
            # host check against the source url (:859-865), independent
            # of the queue mode
            cands = cands.filter(host_expr(F.col("url")) == host_expr(F.col("to_url")))

        events = cands.select(
            "_queue",
            F.lit("c").alias("kind"),
            F.col("fetch_time").alias("t"),
            "drain",
            "part_id",
            F.col("pos").cast("int").alias("pos"),
            java_hashcode_expr(F.col("to_url")).alias("h"),
            F.col("url").alias("src_url"),
            "to_url",
        ).unionByName(
            src_q.select(
                "_queue",
                F.lit("s").alias("kind"),
                F.col("fetch_time").alias("t"),
                "drain",
                "part_id",
                F.lit(-1).cast("int").alias("pos"),
                java_hashcode_expr(F.col("url")).alias("h"),
                F.col("url").alias("src_url"),
                F.lit(None).cast("string").alias("to_url"),
            )
        )
        events = events.join(
            seen.select("_queue", F.col("_h").alias("h")).withColumn("pre_seen", F.lit(True)),
            ["_queue", "h"],
            "left",
        ).fillna({"pre_seen": False})

        followed = events.groupBy("_queue").applyInPandas(
            _follow_fold_udf(cap),
            "src_url string, to_url string, pos int, seq long, emit_t long,"
            " part_id int",
        ).persist()  # feeds next wave + seen
        handles.append(followed)

        # alreadyFetched grows by every processed page's own hash and
        # every followed hash, claimed in the SOURCE page's queue
        seen = (
            seen.unionByName(
                src_q.select("_queue", java_hashcode_expr(F.col("url")).alias("_h"))
            )
            .unionByName(
                followed.join(src_q.select(F.col("url").alias("src_url"), "_queue"), "src_url")
                .select("_queue", java_hashcode_expr(F.col("to_url")).alias("_h"))
            )
            .distinct()
        )

        # new FetchItem: CrawlDatum(STATUS_LINKED, interval) — score 0.0
        # (CrawlDatum.java:142,162-166), depth+1 (:876-878); `_fifo_seq`
        # pins the queue's FIFO append order for the next wave's drain
        wave = followed.select(
            F.col("to_url").alias("url"),
            F.lit(0).alias("retries"),
            F.lit(cfg.db_fetch_interval_default).alias("fetch_interval"),
            F.lit(0.0).cast("float").alias("score"),
            F.lit(None).cast("string").alias("signature"),
            F.lit(0).cast("long").alias("modified_time"),
            F.expr(_EMPTY_MAP).alias("metadata"),
            F.lit(None).cast("long").alias("gen_time"),
            F.lit(None).cast("string").alias("repr_url"),
            F.col("seq").alias("_fifo_seq"),
            F.col("emit_t").alias("_fifo_t"),
            "part_id",
        )

    out_fetch = _union_all(fetched_waves)
    out_redirs = _union_all(redir_waves)
    killed_urls = None
    if kill_thr > 0:
        # the single cross-wave kill (see docstring): detect the earliest
        # kill instant per task over the union's shared timeline, then cut
        # everything that starts at/after it — including follows of killed
        # sources and the killed sources' redirects/parse products
        u = out_fetch.withColumn("_tk_part", F.col("part_id")).withColumn(
            "fetch_start", F.col("fetch_time")
        )
        kills = _throughput_kill_secs(u, cfg, cycle_start_ms)
        kill_wall = F.lit(cycle_start_ms) + (F.col("_kill_sec") + 1) * 1000
        survives = (
            F.col("_kill_sec").isNull()
            | F.col("gated")
            | (F.col("fetch_time") < kill_wall)
        )
        cut = u.join(F.broadcast(kills), "_tk_part", "left")
        killed_urls = (
            cut.filter(~survives).select("url").distinct().persist()
        )
        handles.append(killed_urls)
        out_fetch = cut.filter(survives).drop("_tk_part", "_kill_sec", "fetch_start")
        out_redirs = (
            out_redirs.withColumn("_tk_part", F.col("part_id"))
            .join(F.broadcast(kills), "_tk_part", "left")
            .filter(F.col("_kill_sec").isNull() | (F.col("fetch_time") < kill_wall))
            .drop("_tk_part", "_kill_sec")
        )
    out_fetch = out_fetch.drop("gated", "latency_ms", "part_id")
    out_redirs = out_redirs.drop("part_id")
    if not return_parsed:
        return out_fetch, out_redirs
    # per-wave parse products are unioned as-is: a url fetched in two
    # different waves (followed from two source queues — alreadyFetched
    # is per-queue) contributes its parse products once per wave, which
    # is the reference's per-fetch emission (each FetcherThread parses
    # the item it fetched); within a wave the url-keyed extraction
    # collapses duplicates — the one place we emit less than the
    # reference, documented here. Killed sources are never parsed.
    out_parsed = {
        k: _union_all([p[k] for p in parsed_waves]) for k in parsed_waves[0]
    }
    if killed_urls is not None:
        kset = killed_urls.select(F.col("url").alias("_src"))

        def _cut(df: DataFrame) -> DataFrame:
            # crawl_parse's STATUS_LINKED rows are keyed by the TARGET
            # with the source in from_url — cut by the emitting source
            src = (
                F.coalesce(F.col("from_url"), F.col("url"))
                if "from_url" in df.columns
                else F.col("url")
            )
            return (
                df.withColumn("_src", src)
                .join(F.broadcast(kset), "_src", "left_anti")
                .drop("_src")
            )

        out_parsed = {k: _cut(df) for k, df in out_parsed.items()}
    return out_fetch, out_redirs, out_parsed


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
