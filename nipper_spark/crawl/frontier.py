"""The frontier engine: a crawl priority queue driven in batch rounds.

One round (SURVEY.md §4.3), entirely declarative DataFrame ops plus the
fused extraction UDF:

    frontier(r) ──select_wave──▶ wave ─┬─▶ schedule(r)   [ordering record]
        │residual                      │broadcast-join pages ("fetch")
        │                              ▼
        │                       extract (fused Arrow UDF)
        │                              │ explode outlinks
        │                              ▼
        │                    candidates (min depth, max score per url)
        │                              │ robots + depth cap
        │                              │ bloom prefilter (cogroup/bucket)
        │                              │ exact LEFT ANTI JOIN vs seen
        │                              ▼
        └────────── union ──▶ frontier(r+1);  seen += fresh; bloom |= fresh

Scale notes (the parts that must survive 1000 executors / 10^10 URLs):
- wave size is bounded by Σ host budgets → broadcast-joinable against
  the pages scan; the big pages table is never shuffled;
- per-host top-k is salted two-phase (operators/topk.py) so Zipf-hot
  hosts can't pin a partition; AQE skew-join covers the joins;
- the bloom prefilter cuts anti-join shuffle volume; the exact
  anti-join stays the authority so the seen set is exact;
- all state writes are whole-round-partition overwrites → idempotent
  replay, exact resume from MANIFEST high-water mark;
- determinism: every emitted table has an explicit total order key
  (depth, -score, url); no `first()`-without-sort anywhere.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nipper_spark.crawl import bloom as B
from nipper_spark.crawl.politeness import (
    CrawlPolicy, _maybe_broadcast, budgets_df, robots_filter,
    wave_order, wave_order_specs, wave_rank)
from nipper_spark.crawl.state import (
    BLOOM_SCHEMA, FRONTIER_SCHEMA, ROUND_LOG_SCHEMA, SCHEDULE_SCHEMA,
    SEEN_SCHEMA, CrawlState)
from nipper_spark.crawl.sitemaps import crawl_extract_outlinks
from nipper_spark.functions.url import (HOST_RE_SQL, canonicalize_url, host_bucket, host_of, url_hash64)
from nipper_spark.operators.cumsum import row_sequence
from nipper_spark.session import local_df


@dataclass
class RoundStats:
    round: int
    scheduled: int = 0
    fetched: int = 0
    candidates: int = 0
    bloom_hits: int = 0
    fresh: int = 0
    residual: int = 0
    frontier_next: int = 0


def _obs_long(obs, key: str, fallback) -> int:
    """Read an Observation metric; fall back to recomputing when AQE's
    empty-relation propagation pruned the CollectMetrics node (happens
    on degenerate rounds where an intermediate result is empty — the
    recompute is then tiny by construction)."""
    try:
        v = obs.get[key]
        return int(v) if v is not None else 0
    except Exception:  # noqa: BLE001 — missing metrics row
        return int(fallback())


def _host_cols(df: DataFrame, policy: CrawlPolicy) -> DataFrame:
    """Derive host (native regexp — canonical URLs have lowercase
    hosts, no UDF needed) + host_bucket/url_hash in ONE vectorized
    pandas UDF (one Python boundary, not two) sharing the oracle's
    exact hash functions."""
    n = policy.n_buckets

    @F.pandas_udf("struct<host_bucket:int, url_hash:long>")
    def _keys(host: pd.Series, url: pd.Series) -> pd.DataFrame:
        # hosts repeat heavily within a batch (a crawl wave is a few
        # hundred hosts): one blake2b per UNIQUE host, not per row
        bcache: dict[str, int] = {}
        buckets = []
        for h in host:
            b = bcache.get(h)
            if b is None:
                b = host_bucket(h, n)
                bcache[h] = b
            buckets.append(b)
        return pd.DataFrame({
            "host_bucket": pd.Series(buckets, dtype="int32"),
            "url_hash": pd.Series(
                [url_hash64(u) for u in url], dtype="int64")})

    return (df
            .withColumn("host", F.regexp_extract("url",
                                                 HOST_RE_SQL, 1))
            .withColumn("_k", _keys("host", "url"))
            .withColumn("host_bucket", F.col("_k.host_bucket"))
            .withColumn("url_hash", F.col("_k.url_hash"))
            .drop("_k"))


class FrontierEngine:
    def __init__(self, spark: SparkSession, pages: DataFrame,
                 state_dir: str, policy: CrawlPolicy,
                 rules: DataFrame | None = None,
                 budgets: DataFrame | None = None) -> None:
        """``rules`` (host, prefix) and ``budgets`` (host, tokens) are
        per-host DIMENSION TABLES (e.g. from
        robots.harvest_robots_tables) — the scale path: robots/budget
        state lives in data joined per round, never in driver dicts
        compiled into Catalyst literals. When omitted, the config-dict
        policy converts into the same tables (a convenience that is
        only sound at config scale, which dicts are by construction).
        Table row counts are measured once here so every downstream
        join can size-guard its broadcast decision."""
        self.spark = spark
        self.pages = pages
        self.state = CrawlState(spark, state_dir)
        self.policy = policy
        if budgets is None:
            self._budgets = budgets_df(spark, policy)
            self._budgets_rows = max(len(policy.host_tokens), 1)
        else:
            self._budgets = budgets
            self._budgets_rows = budgets.count()
        if rules is None:
            self._rules = None  # robots_filter builds from dicts (or skips)
            from nipper_spark.crawl.politeness import policy_rules_rows
            self._rules_rows = policy_rules_rows(policy)
        else:
            self._rules = rules
            self._rules_rows = rules.count()
        # in-memory twins of COMMITTED state tables, keyed by round:
        # round r+1's read of a table this engine instance just wrote
        # (and committed) reuses the localCheckpoint blocks backing the
        # write instead of re-listing/scanning the parquet it produced
        # one second ago. The parquet stays the sole authority — the
        # carry is set only after the write succeeded AND the round
        # committed, and bootstrap/resume clear it, so any replay or a
        # fresh engine reads disk. Content is identical by construction
        # (the write job consumed exactly these checkpoint blocks). A
        # round that read the carry and fails in Spark (lost blocks)
        # replays once from the parquet, see run_round.
        self._carry: dict[str, tuple[int, DataFrame]] = {}

    def _read_state(self, table: str, r: int, schema: str) -> DataFrame:
        c = self._carry.get(table)
        if c is not None and c[0] == r:
            return c[1]
        return self.state.read(table, r, schema)

    # ------------------------------------------------------------------
    def bootstrap(self, seeds: list[tuple[str, float]]) -> None:
        """Round-0 state from a seed list (canonicalized, deduped,
        robots-filtered — seeds count as 'seen' immediately)."""
        from nipper_spark.crawl.politeness import robots_decision
        pol = self.policy
        # host -> ([disallow rules], [allow rules]) from the table
        seed_rules: dict[str, tuple[list[str], list[str]]] = {}
        if self._rules is not None:
            # seeds are a driver-side list by contract; pull ONLY their
            # hosts' rules from the table (bounded by the seed list)
            hosts = sorted({host_of(canonicalize_url(u) or "") or ""
                            for u, _ in seeds} - {""})
            has_allow = "allow" in self._rules.columns
            for r in self._rules.filter(
                    F.col("host").isin(hosts)).collect():
                dis, alw = seed_rules.setdefault(r["host"], ([], []))
                (alw if has_allow and r["allow"] else dis).append(
                    r["prefix"])

        def _seed_allowed(host: str, url: str) -> bool:
            # same authority rule as run_round's robots_filter: when a
            # rules TABLE is provided it is the sole robots authority
            # (dict rules are only a convenience that converts to a
            # table when none is given) — previously this ANDed both,
            # so a table Allow could not override a dict Disallow for
            # seeds while it could for round candidates
            if self._rules is None:
                return pol.allowed(host, url)
            dis, alw = seed_rules.get(host, ((), ()))
            i = url.find("/", url.find("://") + 3)
            path = url[i:] if i != -1 else "/"
            return robots_decision(dis, alw, path)

        rows = []
        taken = set()
        for url, score in seeds:
            canon = canonicalize_url(url)
            if canon is None or canon in taken:
                continue
            host = host_of(canon)
            if not _seed_allowed(host, canon):
                continue
            taken.add(canon)
            rows.append((canon, host, host_bucket(host, pol.n_buckets),
                         0, float(score), 0))
        self._carry.clear()
        frontier = (local_df(self.spark, rows, FRONTIER_SCHEMA)
                    .repartition(pol.n_buckets, "host_bucket")
                    .sortWithinPartitions("depth", F.desc("score"), "url")
                    .localCheckpoint(eager=False))
        self.state.write("frontier", 0, frontier)
        seen = local_df(
            self.spark,
            [(u, b, url_hash64(u), 0) for (u, h, b, d, s, r) in rows],
            SEEN_SCHEMA)
        self.state.write("seen", 0, seen)
        by_bucket: dict[int, list[str]] = {}
        for (u, h, b, d, s, r) in rows:
            by_bucket.setdefault(b, []).append(u)
        m_bits = B.bloom_sizing(max(len(rows), 1024) * 4)
        payloads = [(b, B.bloom_build(urls, m_bits), len(urls))
                    for b, urls in sorted(by_bucket.items())]
        bloom_df = local_df(self.spark, payloads, BLOOM_SCHEMA)
        self.state.write("bloom", 0, bloom_df)
        self.state.commit_round(-1)
        self._carry["frontier"] = (0, frontier)
        self._carry["bloom"] = (0, bloom_df)

    # ------------------------------------------------------------------
    def bootstrap_from_df(self, seed_frontier: DataFrame) -> None:
        """Distributed round-0 state from a seed TABLE with at least
        ``(url, depth, score)`` columns (FRONTIER_SCHEMA is a
        superset; e.g. ``sitemaps.sitemap_seed_frontier`` output) —
        the 10^10-scale twin of :meth:`bootstrap`, which takes a
        driver-side list bounded by contract. Everything stays
        executor-side: dedup per url keeps the max score (insertion
        order does not exist in a table — scheduling order is fully
        determined by (depth, -score, url) anyway), robots filtering
        uses the same rules tables the rounds use, and the per-bucket
        bloom payloads build in the same cogroup kernel that merges
        them every round."""
        pol = self.policy
        self._carry.clear()
        seeds = (seed_frontier
                 .groupBy("url")
                 .agg(F.min("depth").alias("depth"),
                      F.max("score").alias("score"))
                 .withColumn("discovered_round", F.lit(0).cast("int")))
        seeds = _host_cols(seeds, pol)
        seeds = robots_filter(seeds, pol, rules=self._rules,
                              rules_rows=self._rules_rows).cache()
        frontier = (seeds
                    .select("url", "host", "host_bucket", "depth",
                            "score", "discovered_round")
                    .repartition(pol.n_buckets, "host_bucket")
                    .sortWithinPartitions("depth", F.desc("score"), "url"))
        self.state.write("frontier", 0, frontier)
        self.state.write("seen", 0, seeds.select(
            "url", "host_bucket", "url_hash",
            F.lit(0).alias("round")))
        empty_bloom = local_df(self.spark, [], BLOOM_SCHEMA)
        payloads = (seeds.groupBy("host_bucket")
                    .cogroup(empty_bloom.groupBy("host_bucket"))
                    .applyInPandas(_bloom_merge, schema=BLOOM_SCHEMA))
        self.state.write("bloom", 0, payloads)
        seeds.unpersist()
        self.state.commit_round(-1)

    # ------------------------------------------------------------------
    def resume_round(self) -> int:
        """Next round to run; cleans any uncommitted partial writes and
        finishes any crash-interrupted compaction."""
        self._carry.clear()  # replay reads the committed parquet only
        self.state.recover_compaction()
        last = self.state.last_committed_round()
        nxt = last + 1
        for t in ("frontier", "seen", "bloom"):
            self.state.truncate_after(nxt, tables=(t,))
        for t in ("schedule", "round_log"):
            self.state.truncate_after(last, tables=(t,))
        return nxt

    # ------------------------------------------------------------------
    def run_round(self, r: int, known_nonempty: bool = False,
                  wave_bound: int | None = None) -> RoundStats:
        """One batch round. Counter discipline: every lineage counter
        rides an Observation on a write we run anyway (the free-counter
        pattern, SURVEY.md §2.9) — a round costs ~23 Spark jobs
        (``frontier.jobs_per_round``) however many statistics it keeps,
        so per-round fixed latency stays flat as cluster size grows.
        ``known_nonempty`` skips the emptiness probe job when the caller
        already proved it (previous round's frontier_next > 0).

        A round that read carried checkpoint blocks and fails in Spark
        (blocks lost with an executor, or evicted) replays ONCE from
        the committed parquet: resume_round drops the carry and the
        round's partial writes first. Any other failure, or a failing
        replay, raises with the round uncommitted."""
        carried = any(c[0] == r for c in self._carry.values())
        try:
            return self._run_round(r, known_nonempty, wave_bound)
        except (Py4JJavaError, PySparkException):
            if not carried or self.resume_round() != r:
                raise
            return self._run_round(r, known_nonempty, wave_bound)

    def _run_round(self, r: int, known_nonempty: bool,
                   wave_bound: int | None) -> RoundStats:
        st, pol = self.state, self.policy
        stats = RoundStats(round=r)
        frontier = self._read_state("frontier", r, FRONTIER_SCHEMA)

        # every adaptive decision this round (plain window vs two-phase
        # seq; broadcast vs shuffle joins of the wave) keys off one
        # upper bound on the wave size: the previous round's
        # frontier_next (free — wave ⊆ frontier), or one count job on
        # the frontier right after a resume. That same count doubles as
        # the emptiness probe — the separate isEmpty() job is folded
        # away (a caller-supplied bound of 0 means empty by contract:
        # the bound is the previous round's exact frontier_next).
        bound = wave_bound if wave_bound is not None else \
            frontier.count()
        if not known_nonempty and bound == 0:
            # terminal round: a zero-task plan emits no observation
            # metrics, so handle it before attaching observers
            return self._commit_idle_round(r, stats, frontier)

        # the wave is materialized ONCE as an eager localCheckpoint
        # (with the scheduled counter riding an Observation on the same
        # job): its four consumers — schedule seq, fetch join, residual
        # anti-join, and the count — then all analyze/execute against a
        # LEAF plan instead of a cache whose full ranking plan Catalyst
        # re-canonicalizes per consumer. One job replaces cache+count.
        obs_wave = Observation()
        self.spark.sparkContext.setJobDescription(
            f"round {r}: wave select+count")
        wave = (wave_rank(frontier, self._budgets, pol,
                          budgets_rows=self._budgets_rows,
                          frontier_bound=bound)
                .observe(obs_wave, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
        stats.scheduled = _obs_long(obs_wave, "n", wave.count)
        if stats.scheduled == 0:
            return self._commit_idle_round(r, stats, frontier)
        residual = frontier.join(
            _maybe_broadcast(wave.select("url"), bound,
                             pol.broadcast_wave_threshold),
            "url", "left_anti")

        # ordering record — the wave is bounded by Σ politeness budgets,
        # but at 10^10 URLs that is still millions of rows. Adaptive
        # plan: a small wave takes the plain window (one job, and a
        # single window task over ≤ seq_window_threshold rows is cheap);
        # a big wave takes the two-phase bucket-partitioned sequence so
        # no single task ever holds the whole wave.
        if bound <= pol.seq_window_threshold:
            from pyspark.sql import Window
            schedule = wave.select(
                F.lit(r).alias("round"),
                (F.row_number().over(Window.orderBy(*wave_order())) - 1)
                .cast("long").alias("seq"),
                "url", "host", "depth", "score")
        else:
            seq_df = row_sequence(wave, wave_order_specs(), "seq")
            schedule = seq_df.select(
                F.lit(r).alias("round"),
                F.col("seq").cast("long").alias("seq"),
                "url", "host", "depth", "score")

        # the schedule write is small once the wave is materialized; it
        # runs on a pool thread while THIS thread builds the heavyweight
        # frontier chain, whose three state writes share the pool.
        # Leaving the pool joins every write, success or failure, so no
        # write outlives the round; commit_round only after that.
        with ThreadPoolExecutor(max_workers=4) as pool:
            sched_write = pool.submit(st.write, "schedule", r, schedule)
            next_frontier, new_bloom = self._expand_wave(
                r, stats, wave, residual, bound, pool)
            sched_write.result()
        st.commit_round(r)
        # committed: round r+1 may reuse the materialized twins
        self._carry["frontier"] = (r + 1, next_frontier)
        self._carry["bloom"] = (r + 1, new_bloom)

        # periodic seen-delta compaction (crash-safe; bounds file count)
        if pol.compact_every and (r + 1) % pol.compact_every == 0:
            st.compact("seen", r + 1, SEEN_SCHEMA)
        return stats

    def _commit_idle_round(self, r: int, stats: RoundStats,
                           frontier: DataFrame) -> RoundStats:
        """Commit a round that scheduled nothing: an empty schedule and
        seen delta; frontier and bloom state carry over unchanged."""
        st = self.state
        bloom_df = self._read_state("bloom", r, BLOOM_SCHEMA)
        st.write("schedule", r, local_df(self.spark, [], SCHEDULE_SCHEMA))
        st.write("frontier", r + 1, frontier)
        st.write("seen", r + 1, local_df(self.spark, [], SEEN_SCHEMA))
        st.write("bloom", r + 1, bloom_df)
        st.write_rows("round_log", r, self._log_rows(r, stats, []),
                      ROUND_LOG_SCHEMA)
        st.commit_round(r)
        self._carry["frontier"] = (r + 1, frontier)
        self._carry["bloom"] = (r + 1, bloom_df)
        return stats

    def _expand_wave(self, r: int, stats: RoundStats, wave: DataFrame,
                     residual: DataFrame, bound: int,
                     pool: ThreadPoolExecutor
                     ) -> tuple[DataFrame, DataFrame]:
        """Fetch the wave, extract and filter its outlinks to the fresh
        delta, and write round r+1's frontier, seen delta and bloom on
        ``pool`` plus round r's round_log. Fills the lineage counters of
        ``stats``; returns the (frontier, bloom) twins to carry."""
        st, pol = self.state, self.policy
        _sc = self.spark.sparkContext
        # "fetch" = join the wave against the big pages scan. Σ budgets
        # bounds the wave, but Σ budgets grows with host count: above
        # the threshold the wave must NOT broadcast (multi-GB driver/
        # executor OOM) — the join falls back to a shuffle join, which
        # AQE skew-splits if a hot host dominates; the big pages table
        # is never shuffled below it. depth/score ride the fetch join
        # and pass THROUGH the extraction UDF (two numeric columns in
        # the Arrow batch), so the outlink explode needs no second wave
        # join — same rows out (pages ⋈ wave is 1:1 on url).
        fetched = self.pages.join(
            _maybe_broadcast(wave.select("url", "depth", "score"), bound,
                             pol.broadcast_wave_threshold), "url") \
            .select("url", "html", "depth", "score")
        obs_fetch = Observation()
        # one fused Python crossing: HTML pages → a[href] outlinks
        # (priority null); sitemap-pattern URLs → parse_sitemap entries
        # (advertised pages AND child sitemaps, with priorities) — the
        # recursion that follows a sitemapindex chain across rounds.
        # Shared kernel crawl_extract_outlinks == the oracle's.
        ext = _crawl_extract(
            fetched, respect_nofollow=pol.respect_nofollow).observe(
            obs_fetch, F.count(F.lit(1)).alias("n"))

        links = (ext.select("depth", "score",
                            F.explode("outlinks").alias("l"))
                 .select(F.col("l.dst").alias("dst"),
                         F.col("l.priority").alias("prio"),
                         "depth", "score"))
        cand = (links
                .select(F.col("dst").alias("url"),
                        (F.col("depth") + 1).alias("depth"),
                        # sitemap-advertised priority wins over decay —
                        # the advertisement is the better signal
                        F.coalesce(
                            F.col("prio"),
                            F.col("score") * pol.score_decay)
                        .alias("score"))
                .groupBy("url")
                .agg(F.min("depth").alias("depth"),
                     F.max("score").alias("score")))
        cand = _host_cols(cand, pol)
        cand = robots_filter(cand, pol, rules=self._rules,
                             rules_rows=self._rules_rows).filter(
            F.col("depth") <= pol.max_depth)

        # bloom prefilter: bucket-cogrouped probe, state and candidates
        # sharing the host_bucket partitioning (the filter state never
        # leaves the executors — at 10^10 seen URLs it is ~12 GB)
        bloom_df = self._read_state("bloom", r, BLOOM_SCHEMA)
        obs_probe = Observation()
        probed = (cand.groupBy("host_bucket")
                  .cogroup(bloom_df.groupBy("host_bucket"))
                  .applyInPandas(_bloom_probe, schema=(
                      "url string, depth int, score double, "
                      "host string, host_bucket int, "
                      "url_hash long, bloom_hit boolean"))
                  .observe(obs_probe,
                           F.count(F.lit(1)).alias("candidates"),
                           F.sum(F.col("bloom_hit").cast("long"))
                           .alias("hits"))
                  # cache: both union branches below must share ONE
                  # materialization, or the observe node (and the whole
                  # fetch→extract chain above it) executes twice and the
                  # observation receives duplicate metric rows
                  .cache())
        try:
            maybe_seen = probed.filter("bloom_hit").drop("bloom_hit")
            definitely_new = probed.filter("NOT bloom_hit") \
                .drop("bloom_hit")

            # exact authority: only bloom-hits pay the anti-join shuffle
            seen = st.read_all_rounds("seen", r, SEEN_SCHEMA)
            confirmed_new = maybe_seen.join(
                seen.select("url"), "url", "left_anti")
            # localCheckpoint, not cache: the four downstream consumers
            # (frontier/seen/bloom writes + per-bucket counters) then
            # analyze a LEAF plan instead of re-canonicalizing the whole
            # fetch→extract→probe→anti-join tree once per query —
            # per-round driver latency, the dominant q3 cost at bench
            # scale (the round's real compute is ~0.5 s of extraction
            # against ~3 s of orchestration). Eager: materializes the
            # heavy chain exactly once and resolves the fetch/probe
            # observations, same as the cache+count it replaces. The
            # checkpointed table is fresh-delta-sized; blocks free with
            # the reference.
            _sc.setJobDescription(
                f"round {r}: fetch+extract+probe+antijoin")
            fresh = definitely_new.unionByName(confirmed_new) \
                .localCheckpoint(eager=True)
            stats.fetched = _obs_long(obs_fetch, "n", ext.count)
            stats.candidates = _obs_long(obs_probe, "candidates",
                                         probed.count)
            stats.bloom_hits = _obs_long(
                obs_probe, "hits",
                lambda: probed.filter("bloom_hit").count())
        finally:
            # the checkpointed fresh delta is the only consumer left
            probed.unpersist()

        obs_residual = Observation()
        residual = residual.observe(
            obs_residual, F.count(F.lit(1)).alias("n"))
        # the frontier IS the priority queue: host-bucketed files, each
        # internally (depth, -score, url)-ordered (north star: "host-
        # bucketed, depth/score-ordered table"), so the next round's
        # per-host top-k scans presorted bucket-local data
        # lazy localCheckpoint: the write job below materializes the
        # blocks, and round r+1's frontier read then reuses them via
        # the carry (set only after commit) instead of re-scanning the
        # parquet this round just wrote
        next_frontier = (residual.unionByName(
            fresh.select("url", "host", "host_bucket", "depth", "score",
                         F.lit(r + 1).alias("discovered_round")))
            .repartition(pol.n_buckets, "host_bucket")
            .sortWithinPartitions("depth", F.desc("score"), "url")
            .localCheckpoint(eager=False))

        # ONE collect over the checkpointed fresh delta yields the
        # per-bucket counters AND the total (their sum) — the separate
        # fresh.count() job is folded away. The frontier write, seen
        # write and bloom merge+write remain independent consumers run
        # as concurrent jobs from pool threads: the frontier's
        # repartition+sort+write overlaps the bloom cogroup instead of
        # preceding it. A failed write raises out of result() and the
        # caller never commits the round, so it replays on resume.
        _sc.setJobDescription(f"round {r}: per-bucket fresh counters")
        per_bucket = [(row["host_bucket"], row["n"]) for row in
                      fresh.groupBy("host_bucket").agg(
                          F.count("*").alias("n")).collect()]
        _sc.setJobDescription(None)
        stats.fresh = sum(n for _, n in per_bucket)

        # bloom |= fresh, per bucket. The cogroup emits every bucket key
        # present on either side, so it alone produces exactly one row
        # per bucket: fresh-only → new payload, both → merged, bloom-only
        # → old payload echoed.
        new_bloom = (fresh.groupBy("host_bucket")
                     .cogroup(bloom_df.groupBy("host_bucket"))
                     .applyInPandas(_bloom_merge, schema=BLOOM_SCHEMA)
                     .localCheckpoint(eager=False))
        # the seen table is sharded by host bucket like every other
        # state table: one file per bucket per round instead of one per
        # fresh-delta partition — the cumulative anti-join scan lists
        # n_buckets files per round, not O(shuffle partitions)
        seen_delta = fresh.select(
            "url", "host_bucket", "url_hash",
            F.lit(r + 1).alias("round")) \
            .repartition(pol.n_buckets, "host_bucket")

        w_frontier = pool.submit(st.write, "frontier", r + 1, next_frontier)
        w_seen = pool.submit(st.write, "seen", r + 1, seen_delta)
        w_bloom = pool.submit(st.write, "bloom", r + 1, new_bloom)
        w_frontier.result()  # residual observation resolves here
        stats.residual = _obs_long(obs_residual, "n", residual.count)
        stats.frontier_next = stats.residual + stats.fresh
        st.write_rows("round_log", r, self._log_rows(r, stats, per_bucket),
                      ROUND_LOG_SCHEMA)
        w_seen.result()
        w_bloom.result()
        return next_frontier, new_bloom

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 32) -> list[RoundStats]:
        out = []
        r = self.resume_round()
        known_nonempty = False
        wave_bound = None
        for _ in range(max_rounds):
            stats = self.run_round(r, known_nonempty=known_nonempty,
                                   wave_bound=wave_bound)
            out.append(stats)
            if stats.frontier_next == 0 and stats.scheduled == 0:
                break
            known_nonempty = stats.frontier_next > 0
            wave_bound = stats.frontier_next
            r += 1
        return out

    # ------------------------------------------------------------------
    def _log_rows(self, r: int, stats: RoundStats,
                  per_bucket: list[tuple[int, int]]) -> list[tuple]:
        """Round-log rows — n_buckets+1 by construction at ANY scale,
        so the write goes through CrawlState.write_rows (driver-side
        pyarrow, no Spark job: the parallelize(rows, 1) + single-task
        parquet job it replaces cost a fixed ~0.15 s/round)."""
        from nipper_spark.crawl.state import bucket_skew
        max_fresh, p99_fresh, max_share = bucket_skew(
            n for _, n in per_bucket)
        rows = [(r, int(b), 0, 0, int(n), 0, 0, 0, 0.0, 0, 0)
                for b, n in sorted(per_bucket)]
        rows.append((r, -1, stats.candidates, stats.bloom_hits,
                     stats.fresh, stats.scheduled, stats.fetched,
                     stats.residual, float(max_share),
                     int(max_fresh), int(p99_fresh)))
        return rows


def round_metrics(round_log: DataFrame) -> DataFrame:
    """Public per-round lineage + skew metrics over a ``round_log``
    table (any number of crawls/rounds unioned): recomputes the skew
    statistics DISTRIBUTIVELY from the per-bucket rows — same
    nearest-rank definition as the pure :func:`~nipper_spark.crawl.
    state.bucket_skew` kernel that stamps the summary row, so the two
    cross-check.

    Output: (round, active_buckets, fresh, max_bucket_fresh,
    p99_bucket_fresh, max_bucket_share) — one row per logged round,
    zero-filled for rounds with no fresh URLs.

    Scale shape: the only grouped state is one array of per-bucket
    counts per round, bounded by ``n_buckets`` (a config constant) —
    never by URL count."""
    totals = (round_log.filter(F.col("host_bucket") == -1)
              .select("round"))
    buckets = (round_log.filter(F.col("host_bucket") >= 0)
               .groupBy("round")
               .agg(F.count("*").alias("active_buckets"),
                    F.sum("fresh").alias("fresh"),
                    F.array_sort(F.collect_list("fresh")).alias("_s")))
    buckets = buckets.select(
        "round", "active_buckets", "fresh",
        F.element_at("_s", F.size("_s")).alias("max_bucket_fresh"),
        F.element_at(
            "_s",
            F.ceil(F.size("_s") * F.lit(0.99)).cast("int"))
        .alias("p99_bucket_fresh"),
        (F.element_at("_s", F.size("_s")) / F.col("fresh"))
        .alias("max_bucket_share"))
    return (totals.join(buckets, "round", "left")
            .select("round",
                    F.coalesce("active_buckets", F.lit(0))
                    .cast("long").alias("active_buckets"),
                    F.coalesce("fresh", F.lit(0)).cast("long")
                    .alias("fresh"),
                    F.coalesce("max_bucket_fresh", F.lit(0))
                    .cast("long").alias("max_bucket_fresh"),
                    F.coalesce("p99_bucket_fresh", F.lit(0))
                    .cast("long").alias("p99_bucket_fresh"),
                    F.coalesce("max_bucket_share", F.lit(0.0))
                    .cast("double").alias("max_bucket_share")))


_CRAWL_EXT_SCHEMA = ("url string, "
                     "outlinks array<struct<dst:string,priority:double>>")
_CRAWL_EXT_DS_SCHEMA = _CRAWL_EXT_SCHEMA + ", depth int, score double"


def _crawl_extract(fetched: DataFrame,
                   respect_nofollow: bool = False) -> DataFrame:
    """(url, html[, depth, score]) → (url, outlinks[(dst, priority)]
    [, depth, score]) in ONE ``mapInPandas`` crossing, dispatching per
    row on the sitemap URL pattern via the shared pure kernel
    :func:`~nipper_spark.crawl.sitemaps.crawl_extract_outlinks`.
    ``depth``/``score``, when present, pass through the Arrow batch
    untouched so the caller's outlink explode needs no join back to
    the wave."""
    passthrough = "depth" in fetched.columns

    def _ext(batches):
        for pdf in batches:
            urls, outs = [], []
            for url, h in zip(pdf["url"], pdf["html"]):
                urls.append(url)
                outs.append([{"dst": d, "priority": p}
                             for d, p in crawl_extract_outlinks(
                                 url, h,
                                 respect_nofollow=respect_nofollow)])
            out = pd.DataFrame({"url": urls, "outlinks": outs})
            if passthrough:
                out["depth"] = pdf["depth"].reset_index(drop=True)
                out["score"] = pdf["score"].reset_index(drop=True)
            yield out

    return fetched.mapInPandas(
        _ext, schema=_CRAWL_EXT_DS_SCHEMA if passthrough
        else _CRAWL_EXT_SCHEMA)


# ----------------------------------------------------------------------
# cogrouped pandas kernels (bucket-local: one host bucket per call)
# ----------------------------------------------------------------------

def _bloom_probe(cand: pd.DataFrame, blooms: pd.DataFrame) -> pd.DataFrame:
    """Bucket-local bloom probe (False = definitely unseen; never a
    false negative)."""
    cols = ["url", "depth", "score", "host", "host_bucket", "url_hash"]
    out = cand[cols].copy()
    if len(blooms) == 0 or len(cand) == 0:
        out["bloom_hit"] = pd.Series([False] * len(cand), dtype="bool")
        return out
    out["bloom_hit"] = B.bloom_might_contain(
        bytes(blooms["payload"].iloc[0]), list(cand["url"]))
    return out


def _bloom_merge(fresh: pd.DataFrame, blooms: pd.DataFrame) -> pd.DataFrame:
    """Bucket-local bloom payload |= fresh keys."""
    if len(fresh) == 0:
        # bucket had no fresh keys this round: echo the old payload
        return blooms[["host_bucket", "payload", "n_items"]].head(1)
    bucket = int(fresh["host_bucket"].iloc[0])
    urls = list(fresh["url"])
    if len(blooms):
        payload = bytes(blooms["payload"].iloc[0])
        new = B.bloom_add(payload, urls, len(payload) * 8)
        n_old = int(blooms["n_items"].iloc[0])
    else:
        new = B.bloom_build(urls, B.bloom_sizing(max(len(urls) * 4, 1024)))
        n_old = 0
    return pd.DataFrame({"host_bucket": [bucket], "payload": [new],
                         "n_items": [n_old + len(urls)]})
