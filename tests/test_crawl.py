"""Crawl-frontier correctness: the Spark engine must reproduce the
single-threaded oracle EXACTLY — crawl ordering (per-round schedules)
and final URL-seen set under the same seed list + politeness budget
(the north-rule gate), plus exact resume from checkpoint.
"""

import shutil
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from nipper_spark.crawl import bloom as B
from nipper_spark.crawl.frontier import FrontierEngine
from nipper_spark.crawl.oracle import crawl_oracle
from nipper_spark.crawl.politeness import CrawlPolicy
from nipper_spark.crawl.state import SCHEDULE_SCHEMA, SEEN_SCHEMA, CrawlState
from nipper_spark.sources.synthetic import synth_pages_rows

def make_seeds(rows):
    """First three generated pages; one in messy form to prove seeds
    are canonicalized."""
    u0, u1, u2 = rows[0][0], rows[1][0], rows[2][0]
    messy = u1.replace("http://", "HTTP://").replace(
        "host", "HOST", 1) + "#frag"
    return [(u0, 1.0), (messy, 0.9), (u2, 0.8)]


POLICY = CrawlPolicy(
    default_tokens=6,
    host_tokens={"host00.test": 3},            # hot host throttled harder
    robots_disallow={"host03.test": ["/page/3"]},
    n_buckets=4,
    max_depth=16,
)


@pytest.fixture(scope="module")
def spark():
    from nipper_spark.session import build_session
    return build_session("crawl-tests", master="local[4]",
                         shuffle_partitions=4)


@pytest.fixture(scope="module")
def rows():
    return synth_pages_rows(n_pages=40, links_per_page=4, n_hosts=8,
                            seed=42)


@pytest.fixture(scope="module")
def pages_dict(rows):
    return {u: h for (u, _, h, _, _) in rows}


@pytest.fixture(scope="module")
def seeds(rows):
    return make_seeds(rows)


@pytest.fixture(scope="module")
def pages(spark, rows):
    from nipper_spark.sources.synthetic import PAGES_SCHEMA
    return spark.createDataFrame(rows, PAGES_SCHEMA).cache()


@pytest.fixture(scope="module")
def oracle(pages_dict, seeds):
    return crawl_oracle(pages_dict, seeds, POLICY, max_rounds=64)


def read_engine_schedules(spark, state_dir, upto):
    st = CrawlState(spark, state_dir)
    sched = st.read_all_rounds("schedule", upto, SCHEDULE_SCHEMA)
    rows = sched.orderBy("round", "seq").collect()
    out = {}
    for r in rows:
        out.setdefault(r["round"], []).append(
            (r["url"], r["host"], r["depth"], r["score"]))
    return out


class TestBloom:
    def test_roundtrip(self):
        urls = [f"http://h.test/{i}" for i in range(500)]
        m = B.bloom_sizing(500)
        payload = B.bloom_build(urls, m)
        assert B.bloom_might_contain(payload, urls).all()
        other = [f"http://x.test/{i}" for i in range(500)]
        fp = B.bloom_might_contain(payload, other).mean()
        assert fp < 0.05

    def test_add_and_or(self):
        m = B.bloom_sizing(100)
        a = B.bloom_build(["a"], m)
        b = B.bloom_add(a, ["b"], m)
        assert B.bloom_might_contain(b, ["a", "b"]).all()
        c = B.bloom_or(B.bloom_build(["x"], m), B.bloom_build(["y"], m))
        assert B.bloom_might_contain(c, ["x", "y"]).all()

    def test_bloom_build_probe_no_false_negative(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=50, deadline=None)
        @given(st.lists(st.text(min_size=1, max_size=40), min_size=1,
                        max_size=80),
               st.integers(min_value=0, max_value=3))
        def prop(members, split):
            m = B.bloom_sizing(len(members))
            base, extra = members[split:], members[:split]
            payload = B.bloom_build(base, m)
            payload = B.bloom_add(payload, extra, m)
            assert B.bloom_might_contain(payload, members).all()

        prop()

    @staticmethod
    def _naive_set_bits(bits, idx):
        out = bytearray(bits.tobytes())
        for i in idx.ravel().tolist():
            out[i >> 3] |= 1 << (i & 7)
        return bytes(out)

    @pytest.mark.parametrize("n_idx, m_bits", [
        (10, 1 << 16),        # tiny delta into a large filter
        (5000, 1 << 16),      # delta denser than one index per 64 bits
    ])
    def test_set_bits_matches_naive(self, n_idx, m_bits):
        rng = np.random.default_rng(n_idx)
        bits = rng.integers(0, 256, m_bits // 8, dtype=np.uint8)
        idx = rng.integers(0, m_bits, n_idx, dtype=np.uint64)
        # duplicate indices, and distinct indices sharing one byte
        idx[-4:] = [idx[0], idx[0], 8, 9]
        idx = idx.reshape(-1, 1)
        want = self._naive_set_bits(bits, idx)
        B._set_bits(bits, idx)
        assert bits.tobytes() == want

    def test_bloom_add_payload_matches_naive(self):
        m = B.bloom_sizing(50_000)
        base = B.bloom_build([f"http://h.test/{i}" for i in range(3000)], m)
        for urls in (["http://n.test/0", "http://n.test/0"],
                     [f"http://n.test/{i}" for i in range(2000)]):
            bits = np.frombuffer(base, dtype=np.uint8)
            want = self._naive_set_bits(
                bits, B._probe_indices(urls, m, B.DEFAULT_K))
            assert B.bloom_add(base, urls, m) == want


class TestOracleSanity:
    def test_terminates_and_covers(self, oracle, pages_dict):
        assert oracle.rounds > 2
        # politeness: no round takes more than tokens(host) per host
        for wave in oracle.schedules:
            per_host = {}
            for url, host, d, s in wave:
                per_host[host] = per_host.get(host, 0) + 1
            for host, n in per_host.items():
                assert n <= POLICY.tokens(host)
        # robots: the disallowed prefix never scheduled
        for wave in oracle.schedules:
            for url, host, _, _ in wave:
                assert POLICY.allowed(host, url)
        assert len(oracle.seen) > 10


class TestEngineMatchesOracle:
    @pytest.fixture(scope="class")
    def engine_run(self, spark, pages, seeds, tmp_path_factory):
        state_dir = str(tmp_path_factory.mktemp("crawl_state"))
        eng = FrontierEngine(spark, pages, state_dir, POLICY)
        eng.bootstrap(seeds)
        stats = eng.run(max_rounds=64)
        return state_dir, stats

    def test_ordering_matches_oracle(self, spark, engine_run, oracle):
        state_dir, stats = engine_run
        engine_scheds = read_engine_schedules(spark, state_dir,
                                              len(stats) + 1)
        non_empty = {r: w for r, w in engine_scheds.items() if w}
        assert len(non_empty) == len(oracle.schedules)
        for r, wave in enumerate(oracle.schedules):
            assert non_empty[r] == wave, f"round {r} ordering mismatch"

    def test_seen_set_matches_oracle(self, spark, engine_run, oracle):
        state_dir, stats = engine_run
        st = CrawlState(spark, state_dir)
        seen = {r["url"] for r in st.read_all_rounds(
            "seen", len(stats) + 1, SEEN_SCHEMA).collect()}
        assert seen == oracle.seen

    def test_round_log_lineage(self, spark, engine_run):
        state_dir, stats = engine_run
        st = CrawlState(spark, state_dir)
        from nipper_spark.crawl.state import ROUND_LOG_SCHEMA, bucket_skew
        log = st.read_all_rounds("round_log", len(stats) + 1,
                                 ROUND_LOG_SCHEMA)
        totals = log.filter("host_bucket = -1").orderBy("round").collect()
        assert len(totals) == len(stats)
        # totals row reconciles with per-bucket fresh rows, and its
        # skew columns equal the pure kernel over those rows
        for t in totals:
            buckets = log.filter(
                (F.col("round") == t["round"]) &
                (F.col("host_bucket") >= 0)).collect()
            assert sum(b["fresh"] for b in buckets) == t["fresh"]
            mx, p99, share = bucket_skew(b["fresh"] for b in buckets)
            assert t["max_bucket_fresh"] == mx
            assert t["p99_bucket_fresh"] == p99
            assert t["max_bucket_share"] == pytest.approx(share)

    def test_round_metrics_cross_checks_summary(self, spark, engine_run,
                                                oracle):
        """The distributed round_metrics query over per-bucket rows
        reproduces the driver-stamped summary skew columns AND the
        oracle's per-round fresh bucket counts."""
        from nipper_spark.crawl.frontier import round_metrics
        from nipper_spark.crawl.state import ROUND_LOG_SCHEMA, bucket_skew
        state_dir, stats = engine_run
        st = CrawlState(spark, state_dir)
        log = st.read_all_rounds("round_log", len(stats) + 1,
                                 ROUND_LOG_SCHEMA)
        m = {r["round"]: r for r in round_metrics(log).collect()}
        totals = {r["round"]: r
                  for r in log.filter("host_bucket = -1").collect()}
        assert set(m) == set(totals)
        for rnd, t in totals.items():
            assert m[rnd]["fresh"] == t["fresh"]
            assert m[rnd]["max_bucket_fresh"] == t["max_bucket_fresh"]
            assert m[rnd]["p99_bucket_fresh"] == t["p99_bucket_fresh"]
            assert m[rnd]["max_bucket_share"] == pytest.approx(
                t["max_bucket_share"])
        # oracle twin: per-round bucket counts agree exactly
        for rnd, buckets in enumerate(oracle.fresh_buckets):
            mx, p99, share = bucket_skew(buckets.values())
            assert m[rnd]["active_buckets"] == len(buckets)
            assert m[rnd]["fresh"] == sum(buckets.values())
            assert m[rnd]["max_bucket_fresh"] == mx
            assert m[rnd]["p99_bucket_fresh"] == p99


class TestShuffleJoinRegime:
    def test_engine_matches_oracle_without_broadcasts(
            self, spark, pages, seeds, oracle, tmp_path_factory):
        """The at-scale regime (wave bound above every threshold →
        shuffle joins everywhere, salted two-phase top-k, two-phase
        schedule seq) must stay ORACLE-EXACT, not just plan-shaped:
        physical strategy may never change results."""
        import dataclasses
        pol = dataclasses.replace(
            POLICY, host_tokens=dict(POLICY.host_tokens),
            robots_disallow={k: list(v)
                             for k, v in POLICY.robots_disallow.items()},
            broadcast_wave_threshold=0,   # always take the shuffle join
            broadcast_dim_threshold=0,
            seq_window_threshold=0)       # salted top-k + two-phase seq
        state_dir = str(tmp_path_factory.mktemp("crawl_state_shuffle"))
        eng = FrontierEngine(spark, pages, state_dir, pol)
        eng.bootstrap(seeds)
        stats = eng.run(max_rounds=64)
        engine_scheds = read_engine_schedules(spark, state_dir,
                                              len(stats) + 1)
        non_empty = {r: w for r, w in engine_scheds.items() if w}
        assert len(non_empty) == len(oracle.schedules)
        for r, wave in enumerate(oracle.schedules):
            assert non_empty[r] == wave, f"round {r} ordering mismatch"
        st = CrawlState(spark, state_dir)
        seen = {r["url"] for r in st.read_all_rounds(
            "seen", len(stats) + 1, SEEN_SCHEMA).collect()}
        assert seen == oracle.seen


class TestResume:
    def test_exact_resume(self, spark, pages, oracle, seeds, tmp_path_factory):
        # uninterrupted reference run
        full_dir = str(tmp_path_factory.mktemp("full"))
        eng = FrontierEngine(spark, pages, full_dir, POLICY)
        eng.bootstrap(seeds)
        full_stats = eng.run(max_rounds=64)

        # interrupted run: 2 rounds, then a NEW engine resumes
        part_dir = str(tmp_path_factory.mktemp("part"))
        eng1 = FrontierEngine(spark, pages, part_dir, POLICY)
        eng1.bootstrap(seeds)
        eng1.run_round(0)
        eng1.run_round(1)
        # simulate a crash that left a partial, uncommitted round 2:
        st = CrawlState(spark, part_dir)
        st.write("schedule", 2, spark.createDataFrame(
            [(2, 0, "http://junk.test/", "junk.test", 0, 0.0)],
            SCHEDULE_SCHEMA))
        eng2 = FrontierEngine(spark, pages, part_dir, POLICY)
        r = eng2.resume_round()
        assert r == 2
        rest = eng2.run(max_rounds=64)

        full = read_engine_schedules(spark, full_dir, len(full_stats) + 1)
        resumed = read_engine_schedules(spark, part_dir,
                                        2 + len(rest) + 1)
        assert full == resumed

        seen_full = {x["url"] for x in CrawlState(spark, full_dir)
                     .read_all_rounds("seen", 64, SEEN_SCHEMA).collect()}
        seen_res = {x["url"] for x in st
                    .read_all_rounds("seen", 64, SEEN_SCHEMA).collect()}
        assert seen_full == seen_res == oracle.seen

    def test_failed_state_write_leaves_round_uncommitted(
            self, spark, pages, oracle, seeds, tmp_path_factory,
            monkeypatch):
        """Fault injection for the overlapped-write invariant: if ANY
        of the four concurrent state writes fails, commit_round must
        not run — the MANIFEST stays at the previous round and a fresh
        engine replays the failed round to the oracle-exact result."""
        from nipper_spark.crawl.state import CrawlState as CS
        state_dir = str(tmp_path_factory.mktemp("crawl_state_fault"))
        eng = FrontierEngine(spark, pages, state_dir, POLICY)
        eng.bootstrap(seeds)
        eng.run_round(0)

        real_write = CS.write

        def failing_write(self, table, r, df):
            if table == "seen" and r == 2:
                raise OSError("injected: seen write lost")
            return real_write(self, table, r, df)

        # every DataFrame the round caches, to check its release
        df_cls = type(pages)
        real_cache = df_cls.cache
        cached = []

        def recording_cache(df):
            cached.append(df)
            return real_cache(df)

        threads_before = set(threading.enumerate())
        monkeypatch.setattr(CS, "write", failing_write)
        monkeypatch.setattr(df_cls, "cache", recording_cache)
        with pytest.raises(OSError, match="injected"):
            eng.run_round(1)
        monkeypatch.setattr(CS, "write", real_write)
        monkeypatch.setattr(df_cls, "cache", real_cache)

        st = CrawlState(spark, state_dir)
        assert st.last_committed_round() == 0  # round 1 NOT committed
        # the failed round released its cache and its writer threads
        assert cached
        assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk
                       for df in cached)
        assert not [t for t in set(threading.enumerate()) - threads_before
                    if t.name.startswith("ThreadPoolExecutor")]

        eng2 = FrontierEngine(spark, pages, state_dir, POLICY)
        assert eng2.resume_round() == 1       # replay the failed round
        rest = eng2.run(max_rounds=64)
        scheds = read_engine_schedules(spark, state_dir,
                                       1 + len(rest) + 1)
        non_empty = {r: w for r, w in scheds.items() if w}
        for r, wave in enumerate(oracle.schedules):
            assert non_empty[r] == wave, f"round {r} mismatch"
        seen = {x["url"] for x in st.read_all_rounds(
            "seen", 64, SEEN_SCHEMA).collect()}
        assert seen == oracle.seen

    def test_lost_carry_blocks_replay_from_parquet(
            self, spark, pages, oracle, seeds, tmp_path_factory):
        """Forced fallback of the committed-state carry: the checkpoint
        blocks behind the carried frontier are dropped before round 1
        reads them. The round replays from the committed parquet and
        the crawl still equals the oracle."""
        state_dir = str(tmp_path_factory.mktemp("crawl_state_lost_carry"))
        eng = FrontierEngine(spark, pages, state_dir, POLICY)
        eng.bootstrap(seeds)
        eng.run_round(0)
        r, carried = eng._carry["frontier"]
        assert r == 1
        carried._jdf.queryExecution().logical().rdd().unpersist(True)
        eng.run_round(1)
        rest = eng.run(max_rounds=64)
        scheds = read_engine_schedules(spark, state_dir,
                                       2 + len(rest) + 1)
        non_empty = {r: w for r, w in scheds.items() if w}
        assert len(non_empty) == len(oracle.schedules)
        for r, wave in enumerate(oracle.schedules):
            assert non_empty[r] == wave, f"round {r} mismatch"
        seen = {x["url"] for x in CrawlState(spark, state_dir)
                .read_all_rounds("seen", 64, SEEN_SCHEMA).collect()}
        assert seen == oracle.seen


class TestNofollow:
    def test_kernel_rel_and_meta(self):
        """rel token-list matching + meta-robots nofollow/none, only
        under respect_nofollow=True."""
        from nipper_spark.functions.html_udfs import extract_text_and_links
        html = ('<a href="/a" rel="nofollow">a</a>'
                '<a href="/b" rel="External NoFollow">b</a>'
                '<a href="/c" rel="nofollowx">c</a>'
                '<a href="/d">d</a>')
        _, links, _, na = extract_text_and_links(
            "http://h.test/", html, respect_nofollow=True)
        assert links == ["http://h.test/c", "http://h.test/d"]
        assert na == 4  # anchor count reflects the page, not the policy
        # default: every link reported
        _, all_links, _, _ = extract_text_and_links("http://h.test/", html)
        assert len(all_links) == 4
        # page-level meta robots nofollow drops everything
        meta = '<meta name="ROBOTS" content="noindex, nofollow">' + html
        _, ml, _, _ = extract_text_and_links(
            "http://h.test/", meta, respect_nofollow=True)
        assert ml == []
        # 'none' == noindex,nofollow
        none = '<meta name="robots" content="none">' + html
        _, nl, _, _ = extract_text_and_links(
            "http://h.test/", none, respect_nofollow=True)
        assert nl == []
        # REP directives combine across MULTIPLE robots metas: nofollow
        # in a later tag counts even when the first tag has none
        multi = ('<meta name="robots" content="noindex">'
                 '<meta name="robots" content="nofollow">' + html)
        _, mml, _, _ = extract_text_and_links(
            "http://h.test/", multi, respect_nofollow=True)
        assert mml == []

    def test_engine_matches_oracle_with_nofollow(self, spark,
                                                 tmp_path_factory):
        """A crawl with respect_nofollow=True stays engine==oracle
        exact, and nofollow edges really stay out of the frontier."""
        import datetime

        from nipper_spark.sources.synthetic import PAGES_SCHEMA
        ts = datetime.datetime(2026, 1, 1)
        host = "nf.test"
        pages_rows = [
            (f"http://{host}/", ts,
             (f'<a href="/keep">k</a>'
              f'<a href="/skip" rel="nofollow">s</a>').encode(),
             "", "en"),
            (f"http://{host}/keep", ts,
             b'<meta name="robots" content="nofollow">'
             b'<a href="/never">n</a>', "", "en"),
            (f"http://{host}/skip", ts, b"<p>s</p>", "", "en"),
            (f"http://{host}/never", ts, b"<p>n</p>", "", "en"),
        ]
        pages = spark.createDataFrame(pages_rows, PAGES_SCHEMA)
        pol = CrawlPolicy(default_tokens=4, n_buckets=4,
                          respect_nofollow=True)
        seeds = [(f"http://{host}/", 1.0)]
        d = str(tmp_path_factory.mktemp("nofollow"))
        eng = FrontierEngine(spark, pages, d, pol)
        eng.bootstrap(seeds)
        stats = eng.run(max_rounds=8)
        oracle = crawl_oracle(
            {u: bytes(h) for (u, _, h, _, _) in pages_rows},
            seeds, pol, max_rounds=8)
        st = CrawlState(spark, d)
        seen = {r["url"] for r in st.read_all_rounds(
            "seen", len(stats) + 1, SEEN_SCHEMA).collect()}
        assert seen == oracle.seen
        assert f"http://{host}/skip" not in seen
        assert f"http://{host}/never" not in seen
        assert f"http://{host}/keep" in seen
