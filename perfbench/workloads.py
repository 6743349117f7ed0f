"""The benchmark workloads.

Each workload builds its inputs from the seed (``prepare``, repeatable),
warms up (``warmup``: worker fork, imports, first crawl round), then the
runner calls ``op`` closed-loop — each operation starts after the
previous one returned — for the measured window. ``checks`` compares
the outputs with single-threaded references after the window, and
``layers`` derives the per-layer metrics of a traced run from the
tracer's spans. Per-operation layer figures are medians over the
measured operations.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import time

import pyarrow as pa

from perfbench import gen
from perfbench.trace import Span, Tracer, covered_s

PAGES_DDL = "url string, html binary"


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(n * scale))


def cpu_us_per_item(fn, items: list, reps: int = 3) -> float:
    """Median over ``reps`` of the process CPU time of ``fn(items)``,
    in microseconds per item."""
    times = []
    for _ in range(reps):
        t0 = time.process_time()
        fn(items)
        times.append(time.process_time() - t0)
    return statistics.median(times) / max(len(items), 1) * 1e6


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def spark_layers(tracer: Tracer, ops: list[Span], cores: int) -> dict:
    """Spark-level figures per measured operation (medians)."""
    jobs, stages, cpu, run, shuffle, exch, pyev, busy = \
        [], [], [], [], [], [], [], []
    for op in ops:
        js = tracer.descendants(op, "job")
        ss = [s for j in js for s in tracer.children(j)]
        sql = tracer.descendants(op, "sql")
        jobs.append(len(js))
        stages.append(len(ss))
        cpu.append(sum(s.attrs["cpu_s"] for s in ss))
        run.append(sum(s.attrs["run_s"] for s in ss))
        shuffle.append(sum(s.attrs["shuffle_write_bytes"] for s in ss))
        exch.append(sum(x.attrs["exchanges"] for x in sql))
        pyev.append(sum(x.attrs["python_evals"] for x in sql))
        busy.append(run[-1] / (op.dur * cores) if op.dur > 0 else 0.0)
    return {"spark.jobs": _median(jobs),
            "spark.stages": _median(stages),
            "spark.executor_cpu_s": _median(cpu),
            "spark.executor_run_s": _median(run),
            "spark.slot_busy_frac": _median(busy),
            "spark.no_job_s": _median(tracer.no_job_s(op) for op in ops),
            "exchange.shuffle_write_bytes": _median(shuffle),
            "plan.exchanges": _median(exch),
            "plan.python_evals": _median(pyev)}


class Workload:
    name = ""
    min_ops = 1  # measured operations run even when the window is over
    max_ops: int | None = None  # stop here even when the window is open

    def __init__(self, spark, seed: int, work_dir: str, tracer: Tracer,
                 scale: float = 1.0) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.scale = scale
        self._cached: list = []

    def _load(self, rows: list, columns: list[str], ddl: str):
        """Generated rows → a cached, materialized DataFrame of one
        partition per core, each a contiguous run of the input order
        (adjacent refetches stay adjacent). createDataFrame makes one
        partition per Arrow record batch, so the table is cut into one
        batch per core first."""
        table = pa.table(dict(zip(columns, map(list, zip(*rows)))))
        step = -(-len(rows) // self.spark.sparkContext.defaultParallelism)
        table = pa.Table.from_batches(
            [b for i in range(0, len(rows), step)
             for b in table.slice(i, step).to_batches()])
        df = self.spark.createDataFrame(table, ddl).cache()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def op(self) -> int:
        """One measured operation; returns the items it processed."""
        raise NotImplementedError

    def before_op(self) -> None:
        """Traced runs only: probes taken between operations."""

    def after_op(self) -> None:
        """Traced runs only: probes taken between operations."""

    def after_window(self) -> None:
        """Traced runs only: probes taken after the measured window,
        before the checks."""

    def checks(self) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def layers(self, ops: list[Span]) -> dict:
        return {}


# ----------------------------------------------------------------------
# crawl frontier
# ----------------------------------------------------------------------

class Crawl(Workload):
    """Live engine: ``bootstrap`` then consecutive ``run_round`` calls
    (committed-state carry and driver bloom mirror in use). A traced run
    adds one round after the window the way tools/submit_crawl.py runs
    it — a fresh engine calling ``run(max_rounds=1)``, which resumes
    from parquet and takes the bucket-cogroup bloom path."""

    name = "crawl"
    # exactly rounds 1-4, whatever the window: compact_every=4 folds the
    # seen deltas after round 3, so every run times the same rounds and
    # crosses one compaction (assumed: the default of 8 would take twice
    # the rounds, more than a run can spend)
    min_ops = max_ops = 4
    # assumed: sized so a run fits the benchmark's time budget on a
    # 4-core box (bench.py's corpus has 60000 pages)
    N_PAGES = 8000

    def prepare(self) -> None:
        from nipper_spark.crawl.politeness import CrawlPolicy
        self.release()
        n_pages = _scaled(self.N_PAGES, self.scale, 400)
        corpus = gen.crawl_corpus(self.seed, n_pages)
        self.corpus = corpus
        self.pages = self._load(corpus["pages"], ["url", "html"], PAGES_DDL)
        # bench.py's frontier policy (150 tokens a host, 60 for the hot
        # host) scaled to this corpus size; every other field but
        # compact_every default
        share = n_pages / gen.BENCH_CORPUS_PAGES
        self.policy = CrawlPolicy(
            default_tokens=max(1, round(150 * share)),
            host_tokens={corpus["hosts"][0]: max(1, round(60 * share))},
            compact_every=self.max_ops)
        self.state_dir = os.path.join(self.work_dir, f"{self.name}-state")
        self.stats = []
        self.resume_s: list[float] = []
        self.written: list[tuple[int, int]] = []
        self.resume_round: Span | None = None

    def _engine(self):
        from nipper_spark.crawl.frontier import FrontierEngine
        return FrontierEngine(self.spark, self.pages, self.state_dir,
                              self.policy)

    def warmup(self) -> None:
        self.engine = self._engine()
        self.engine.bootstrap(self.corpus["seeds"])
        with self.tracer.span("FrontierEngine.run_round", round=0):
            self.stats.append(self.engine.run_round(0))

    def op(self) -> int:
        r, prev = len(self.stats), self.stats[-1]
        # the arguments FrontierEngine.run passes between rounds
        with self.tracer.span("FrontierEngine.run_round", round=r):
            st = self.engine.run_round(
                r, known_nonempty=prev.frontier_next > 0,
                wave_bound=prev.frontier_next)
        self.stats.append(st)
        return st.scheduled + st.fresh

    def before_op(self) -> None:
        with self.tracer.overhead():
            t0 = time.perf_counter()
            with self.tracer.span("FrontierEngine.resume_round"):
                self._engine().resume_round()
            self.resume_s.append(time.perf_counter() - t0)
            self._files = _dir_files(self.state_dir)

    def after_op(self) -> None:
        with self.tracer.overhead():
            after = _dir_files(self.state_dir)
            new = [p for p, v in after.items() if self._files.get(p) != v]
            self.written.append((len(new), sum(after[p][0] for p in new)))

    def after_window(self) -> None:
        with self.tracer.span("FrontierEngine.run") as sp:
            self.stats.extend(self._engine().run(max_rounds=1))
        self.resume_round = sp

    def checks(self) -> list[tuple[str, bool]]:
        from nipper_spark.crawl.oracle import crawl_oracle
        from nipper_spark.crawl.state import (
            SCHEDULE_SCHEMA, SEEN_SCHEMA, CrawlState)
        rounds = len(self.stats)
        t0 = time.perf_counter()
        oracle = crawl_oracle(dict(self.corpus["pages"]),
                              self.corpus["seeds"], self.policy,
                              max_rounds=rounds)
        self.oracle_s = time.perf_counter() - t0
        st = CrawlState(self.spark, self.state_dir)
        sched: list[list[tuple]] = [[] for _ in range(rounds)]
        for row in (st.read_all_rounds("schedule", rounds, SCHEDULE_SCHEMA)
                    .orderBy("round", "seq").collect()):
            sched[row["round"]].append(
                (row["url"], row["host"], row["depth"], row["score"]))
        seen = {row["url"] for row in st.read_all_rounds(
            "seen", rounds, SEEN_SCHEMA).select("url").collect()}
        return [("schedules == crawl_oracle", sched == oracle.schedules),
                ("seen == crawl_oracle", seen == oracle.seen),
                ("every round scheduled", all(oracle.schedules))]

    def layers(self, ops: list[Span]) -> dict:
        from nipper_spark.crawl import bloom as B
        tr = self.tracer
        phases: dict[str, list[float]] = {
            "wave select+count": [], "fetch+extract+probe+antijoin": [],
            "per-bucket fresh counters": [], "writes": []}
        for op in ops:
            jobs = tr.descendants(op, "job")
            counters_end = op.start
            for label in list(phases)[:3]:
                mine = [j for j in jobs
                        if j.attrs["description"].endswith(": " + label)]
                phases[label].append(covered_s(
                    [(j.start, j.end) for j in mine], op.start, op.end))
                if label == "per-bucket fresh counters" and mine:
                    counters_end = max(j.end for j in mine)
            phases["writes"].append(op.end - counters_end)
        timed = self.stats[1:len(ops) + 1]
        hits = sum(s.bloom_hits for s in timed)
        urls = [u for u, _ in self.corpus["pages"]]
        payload = B.bloom_build(urls[::2], B.bloom_sizing(len(urls)))
        last = os.path.join(self.state_dir, "bloom",
                            f"round={len(self.stats)}")
        out = {
            "frontier.jobs_per_round": _median(
                len(tr.descendants(op, "job")) for op in ops),
            "frontier.stages_per_round": _median(
                sum(len(tr.children(j)) for j in tr.descendants(op, "job"))
                for op in ops),
            "frontier.no_job_s_per_round": _median(
                tr.no_job_s(op) for op in ops),
            "frontier.phase_s.wave": _median(phases["wave select+count"]),
            "frontier.phase_s.fetch_extract_probe": _median(
                phases["fetch+extract+probe+antijoin"]),
            "frontier.phase_s.counters": _median(
                phases["per-bucket fresh counters"]),
            "frontier.phase_s.writes": _median(phases["writes"]),
            "bloom.probe_cpu_us_per_key": cpu_us_per_item(
                lambda xs: B.bloom_might_contain(payload, xs), urls),
            "bloom.hit_precision": (
                sum(s.candidates - s.fresh for s in timed) / hits
                if hits else 0.0),
            "bloom.state_bytes": float(sum(
                v[0] for v in _dir_files(last).values())),
            "state.files_written_per_round": _median(
                n for n, _ in self.written),
            "state.bytes_written_per_round": _median(
                b for _, b in self.written),
            "state.resume_s": _median(self.resume_s),
            "frontier.resume_round_s": self.resume_round.dur,
            "frontier.resume_jobs_per_round": float(len(
                tr.descendants(self.resume_round, "job"))),
            "baseline.oracle_crawl_s": self.oracle_s,
        }
        return out


# ----------------------------------------------------------------------
# extraction
# ----------------------------------------------------------------------

_HREF_RE = re.compile(r'href="([^"]*)"')


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


class Extract(Workload):
    """``extract_pages`` over the crawl workload's page corpus, then
    ``extract_records`` with the Hacker-News spec over story-table pages
    (10% adjacent byte-identical refetches). A traced run also times one
    dedup chain after the window (:class:`DedupChain`), for the dedup
    and text layers."""

    name = "extract"
    min_ops = 4
    # bench.py's q1 replicates the 30-story Hacker News page 512 times
    RECORD_PAGES, ROWS = 512, 30
    SAMPLE = 200

    def prepare(self) -> None:
        self.release()
        self.corpus = gen.crawl_corpus(
            self.seed, _scaled(Crawl.N_PAGES, self.scale, 200))["pages"]
        self.records = gen.record_pages(
            self.seed, _scaled(self.RECORD_PAGES, self.scale, 20),
            self.ROWS)
        self.pages_df = self._load(self.corpus, ["url", "html"], PAGES_DDL)
        self.records_df = self._load(self.records, ["url", "html"],
                                     PAGES_DDL)
        self.record_times: list[tuple[int, float]] = []

    def warmup(self) -> None:
        self.op()

    def release(self) -> None:
        super().release()
        if self.dedup is not None:
            self.dedup.release()

    dedup: DedupChain | None = None  # traced runs, after the window

    def after_window(self) -> None:
        self.dedup = DedupChain(self.spark, self.seed, self.work_dir,
                                self.tracer, self.scale)
        self.dedup.prepare()
        self.dedup.warmup()
        with self.tracer.span("dedup chain") as sp:
            self.dedup.op()
        self.dedup_ops = [sp]

    def op(self) -> int:
        from pyspark.sql import functions as F
        from nipper_spark.functions.html_udfs import (
            extract_pages, extract_records)
        with self.tracer.span("extract_pages"):
            self.pages_out = (
                extract_pages(self.pages_df)
                .select("url", F.sha2("text", 256).alias("text_sha"),
                        F.sha2(F.concat_ws("\n", "outlinks"), 256)
                        .alias("links_sha"), "n_nodes", "n_anchors")
                .toPandas())
        t0 = time.perf_counter()
        with self.tracer.span("extract_records"):
            self.records_out = extract_records(
                self.records_df, gen.RECORD_ROW, gen.RECORD_SPEC).toPandas()
        self.record_times.append((len(self.records_out),
                                  time.perf_counter() - t0))
        return len(self.corpus) + len(self.records)

    def _page_sample(self) -> list[tuple]:
        step = max(1, len(self.corpus) // self.SAMPLE)
        return sorted(self.corpus)[::step][:self.SAMPLE]

    def checks(self) -> list[tuple[str, bool]]:
        from nipper_spark import Document
        from nipper_spark.functions.html_udfs import extract_text_and_links
        got = {r.url: (r.text_sha, r.links_sha, r.n_nodes, r.n_anchors)
               for r in self.pages_out.itertuples()}
        same = True
        for url, html in self._page_sample():
            text, links, nn, na = extract_text_and_links(url, html)
            same &= got.get(url) == (_sha(text), _sha("\n".join(links)),
                                     nn, na)
        rows = self.ROWS
        recs = self.records_out.sort_values(["url", "seq"])
        want_recs = []
        for url, html in self.records[:20]:
            for row in Document.from_html(html).select(
                    gen.RECORD_ROW).iter():
                want_recs.append((url, row.select(".title a").text(),
                                  row.select(".storylink").attr("href")))
        sample_urls = {u for u, _ in self.records[:20]}
        got_recs = [(r.url, r.title, r.href)
                    for r in recs.itertuples() if r.url in sample_urls]
        return [("extract_pages rows", len(got) == len(self.corpus)),
                ("extract_pages == extract_text_and_links (sample)", same),
                ("extract_records rows",
                 len(self.records_out) == rows * len(self.records)),
                ("extract_records == in-process select (sample)",
                 sorted(got_recs) == sorted(want_recs)),
                *(self.dedup.checks() if self.dedup else [])]

    def layers(self, ops: list[Span]) -> dict:
        from nipper_spark import Document
        from nipper_spark.functions.html_udfs import extract_text_and_links
        from nipper_spark.functions.url import resolve_and_canonicalize
        sample = self._page_sample()
        htmls = [h for _, h in sample]
        extract_us = cpu_us_per_item(
            lambda xs: [extract_text_and_links(u, h) for u, h in xs],
            sample)
        docs = [Document.from_html(h) for _, h in self.records[:50]]

        def select_all(ds):
            for d in ds:
                for row in d.select(gen.RECORD_ROW).iter():
                    row.select(".title a").text()
                    row.select(".storylink").attr("href")

        links = [(u, m) for u, h in sample
                 for m in _HREF_RE.findall(h.decode("utf-8"))]
        tr = self.tracer
        boundary, pages_rate = [], []
        for op in ops:
            ep = next(c for c in tr.children(op)
                      if c.name == "extract_pages")
            run_s = sum(s.attrs["run_s"] for j in tr.descendants(ep, "job")
                        for s in tr.children(j))
            kernel_s = extract_us * len(self.corpus) / 1e6
            boundary.append(1.0 - kernel_s / run_s if run_s else 0.0)
            pages_rate.append(len(self.corpus) / ep.dur)
        n_ops = len(ops)
        return {
            **self.dedup.layers(self.dedup_ops),
            "html.parse_cpu_us_per_doc": cpu_us_per_item(
                lambda xs: [Document.from_html(h) for h in xs], htmls),
            "html.select_cpu_us_per_doc": cpu_us_per_item(select_all, docs),
            "html_udfs.extract_cpu_us_per_doc": extract_us,
            "html_udfs.boundary_frac": _median(boundary),
            "html_udfs.pages_per_s": _median(pages_rate),
            "html_udfs.records_per_s": _median(
                n / t for n, t in self.record_times[-n_ops:]),
            "url.canon_cpu_us_per_link": cpu_us_per_item(
                lambda xs: [resolve_and_canonicalize(u, h) for u, h in xs],
                links),
        }


# ----------------------------------------------------------------------
# dedup chain
# ----------------------------------------------------------------------

class DedupChain(Workload):
    """``dedup_exact`` → ``minhash_lsh_pairs`` → ``near_dup_survivors``,
    ``simhash_near_dups`` and ``with_text_features`` over documents with
    planted exact and near duplicates at the shares of the documents
    table bench.py's dedup queries read. Not a workload of its own (a
    run of it does not fit the benchmark's time budget beside the other
    two): the traced extract run times one chain."""

    N_DOCS = 5000  # the size of that table
    THRESHOLD = gen.THRESHOLD
    MAX_HAMMING = 3  # simhash_near_dups default

    def prepare(self) -> None:
        self.release()
        self.data = gen.documents(
            self.seed, _scaled(self.N_DOCS, self.scale, 400))
        self.docs = self._load(self.data["docs"], ["doc_id", "text"],
                               "doc_id long, text string")

    def warmup(self) -> None:
        # worker fork, imports and the first pass of JIT and codegen
        self.op()

    def op(self) -> int:
        from pyspark.sql import functions as F
        from nipper_spark.functions.dedup import (
            dedup_exact, minhash_lsh_pairs, near_dup_survivors,
            simhash_near_dups)
        from nipper_spark.functions.text_udfs import with_text_features
        tr = self.tracer
        with tr.span("dedup_exact"):
            kept = dedup_exact(self.docs).cache()
            self.kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        with tr.span("minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(kept, threshold=self.THRESHOLD).cache()
            self.pairs = [tuple(r) for r in pairs.collect()]
        with tr.span("near_dup_survivors"):
            self.n_survivors = near_dup_survivors(kept, pairs).count()
        with tr.span("simhash_near_dups"):
            self.sim_pairs = [tuple(r) for r in
                              simhash_near_dups(kept).collect()]
        with tr.span("with_text_features"):
            self.features = with_text_features(kept).agg(
                F.count("*"), F.sum("bpe_tokens"), F.avg("quality")
            ).collect()[0]
        pairs.unpersist()
        kept.unpersist()
        return len(self.data["docs"])

    def checks(self) -> list[tuple[str, bool]]:
        from nipper_spark.functions.dedup import ngram_jaccard, simhash
        text = dict(self.data["docs"])
        removed = set(text) - set(self.kept_ids)
        jac_ok = all(
            a < b and ngram_jaccard(text[a], text[b]) >= self.THRESHOLD
            and abs(ngram_jaccard(text[a], text[b]) - j) < 1e-9
            for a, b, j in self.pairs)
        sim_ok = all(
            h <= self.MAX_HAMMING and h == bin(
                (simhash(text[a]) ^ simhash(text[b])) & (2**64 - 1)
            ).count("1")
            for a, b, h in self.sim_pairs)
        # every planted near copy clears the threshold against its base,
        # and unrelated documents share almost no word 3-grams: the
        # larger ids of the pairs are exactly the near copies (LSH with
        # 16 bands of 4 misses a pair at Jaccard 0.9 with p < 1e-7), and
        # near_dup_survivors drops exactly those
        near = self.data["near_ids"]
        return [("dedup_exact removes exactly the planted copies",
                 removed == self.data["exact_ids"]),
                ("minhash pairs clear the threshold (ngram_jaccard)", jac_ok),
                ("minhash pairs find exactly the planted near copies",
                 {b for _, b, _ in self.pairs} == near),
                ("simhash pairs within max hamming", sim_ok),
                ("near_dup_survivors drops exactly the near copies",
                 self.n_survivors == len(self.kept_ids) - len(near)),
                ("with_text_features rows",
                 self.features[0] == len(self.kept_ids))]

    def layers(self, ops: list[Span]) -> dict:
        from nipper_spark.functions.dedup import (
            dedup_exact, minhash_lsh_candidates, minhash_signatures_batch,
            simhash_batch)
        tr = self.tracer
        texts = [t for _, t in gen.documents(self.seed, 4096)["docs"]]
        n_cand = minhash_lsh_candidates(dedup_exact(self.docs)).count()

        def child(op: Span, name: str) -> Span:
            return next(c for c in tr.children(op) if c.name == name)
        out = {"dedup.candidates_per_doc": n_cand / len(self.kept_ids),
               "dedup.pair_precision": (len(self.pairs) / n_cand
                                        if n_cand else 0.0),
               "dedup.cc_jobs": _median(
                   len(tr.descendants(child(op, "near_dup_survivors"),
                                      "job")) for op in ops),
               "text_udfs.features_s": _median(
                   child(op, "with_text_features").dur for op in ops)}
        for n in (4096, 512):
            out[f"dedup.minhash_cpu_us_per_doc.b{n}"] = cpu_us_per_item(
                lambda xs: minhash_signatures_batch(xs, 64, 3), texts[:n])
            out[f"dedup.simhash_cpu_us_per_doc.b{n}"] = cpu_us_per_item(
                lambda xs: simhash_batch(xs, 2), texts[:n])
        return out


WORKLOADS = {w.name: w for w in (Crawl, Extract)}
