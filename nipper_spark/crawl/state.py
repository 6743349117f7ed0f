"""Checkpointed crawl state with atomic per-round commits.

Directory layout (an Iceberg-table emulation the sandbox can run;
every write is staged then atomically renamed, and the manifest's
high-water mark makes restarts exact — north rule: "resumable from
checkpoint with per-partition lineage + metrics"):

    state_dir/
      frontier/round=K/   next-round priority queue (delta table)
      seen/round=K/       newly-seen URL delta (cumulative union = seen set)
      bloom/round=K/      per-host-bucket bloom payloads (full snapshot)
      schedule/round=K/   the wave actually fetched in round K (ordering!)
      round_log/round=K/  per-bucket lineage counters + skew stats
      MANIFEST.json       {"last_committed_round": K}

On a real cluster these are five Iceberg tables; ``round=K`` maps to a
partition, the staged-rename to a snapshot commit. The engine only
appends/overwrites whole round partitions, so replaying round K after
a crash is idempotent.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from nipper_spark.session import arrow_table, local_df

TABLES = ("frontier", "seen", "bloom", "schedule", "round_log")

FRONTIER_SCHEMA = ("url string, host string, host_bucket int, depth int, "
                   "score double, discovered_round int")
SEEN_SCHEMA = "url string, host_bucket int, url_hash long, round int"
BLOOM_SCHEMA = "host_bucket int, payload binary, n_items long"
SCHEDULE_SCHEMA = ("round int, seq long, url string, host string, "
                   "depth int, score double")
ROUND_LOG_SCHEMA = ("round int, host_bucket int, candidates long, "
                    "bloom_hits long, fresh long, scheduled long, "
                    "fetched long, residual long, max_bucket_share double, "
                    "max_bucket_fresh long, p99_bucket_fresh long")


def bucket_skew(counts) -> tuple[int, int, float]:
    """Skew statistics over per-bucket fresh counts (buckets that
    received ≥1 fresh URL this round): ``(max, p99 nearest-rank,
    max share of total)``. Pure kernel — the engine's round_log
    summary row, the distributed ``round_metrics`` query, and the
    crawl oracle's twin all use this exact definition, so the skew
    numbers are comparable everywhere. Empty → (0, 0, 0.0)."""
    import math
    vals = sorted(int(c) for c in counts)
    if not vals:
        return 0, 0, 0.0
    total = sum(vals)
    p99 = vals[max(0, math.ceil(0.99 * len(vals)) - 1)]
    return vals[-1], p99, (vals[-1] / total if total else 0.0)


class CrawlState:
    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "MANIFEST.json")

    def last_committed_round(self) -> int:
        """-1 = nothing committed (fresh crawl)."""
        try:
            with open(self._manifest_path) as f:
                return json.load(f)["last_committed_round"]
        except (OSError, KeyError, ValueError):
            return -1

    def commit_round(self, r: int) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_committed_round": r}, f)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # -- table IO ------------------------------------------------------
    def _round_dir(self, table: str, r: int) -> str:
        return os.path.join(self.dir, table, "round=%d" % r)

    def write(self, table: str, r: int, df: DataFrame) -> None:
        """Stage-then-rename: a half-written round is never visible.
        Labeled (guide §1.5) — state writes run concurrently on driver
        threads and the description is thread-local, so each write's
        jobs are attributable in the UI/status store."""
        final = self._round_dir(table, r)
        tmp = final + ".staging"
        shutil.rmtree(tmp, ignore_errors=True)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"state write {table}/round={r}")
        try:
            df.write.mode("overwrite").parquet(tmp)
        finally:
            sc.setJobDescription(None)
        shutil.rmtree(final, ignore_errors=True)  # idempotent re-run
        os.replace(tmp, final)

    def write_rows(self, table: str, r: int, rows: list, schema: str) -> None:
        """Driver-side write for DRIVER-SIZED tables (the round_log is
        n_buckets+1 rows by construction at any scale): builds the
        parquet file with pyarrow directly, skipping a Spark
        job + task launch + commit protocol (~0.15 s per round of pure
        fixed latency), under the same staging-then-rename visibility
        contract as :meth:`write`. Read back via :meth:`read` /
        :meth:`read_all_rounds` with the explicit schema; the table is
        built by :func:`~nipper_spark.session.arrow_table`, the same
        DDL→Arrow mapping :func:`~nipper_spark.session.local_df` uses."""
        import pyarrow.parquet as pq
        tbl = arrow_table(rows, schema)
        final = self._round_dir(table, r)
        tmp = final + ".staging"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)

    def read(self, table: str, r: int, schema: str) -> DataFrame:
        path = self._round_dir(table, r)
        if not os.path.isdir(path):
            return local_df(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(path)

    def read_all_rounds(self, table: str, upto: int, schema: str) -> DataFrame:
        """Union of round deltas ≤ upto (e.g. the full seen set)."""
        paths = [self._round_dir(table, r) for r in range(upto + 1)]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return local_df(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def compact(self, table: str, upto: int, schema: str) -> None:
        """Fold round deltas ≤ upto into the round=upto partition and
        drop the older ones. Union-of-deltas semantics are preserved
        (read_all_rounds returns identical rows), so resume stays exact;
        without this, a 10^10-URL crawl's seen table accretes one delta
        directory per round forever.

        Crash-safe protocol: (1) write the consolidated copy to
        ``round=K.new`` — it becomes authoritative only once Spark's
        ``_SUCCESS`` marker lands; (2) delete old deltas incl.
        ``round=K``; (3) rename ``.new`` → ``round=K``. A crash is
        healed by :meth:`recover_compaction` (runs on resume): a
        ``.new`` dir WITH ``_SUCCESS`` finishes steps 2-3; one without
        it is a half-written write — it is discarded and the deltas
        stay authoritative (promoting it would silently lose seen URLs
        and violate the exact-seen-set invariant).
        """
        merged = self.read_all_rounds(table, upto, schema)
        final = self._round_dir(table, upto)
        staging = final + ".new"
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").parquet(staging)
        self._finish_compaction(table, upto)

    def _finish_compaction(self, table: str, upto: int) -> None:
        final = self._round_dir(table, upto)
        staging = final + ".new"
        base = os.path.join(self.dir, table)
        for entry in os.listdir(base):
            if entry.startswith("round=") and not entry.endswith(".new"):
                try:
                    k = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if k <= upto:
                    shutil.rmtree(os.path.join(base, entry),
                                  ignore_errors=True)
        os.replace(staging, final)

    def recover_compaction(self, tables=TABLES) -> None:
        """Complete any compaction a crash interrupted. A ``.new`` dir
        is only authoritative once its ``_SUCCESS`` marker exists; a
        partial staging write (crash mid-``merged.write``) is deleted
        and the round deltas remain the source of truth."""
        for table in tables:
            base = os.path.join(self.dir, table)
            if not os.path.isdir(base):
                continue
            for entry in os.listdir(base):
                if entry.startswith("round=") and entry.endswith(".new"):
                    try:
                        k = int(entry.split("=", 1)[1].split(".")[0])
                    except ValueError:
                        continue
                    staging = os.path.join(base, entry)
                    if os.path.exists(os.path.join(staging, "_SUCCESS")):
                        self._finish_compaction(table, k)
                    else:
                        shutil.rmtree(staging, ignore_errors=True)

    def truncate_after(self, r: int, tables=TABLES) -> None:
        """Drop uncommitted round dirs > r (crash cleanup on resume)."""
        for table in tables:
            base = os.path.join(self.dir, table)
            if not os.path.isdir(base):
                continue
            for entry in os.listdir(base):
                if entry.startswith("round="):
                    try:
                        k = int(entry.split("=", 1)[1].split(".")[0])
                    except ValueError:
                        continue
                    if k > r:
                        shutil.rmtree(os.path.join(base, entry),
                                      ignore_errors=True)
