"""Driver-built tables enter Spark through ``session.local_df`` (Arrow →
``LocalRelation``), never ``createDataFrame`` on Python rows: that path
pickles the rows into a Python RDD, whose first action starts a second
Python worker pool and whose every scan runs Python tasks.

Pins: every engine driver-table builder analyzes to ``LocalRelation``;
``local_df`` equals ``createDataFrame(list)`` on every DDL type the
engine uses; ``write_rows``/``read`` round-trip through the same
DDL→Arrow mapping; and no module but the helper calls
``createDataFrame``.
"""

import ast
import datetime
import pathlib

import numpy as np
import pytest

from nipper_spark.crawl.frontier import FrontierEngine
from nipper_spark.crawl.politeness import (
    CrawlPolicy, budgets_df, rules_df_from_policy)
from nipper_spark.crawl.state import (
    BLOOM_SCHEMA, ROUND_LOG_SCHEMA, SCHEDULE_SCHEMA, SEEN_SCHEMA,
    CrawlState)
from nipper_spark.sources.synthetic import PAGES_SCHEMA, synth_pages_rows

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "nipper_spark"

POLICY = CrawlPolicy(default_tokens=4, host_tokens={"host00.test": 2},
                     robots_disallow={"host03.test": ["/page/3"]},
                     n_buckets=4)


@pytest.fixture(scope="module")
def spark():
    from nipper_spark.session import build_session
    return build_session("local-df-tests", master="local[4]",
                         shuffle_partitions=4)


def analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


class _Recorder:
    """Wraps ``CrawlState.write`` to keep every DataFrame it is given,
    and the RDD lineage of each checkpointed one as it was before the
    write materialized the checkpoint and cut the lineage."""

    def __init__(self, state):
        self.written, self.lineage = {}, {}
        self._write = state.write
        state.write = self

    def __call__(self, table, r, df):
        self.written[table] = df
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            self.lineage[table] = plan.rdd().toDebugString()
        self._write(table, r, df)


class TestBuildersAreLocalRelations:
    def test_policy_dimensions(self, spark):
        assert analyzed(budgets_df(spark, POLICY)) == "LocalRelation"
        assert analyzed(budgets_df(spark, CrawlPolicy())) == "LocalRelation"
        assert analyzed(rules_df_from_policy(spark, POLICY)) == \
            "LocalRelation"
        assert analyzed(rules_df_from_policy(spark, CrawlPolicy())) == \
            "LocalRelation"

    def test_state_reads_of_missing_tables(self, spark, tmp_path):
        st = CrawlState(spark, str(tmp_path / "state"))
        assert analyzed(st.read("seen", 3, SEEN_SCHEMA)) == "LocalRelation"
        assert analyzed(st.read_all_rounds("bloom", 3, BLOOM_SCHEMA)) == \
            "LocalRelation"

    def test_urlfilter_blocklist(self, spark):
        from nipper_spark.crawl.urlfilter import url_frontier_filter
        cands = spark.range(1).selectExpr("'http://a.test/x' AS url")
        out = url_frontier_filter(cands, blocked_domains=["b.test"])
        leaves = [p.getClass().getSimpleName() for p in _leaves(out)]
        assert leaves.count("LocalRelation") == 1, leaves
        assert "LogicalRDD" not in leaves, leaves

    def test_bootstrap_and_idle_round(self, spark, tmp_path):
        rows = synth_pages_rows(n_pages=12, links_per_page=2, n_hosts=4)
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        eng = FrontierEngine(spark, pages, str(tmp_path / "state"), POLICY)
        rec = _Recorder(eng.state)
        eng.bootstrap([(rows[0][0], 1.0), (rows[1][0], 0.5)])
        assert analyzed(rec.written["seen"]) == "LocalRelation"
        assert analyzed(rec.written["bloom"]) == "LocalRelation"
        # the frontier is checkpointed; its source rows must not have
        # come through a Python RDD either
        assert "PythonRDD" not in rec.lineage["frontier"], rec.lineage
        # a caller-supplied wave bound of 0 commits an idle round
        eng.run_round(0, wave_bound=0)
        assert analyzed(rec.written["schedule"]) == "LocalRelation"
        assert analyzed(rec.written["seen"]) == "LocalRelation"

    def test_bootstrap_from_df_empty_bloom(self, spark, tmp_path):
        rows = synth_pages_rows(n_pages=12, links_per_page=2, n_hosts=4)
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        eng = FrontierEngine(spark, pages, str(tmp_path / "state"), POLICY)
        rec = _Recorder(eng.state)
        seeds = spark.range(1).selectExpr(
            f"'{rows[0][0]}' AS url", "0 AS depth", "1.0D AS score")
        eng.bootstrap_from_df(seeds)
        leaves = [p.getClass().getSimpleName()
                  for p in _leaves(rec.written["bloom"])]
        assert "LocalRelation" in leaves, leaves


def _leaves(df):
    plan = df._jdf.queryExecution().analyzed()
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        kids = p.children()
        if kids.isEmpty():
            out.append(p)
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return out


# every DDL type a driver-built table in the engine uses
PARITY_DDL = ("i int, l long, d double, s string, b boolean, "
              "bin binary, v array<float>, ts timestamp")
PARITY_ROWS = [
    (1, 2 ** 40, 1.5, "x", True, bytearray(b"\x00ab"), [1.5, 0.1],
     datetime.datetime(2024, 1, 1, 3, 0)),
    (None, None, None, None, None, None, None, None),
    (-3, -4, -0.0, "", False, b"", [None, -2.0],
     datetime.datetime(2024, 7, 1)),
]


class TestParity:
    @pytest.mark.parametrize("rows", [PARITY_ROWS, []],
                             ids=["rows", "empty"])
    def test_local_df_equals_create_dataframe(self, spark, rows):
        from nipper_spark.session import local_df
        want = spark.createDataFrame(rows, PARITY_DDL)
        got = local_df(spark, rows, PARITY_DDL)
        assert got.schema == want.schema
        assert got.collect() == want.collect()

    def test_numpy_vectors(self, spark):
        """ANN callers may hand float32 arrays; the Arrow path takes
        them as they are, with the same values as python floats."""
        from nipper_spark.session import local_df
        vec = np.array([0.1, 2.5, -1.0], dtype=np.float32)
        got = local_df(spark, [(7, vec)], "id long, v array<float>")
        want = spark.createDataFrame([(7, vec.tolist())],
                                     "id long, v array<float>")
        assert got.collect() == want.collect()


class TestWriteRowsRoundTrip:
    def test_round_log_and_bloom(self, spark, tmp_path):
        st = CrawlState(spark, str(tmp_path / "state"))
        log = [(2, b, 10 + b, b, 5, 4, 4, 1, 0.5, 3, 2) for b in range(3)]
        log.append((2, -1, None, None, None, None, None, None, None,
                    None, None))
        st.write_rows("round_log", 2, log, ROUND_LOG_SCHEMA)
        got = st.read("round_log", 2, ROUND_LOG_SCHEMA)
        assert sorted(map(tuple, got.collect()),
                      key=lambda t: t[1]) == sorted(log, key=lambda t: t[1])
        blooms = [(0, b"\x01\x02", 2), (1, b"", 0)]
        st.write_rows("bloom", 1, blooms, BLOOM_SCHEMA)
        assert sorted((r[0], bytes(r[1]), r[2]) for r in
                      st.read("bloom", 1, BLOOM_SCHEMA).collect()) == blooms

    def test_any_ddl_local_df_takes(self, spark, tmp_path):
        """write_rows shares local_df's DDL→Arrow mapping, so it takes
        nested types a hand-written scalar map would not."""
        from nipper_spark.session import local_df
        ddl = "vec_id long, v array<float>, tag string"
        rows = [(1, [0.5, 0.1], "a"), (2, None, None), (3, [], "")]
        st = CrawlState(spark, str(tmp_path / "state"))
        st.write_rows("vectors", 0, rows, ddl)
        got = st.read("vectors", 0, ddl).orderBy("vec_id").collect()
        assert got == local_df(spark, rows, ddl).collect()

    def test_empty_rows(self, spark, tmp_path):
        st = CrawlState(spark, str(tmp_path / "state"))
        st.write_rows("schedule", 0, [], SCHEDULE_SCHEMA)
        df = st.read("schedule", 0, SCHEDULE_SCHEMA)
        assert df.collect() == []
        assert df.schema == spark.createDataFrame([], SCHEDULE_SCHEMA).schema


def test_create_dataframe_only_in_the_helper():
    """A new ``createDataFrame`` call site would bring the second
    Python worker pool back; driver tables go through local_df."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and \
                    isinstance(node.func, ast.Attribute) and \
                    node.func.attr == "createDataFrame":
                calls.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    helper = [c for c in calls if c.startswith("session.py:")]
    assert len(helper) == 1 and calls == helper, calls
