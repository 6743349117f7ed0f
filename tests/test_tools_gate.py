"""The driver-gate replica must reject vacuous evidence: a query whose
Spark side returns 0 rows "matches" any empty oracle by construction
(rows, schema, and value-hash all trivially agree), which is how three
round-4 oracles went green without testing anything."""

import importlib.util
import pathlib

import duckdb


def _load_check_oracles():
    path = pathlib.Path(__file__).resolve().parents[1] / "tools" \
        / "check_oracles.py"
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _FakeDF:
    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def test_empty_vs_empty_is_flagged_vacuous():
    m = _load_check_oracles()
    con = duckdb.connect()
    df = _FakeDF(["a"], [])
    problems = m.compare("q", df, "SELECT 1 AS a WHERE false", con)
    assert any("VACUOUS" in p for p in problems)


def test_nonempty_match_still_passes():
    m = _load_check_oracles()
    con = duckdb.connect()
    df = _FakeDF(["a"], [(1,), (2,)])
    assert m.compare("q", df, "SELECT * FROM (VALUES (1), (2)) t(a)",
                     con) == []


def test_real_mismatch_still_reported():
    m = _load_check_oracles()
    con = duckdb.connect()
    df = _FakeDF(["a"], [(1,)])
    problems = m.compare("q", df, "SELECT 3 AS a", con)
    assert any("values" in p for p in problems)


_FAKE_ENTRY = '''
def _o_present():
    return "SELECT * FROM (VALUES (1), (2)) t(a)"

def _o_fixture():
    with open(MISSING) as f:
        return f.read()

def oracle_sql():
    return {"present": _o_present(), "fixture": _o_fixture()}

def queries():
    return {"present": lambda spark, sf: DF([(1,), (2,)]),
            "fixture": lambda spark, sf: DF([(1,)])}
'''


def test_missing_oracle_fixture_fails_its_query(tmp_path, capsys):
    """A builder that cannot open its fixture must not stop the gate
    (``oracle_sql()`` builds every oracle at once), and its query must
    fail, not fall back to the rows-only check."""
    import types

    m = _load_check_oracles()
    missing = str(tmp_path / "absent" / "page.html")
    entry = types.ModuleType("fake_entry")
    entry.MISSING = missing
    entry.DF = lambda rows: _FakeDF(["a"], rows)
    exec(_FAKE_ENTRY, entry.__dict__)
    failed = m.run(entry, spark=None, con=duckdb.connect())
    out = capsys.readouterr().out
    assert failed == ["fixture"]
    assert f"oracle fixture missing: {missing}" in out
    assert "rows-only" not in out
    assert "✓ present" in out
