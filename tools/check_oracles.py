"""Local replica of the driver's correctness gate: run each
__spark_entry__ query at sf0.01 AND its DuckDB oracle, compare
row-count + column names + order-insensitive values.

Usage: python tools/check_oracles.py [query ...]
"""

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_val(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def compare(name, spark_df, sql, con):
    srows = [tuple(norm_val(v) for v in r) for r in spark_df.collect()]
    scols = spark_df.columns
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = [tuple(norm_val(v) for v in r) for r in res.fetchall()]
    problems = []
    # vacuity gate (round-4 lesson: three oracles silently compared
    # empty vs empty — a hash match on zero rows proves nothing)
    if not srows:
        problems.append("VACUOUS: spark returned 0 rows — an "
                        "empty-vs-empty match is no evidence; make the "
                        "fixture produce rows")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={scols} oracle={ocols}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        # align columns by name
        sidx = [scols.index(c) for c in sorted(scols)]
        oidx = [ocols.index(c) for c in sorted(ocols)]
        sset = sorted(tuple(r[i] for i in sidx) for r in srows)
        oset = sorted(tuple(r[i] for i in oidx) for r in orows)
        if sset != oset:
            diff_s = [r for r in sset if r not in oset][:3]
            diff_o = [r for r in oset if r not in sset][:3]
            problems.append(f"values spark-only={diff_s} oracle-only={diff_o}")
    return problems


class MissingFixture:
    """Stands in for the SQL of an oracle whose builder could not open
    a fixture file: the query fails, it is never demoted to the weaker
    rows-only check."""

    def __init__(self, path):
        self.path = path


def _mark_missing_fixture(builder):
    def build(*args, **kwargs):
        try:
            return builder(*args, **kwargs)
        except FileNotFoundError as e:
            return MissingFixture(e.filename or str(e))
    return build


def guard_fixture_builders(entrymod):
    """Wrap every ``_o_*`` oracle builder of the entry module, so a
    missing fixture fails its own query instead of ``oracle_sql()``."""
    for name, fn in list(vars(entrymod).items()):
        if name.startswith("_o_") and callable(fn):
            setattr(entrymod, name, _mark_missing_fixture(fn))


def run(entrymod, spark, con, only=()):
    """Check every query of the entry module (or those in ``only``);
    print one line per query and return the names that failed."""
    guard_fixture_builders(entrymod)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if isinstance(oracles.get(name), MissingFixture):
            failed.append(name)
            print(f"✗ {name:26s} oracle fixture missing: "
                  f"{oracles[name].path}")
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF)
            if name not in oracles:
                n = df.count()
                if n == 0:
                    failed.append(name)
                    print(f"✗ {name:26s} VACUOUS rows-only n=0  "
                          f"({time.time()-t0:.1f}s)")
                else:
                    print(f"  {name:26s} rows-only n={n}  "
                          f"({time.time()-t0:.1f}s)")
                continue
            problems = compare(name, df, oracles[name], con)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if problems:
            failed.append(name)
            print(f"✗ {name:26s} ({dt:.1f}s)")
            for p in problems:
                print(f"    {str(p)[:500]}")
        else:
            print(f"✓ {name:26s} ({dt:.1f}s)")
    return failed


def main():
    import __spark_entry__ as entrymod
    from nipper_spark.session import build_session
    spark = build_session("oracle-check", master="local[8]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    failed = run(entrymod, spark, con, set(sys.argv[1:]))
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
