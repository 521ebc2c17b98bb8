"""Local replica of the driver's correctness gate: run every queries() entry
at sf0.01 next to its oracle_sql() in DuckDB and compare row count, column
names, and order-insensitive values.

usage: python scripts/check_entry.py [SF_DIR] [-k SUBSTR]

``-k SUBSTR`` runs only the entries whose name contains SUBSTR (e.g.
``-k embedding`` for the ANN and embedding near-dup rows)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from hyperloglog_spark.engine.session import get_spark  # noqa: E402

SUBSTR = ""
if "-k" in sys.argv:
    _i = sys.argv.index("-k")
    SUBSTR = sys.argv[_i + 1]
    del sys.argv[_i:_i + 2]
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = dict(zip(cols, r)) if not hasattr(r, "asDict") else r.asDict()
        items = []
        for c in sorted(cols):
            v = vals[c]
            if isinstance(v, float):
                v = round(v, 6)
            items.append((c, v))
        out.append(tuple(items))
    return sorted(out, key=repr)


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    # no console progress bar: its carriage returns overwrite the OK/FAIL rows
    spark = get_spark(app_name="check_entry",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    e = entrymod.entry(spark)
    print(f"entry(): {e.count()} rows, schema {e.schema.simpleString()}")

    failures = 0
    oracles = entrymod.oracle_sql()
    for name, fn in entrymod.queries().items():
        if SUBSTR not in name:
            continue
        df = fn(spark, SF_DIR)
        spark_rows = df.collect()
        cols = df.columns
        if name not in oracles:
            print(f"  {name}: rows-only, {len(spark_rows)} rows  "
                  f"sample={spark_rows[0] if spark_rows else None}")
            continue
        duck = con.sql(oracles[name])
        duck_rows = duck.fetchall()
        duck_cols = [d[0] for d in duck.description]
        ok_cols = sorted(cols) == sorted(duck_cols)
        a, b = normalize(spark_rows, cols), normalize(duck_rows, duck_cols)
        ok_vals = a == b
        status = "OK " if (ok_cols and ok_vals) else "FAIL"
        print(f"  {name}: {status} ({len(spark_rows)} rows)")
        if not ok_cols:
            failures += 1
            print(f"    cols spark={sorted(cols)} duck={sorted(duck_cols)}")
        elif not ok_vals:
            failures += 1
            for x, y in list(zip(a, b))[:5]:
                if x != y:
                    print(f"    spark={x}\n    duck ={y}")
            if len(a) != len(b):
                print(f"    row counts {len(a)} vs {len(b)}")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
