"""DuckDB oracle for analyst_sql: every query's rows (written once by the
warm-up pass) must equal its `SparkEntry.oracleSql` run by DuckDB over the
same generated tables. Cells compare exactly after sorting columns by
name and rows by value; floats compare by repr, as graft's oracle does."""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        cells = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            cells.append(str(v))
        out.append(tuple(cells))
    return sorted(cols), sorted(out)


def check(data_dir, results_dir, oracle_json):
    """Returns one line per query whose rows differ from the oracle's."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(oracle_json) as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            mine = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}.parquet/*.parquet')")
            got = _canon(mine.fetchall(), [c[0] for c in mine.description])
            ref = con.execute(sql)
            want = _canon(ref.fetchall(), [c[0] for c in ref.description])
        except Exception as e:  # a query that cannot be checked fails
            bad.append(f"oracle {name}: {type(e).__name__}: {e}")
            continue
        if got != want:
            bad.append(f"oracle {name}: {len(got[1])} rows vs {len(want[1])} expected"
                       + ("" if got[0] == want[0] else f"; columns {got[0]} vs {want[0]}"))
    return bad
