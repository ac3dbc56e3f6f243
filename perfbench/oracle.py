"""DuckDB oracle compare for the query_suite workload.

Each checked query's Spark result (parquet under results/<name>) must
equal its oracle SQL run by DuckDB over the same fixture files, by the
row count, column names and value hash of tools/check_oracle.py.
"""
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(results_dir: Path):
    """Returns one message per query that does not match its oracle.
    results_dir holds the results, oracle_sql.json and, in `fixture`,
    the path of the fixture tables."""
    fixture_dir = Path((results_dir / "fixture").read_text())
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import canon, h

    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    for p in sorted(fixture_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.loads((results_dir / "oracle_sql.json").read_text())
    problems = []
    for name, sql in sorted(oracles.items()):
        try:
            got = canon(pd.read_parquet(results_dir / name))
            exp = canon(con.execute(sql).df())
        except Exception as e:  # a missing result or an oracle error is a mismatch
            problems.append(f"{name}: oracle compare failed: {e}")
            continue
        if list(got.columns) != list(exp.columns):
            problems.append(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{name}: rows {len(got)} != {len(exp)}")
        elif h(got) != h(exp):
            problems.append(f"{name}: value hash differs")
    con.close()
    return problems
