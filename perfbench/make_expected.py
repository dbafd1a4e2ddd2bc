#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``: the fingerprint of each
benchmarked query's result, computed once from the query's DuckDB oracle
twin over the committed tables in ``perfbench/data/sf0.01``.

    python3 perfbench/make_expected.py

It then runs each query on Spark and reports, and exits non-zero for,
any query whose Spark fingerprint does not match its oracle's. The
benchmark never runs DuckDB itself.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from etl_gcp_function_tmabrasil_spark.catalog import TABLES, table_path  # noqa: E402
from etl_gcp_function_tmabrasil_spark.queries import all_oracle_sql  # noqa: E402
from perfbench.run import DATA, MIX  # noqa: E402
from perfbench.verify import fingerprint, mismatches  # noqa: E402


def main() -> int:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(DATA, t)}'")
    oracle = all_oracle_sql()
    names = MIX
    expected = {n: fingerprint(con.execute(oracle[n]).fetchdf()) for n in names}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    from etl_gcp_function_tmabrasil_spark.queries import all_queries
    from etl_gcp_function_tmabrasil_spark.session import get_spark

    os.environ.setdefault("PYTHONPATH", os.path.dirname(HERE))
    spark = get_spark(app_name="perfbench-expected", master="local[4]")
    queries = all_queries()
    bad = 0
    for n in names:
        problems = mismatches(fingerprint(queries[n](spark, DATA).toPandas()), expected[n])
        print(f"{n}: {'ok' if not problems else '; '.join(problems)}")
        bad += bool(problems)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
