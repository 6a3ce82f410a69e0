"""Recompute perfbench/digests.json from the DuckDB oracles.

Runs every job's ``oracle_sql()`` text in DuckDB over the sf0.1 parquet files
and stores a digest of the normalized result (see ``workloads.digest``).  Run it
from the repository root after an oracle or the data changes:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from workloads import ALL_JOBS, SF, TABLES, digest, sf_dir  # noqa: E402


def main() -> int:
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    data = sf_dir()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    t0 = time.perf_counter()
    for name in ALL_JOBS:
        t = time.perf_counter()
        out[name] = digest(con.sql(oracles[name]).df())
        print(f"{name}: {out[name]['rows']} rows, {time.perf_counter() - t:.2f} s", file=sys.stderr)
    print(f"{len(out)} oracles in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(os.path.join(HERE, "digests.json"), "w", encoding="utf-8") as f:
        json.dump({"sf": SF, "jobs": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
