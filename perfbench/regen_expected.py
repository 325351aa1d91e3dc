"""Regenerate perfbench/expected.json: the result hash of every
gold_queries and curation_batch op, per input size, computed with DuckDB
from the engine's ``oracle_sql()`` and hashed the way
tools/check_oracle.py hashes (``table_hash``).

    python3 perfbench/regen_expected.py

Run it after a change to the generated inputs (datagen.py, SIZES) or to
a query's oracle SQL.  Spark is not involved.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    oracle = entry.oracle_sql()
    out = {}
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    for workload, names in (("gold_queries", workloads.GOLD_QUERIES),
                            ("curation_batch", workloads.CURATION_QUERIES)):
        for size in ("full", "tiny"):
            tmp = tempfile.mkdtemp(dir=base)
            try:
                rows = workloads.dataset(workload, size, tmp)
                con = duckdb.connect()
                for t in rows:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")
                hashes = {}
                for name in names:
                    cur = con.execute(oracle[name])
                    cols = [d[0] for d in cur.description]
                    hashes[name] = workloads.rows_hash(cols, cur.fetchall())
                out[f"{workload}@{size}"] = hashes
                print(workload, size, "done", file=sys.stderr)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
