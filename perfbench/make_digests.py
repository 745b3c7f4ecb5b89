"""Produce the expected result digests and check them against DuckDB.

Runs every workload query once on Spark, digests the result, and runs the
query's DuckDB ``oracle`` over the same parquet files, compared the way
``tools/check_correctness.py`` compares them (its type lint, row count,
column set and value hash).  With the shipped data it writes
``expected_digests.json``; with ``--sf-dir`` it only checks, so the same
queries can be held against the oracles at another scale.

Run from the repository root:

    python3 perfbench/make_digests.py                      # write digests
    python3 perfbench/make_digests.py --sf-dir DIR         # check only

Exits non-zero if any query fails or disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=None,
                    help="check against this data directory; write nothing")
    args = ap.parse_args()
    sf_dir = os.path.abspath(args.sf_dir or DATA_DIR)

    root = os.getcwd()
    sys.path.insert(0, root)
    import duckdb
    from nosql_join_stream_spark.catalog import TABLES
    from nosql_join_stream_spark.queries import REGISTRY
    from nosql_join_stream_spark.session import get_session
    from tools.check_correctness import type_lint, value_hash

    spark = get_session("perfbench-digests", cpus=4)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    out, bad = {}, []
    for workload, names in WORKLOADS.items():
        for q in names:
            df = REGISTRY[q].fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            got = {"rows": len(rows), "hash": digest.value_hash(cols, rows)}
            if got["hash"] != value_hash(cols, rows):
                bad.append(f"{q}: digest.py and check_correctness disagree")
            oracle = REGISTRY[q].oracle
            if oracle is None:
                got["oracle"] = "none"
            else:
                problems = type_lint(dict(df.dtypes),
                                     con.execute(f"DESCRIBE {oracle}").fetchall())
                res = con.execute(oracle)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if len(drows) != len(rows):
                    problems.append(f"rows spark={len(rows)} duck={len(drows)}")
                if sorted(dcols) != sorted(cols):
                    problems.append(f"cols spark={sorted(cols)} duck={sorted(dcols)}")
                elif value_hash(dcols, drows) != got["hash"]:
                    problems.append("value hash differs from the oracle")
                got["oracle"] = "match" if not problems else "; ".join(problems)
                if problems:
                    bad.append(f"{q}: {got['oracle']}")
            print(f"{workload:9s} {q:28s} rows={got['rows']:6d} "
                  f"oracle={got['oracle']}", flush=True)
            out[q] = got
    spark.stop()

    if args.sf_dir is None and not bad:
        with open(digest.EXPECTED_PATH, "w") as fh:
            json.dump({"data": os.path.relpath(sf_dir, root),
                       "queries": out}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    for b in bad:
        print("FAIL", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
