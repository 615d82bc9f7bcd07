#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: the row count and output digest
(perfbench.Harness.digest) of every benchmark query, per vendored scale.

    python3 perfbench/make_expected.py

The engine runs once per workload on the tables as vendored. For a query
with a DuckDB oracle, its parquet output must equal the oracle's result
over the same tables, compared by tools/check_oracle.py (canonical rows
and the column-type lint), or the script stops without writing; such
entries are marked "oracle". A query without an oracle records this
commit's own output ("engine")."""
import json
import os
import shutil
import sys

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check_oracle import TABLES, compare  # noqa: E402  the oracle gate's comparison


def main():
    cp = run.build()
    out, bad = {}, []
    for scale in sorted(os.listdir(run.DATA)):
        data = os.path.join(run.DATA, scale)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out[scale] = {}
        for workload, w in sorted(run.SPEC["workloads"].items()):
            dump = os.path.join(run.WORK, "dump")
            shutil.rmtree(dump, ignore_errors=True)
            res, _ = run.launch(cp, data, w["queries"], 0, False,
                                f"expected-{scale}-{workload}", dump, False)
            oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
            for q in w["queries"]:
                entry = dict(res["digests"][q], source="engine")
                if q in oracle:
                    ok, msg = compare(q, con.sql(
                        f"SELECT * FROM read_parquet('{dump}/{q}/*.parquet')"),
                        con.sql(oracle[q]))
                    if not ok:
                        bad.append(f"{scale} {q}: differs from its oracle: {msg}")
                    entry["source"] = "oracle"
                out[scale][q] = entry
                print(scale, q, entry, flush=True)
            shutil.rmtree(dump, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        sys.exit(1)
    with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
