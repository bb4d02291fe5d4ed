#!/usr/bin/env python3
"""Store the pipeline corpora's oracle digests in perfbench/oracle_digests.json.

The DuckDB oracles of the pipeline outputs take minutes per corpus, longer
than one benchmark run may last, so their digests are kept in the
repository. After a change to a pipeline query's oracle SQL, to the corpus
generator or to the corpus settings in run.py, run the pipeline workload
once per corpus (seeds 0, 1 and 2; each such run computes the oracle and
caches its digest under .bench_build/oracle/), then run this script.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

digests = {}
data = os.path.join(run.WORK, "data")
for name in sorted(os.listdir(data)):
    if name.startswith("corpus-") and ".tmp" not in name:
        d = os.path.join(data, name)
        con = duckdb.connect()
        for t in os.listdir(d):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(d, t)}')")
        key = run.content_key(con, d)
        cache = os.path.join(run.WORK, "oracle", key)
        if os.path.isdir(cache):
            digests[key] = {f: open(os.path.join(cache, f)).read()
                            for f in sorted(os.listdir(cache)) if not f.endswith(".tmp")}
with open(os.path.join(HERE, "oracle_digests.json"), "w") as f:
    json.dump(digests, f, indent=1, sort_keys=True)
    f.write("\n")
print(f"stored digests for {len(digests)} corpora")
