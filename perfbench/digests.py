"""Print the expected output digests of the benchmark's keys.

    python3 perfbench/digests.py <verify_out_dir> > perfbench/expected_digests.json

<verify_out_dir> holds one parquet directory per key, written by
graft.Verify over the benchmark's generated tables (.bench_build/data-*)
and checked against the DuckDB oracle with tools/check_oracle.py first:
a digest is only as good as the output it was taken from.
"""
import json
import os
import sys

import duckdb

from run import WORKLOADS, canonical_digest

con = duckdb.connect()
keys = sorted(k for w in WORKLOADS.values() for k in w["keys"])
print(json.dumps({k: canonical_digest(con, os.path.join(sys.argv[1], k))[0]
                  for k in keys}, indent=1))
