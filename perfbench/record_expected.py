"""Record expected_hashes.json from a graft.Verify dump of the benchmark
corpus. Use a dump whose outputs pass tools/check.py:

    python3 perfbench/record_expected.py <verify out dir>
"""
import glob
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402
import workloads  # noqa: E402

out_dir = sys.argv[1]
con = duckdb.connect()
expected = {}
for name in sorted(workloads.SHORT_QUERIES + workloads.LLM_READ):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        sys.exit(f"no output for {name} in {out_dir}")
    expected[name] = list(stats.parquet_hash(con, files))
with open(os.path.join(HERE, "expected_hashes.json"), "w") as f:
    json.dump(expected, f, indent=1, sort_keys=True)
    f.write("\n")
