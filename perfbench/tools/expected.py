#!/usr/bin/env python3
"""Regenerates perfbench/expected/batch_queries.json, the expected row count
and content hash of every batch_queries entry over the generated tables.

Every entry has a DuckDB oracle (graft.SparkEntry.oracleSql); its expected
values come from DuckDB over the same parquet files, never from this
engine. Run from the repository root, after changing the entry list, the
table generator or the hash:

    python3 perfbench/tools/expected.py
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import run  # noqa: E402
from pb import canon, gen_tables  # noqa: E402

# one entry per family: the tail (iterative graph, minhash and char-gram
# kernels, ANN, a stream drained from scratch) next to cheap scans; the index
# lifecycle entries (t18, t38, t39, d18, d20) belong to the incremental
# workload and export_writeall reads files outside the repository
ENTRIES = [
    "a1_counts", "d3_minhash_lsh", "e1_ann_topk", "f4_parse_name", "g6_bfs_distances",
    "j1_left_join", "m1_multimodal_features", "o_topk_orders", "p4_range_pred",
    "s2_scan_nation", "sql3_group_by_all", "t1_watermark_incremental", "u1_anti_join",
    "w4_ranking_windows", "x23_novelty",
]


def main():
    classpath, options = run.build()
    work = os.path.join(run.STATE, "expected")
    shutil.rmtree(work, ignore_errors=True)
    tables = os.path.join(work, "tables")
    gen_tables.write(tables, run.BATCH_SF, run.BATCH_DATA_SEED)

    listing = os.path.join(work, "entries.txt")
    with open(listing, "w") as f:
        f.write("\n".join(ENTRIES) + "\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    oracles = json.loads(subprocess.check_output(
        [java] + options + ["-cp", classpath, "perfbench.Main", "--oracles", listing],
        text=True, stderr=subprocess.DEVNULL).strip().splitlines()[-1])
    missing = [n for n in ENTRIES if n not in oracles]
    if missing:
        run.die("entries without a DuckDB oracle: " + ", ".join(missing))

    con = duckdb.connect()
    for t in gen_tables.ALL:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(tables, t + ".parquet")))
    expected = {}
    for name in ENTRIES:
        cur = con.execute(oracles[name])
        rows, h = canon.table_hash([d[0] for d in cur.description], cur.fetchall())
        expected[name] = {"rows": rows, "hash": h}
    with open(os.path.join(BENCH, "expected", "batch_queries.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print("%d entries" % len(expected))


if __name__ == "__main__":
    main()
