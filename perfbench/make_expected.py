#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: the checksum of every timed
query's DuckDB oracle answer (graft.SparkEntry.oracleSql) over the
tables in perfbench/data. Run from the root of a checkout:

    python3 perfbench/make_expected.py
"""

import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


def main():
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        dump = os.path.join(tmp, "oracle.json")
        rc = run.run_jvm(classpath, ["--dump-oracle", dump], tmp, os.path.join(tmp, "log"))
        if rc != 0:
            run.fail("oracle dump failed")
        oracle = json.load(open(dump))
    if oracle["no_oracle"]:
        run.fail("queries without an oracle: %s" % oracle["no_oracle"])
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (
            f.split(".")[0], os.path.join(run.DATA, f)))
    out = {}
    for name in oracle["queries"]:
        cur = con.execute(oracle["oracle"][name])
        out[name] = stats.checksum([d[0] for d in cur.description], cur.fetchall())
        print(name, out[name], flush=True)
    with open(run.EXPECTED, "w") as f:
        json.dump({"source": "DuckDB %s over perfbench/data" % duckdb.__version__,
                   "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
