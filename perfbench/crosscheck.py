#!/usr/bin/env python3
"""Cross-check the benchmark's query outputs against DuckDB, once.

    python3 perfbench/crosscheck.py

Run from the root of a checkout. Dumps the results of every query in
perfbench/fingerprints.json on the sf0.1 fixture with graft.Verify, then
compares each one that has an oracle (SparkEntry.oracleSql) against DuckDB
running that SQL on the same parquet files, with tools/oracle_check.py.
perfbench/fingerprints.json is recorded by run.py from the same engine on
the same fixture, so a clean cross-check vouches for the committed
fingerprints. Exits 1 on any mismatch.
"""

import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import run  # noqa: E402


def main():
    classpath = run.build()
    corpus = run.fixture()
    work = os.path.join(run.STATE, "work", "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "verify")
    with open(os.path.join(run.HERE, "fingerprints.json")) as f:
        queries = sorted(json.load(f))
    cmd, env = run.java(classpath, work, ["graft.Verify", corpus, out, ",".join(queries)])
    subprocess.run(cmd, cwd=work, env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    checker = os.path.join(run.ROOT, "tools", "oracle_check.py")
    return subprocess.run([sys.executable, checker, corpus, out]).returncode


if __name__ == "__main__":
    sys.exit(main())
