#!/usr/bin/env python3
"""Confirm the recorded sf0.1 digests against the DuckDB oracle.

    python3 perfbench/confirm.py

1. runs graft.Verify at sf0.1, which writes every query's result as parquet
   together with the oracle SQL;
2. runs tools/check.py, which compares each result with DuckDB running the
   oracle SQL over the same tables;
3. digests each written result with the harness and compares it with
   perfbench/expected/sf0.1.tsv.

A recorded digest is confirmed when its query passes the oracle check (or
has no oracle) and the digest of the written result equals it. Uses the
same build and private directories as run.py; prints one JSON line.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp = run.build()
    work = os.path.join(run.OUT, "confirm")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "verify_out")
    jvm = run.jvm_cmd(cp, work, "4g")
    env = run.child_env(work)
    rc = run.run_child(jvm + ["graft.Verify", run.DATA, out], cwd=run.ROOT,
                       stdout=sys.stderr, timeout=3600, env=env)
    if rc != 0:
        run.fail(f"graft.Verify failed (rc={rc})")

    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), run.DATA, out],
        capture_output=True, text=True, timeout=3600)
    sys.stderr.write(check.stdout[-2000:] + check.stderr[-2000:])
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracled = set(json.load(f))

    report = os.path.join(work, "digests.json")
    rc = run.run_child(jvm + ["graftbench.Main", "--sf-dir", run.DATA,
                              "--confirm", out, "--expected", run.EXPECTED,
                              "--out", report],
                       cwd=run.ROOT, stdout=sys.stderr, timeout=1800, env=env)
    if rc != 0:
        run.fail(f"digest confirmation failed (rc={rc})")
    with open(report) as f:
        dig = json.load(f)
    expected = run_expected()
    mismatched = set(dig["mismatched"])
    result = {
        "recorded": len(expected),
        "oracled": len(oracled & expected),
        "oracle_pass": len(passed & expected),
        "digest_match": len(expected - mismatched),
        "confirmed": len([q for q in expected if q not in mismatched
                          and (q in passed or q not in oracled)]),
        "not_oracled": sorted(expected - oracled),
        "oracle_fail": sorted((oracled & expected) - passed),
        "digest_mismatch": sorted(mismatched),
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["confirmed"] == len(expected) else 1)


def run_expected():
    with open(run.EXPECTED) as f:
        return {l.split("\t")[0] for l in f if l.strip() and not l.startswith("#")}


if __name__ == "__main__":
    main()
