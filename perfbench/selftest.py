#!/usr/bin/env python3
"""Self-tests of the benchmark's checkers and failure accounting.

    python3 perfbench/selftest.py

Run from the root of a checkout (builds like run.py). Checks that:
  - a query that throws is counted as failed and left out of the timings;
  - each report of the small archive batch (every reader dialect, Event cores
    with Occurrence extensions) passes the report checker, and the same
    report with one count perturbed is rejected;
  - two registry outputs pass the DuckDB comparison, and the same output
    with one cell perturbed is rejected.
Exits 1 when any of these does not hold.
"""
import copy
import json
import shutil
import subprocess
import sys
import time

import duckdb

import run
import checks
import gen_tables

FAILURES = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def perturbations(report: dict):
    """(description, report with one count changed by one)."""
    def bump(path, label):
        r = copy.deepcopy(report)
        node = r
        for k in path[:-1]:
            node = node[k]
        node[path[-1]] += 1
        return label, r
    col = next(iter(report["core"]["column_counts"]))
    yield bump(["core", "record_count"], "record_count")
    yield bump(["core", "column_counts", col], f"column_counts.{col}")
    yield bump(["core", "vocab_reports", 0, "recognised_count"], "recognised_count")
    yield bump(["core", "coordinates_report", "invalid_decimal_latitude_count"], "invalid latitudes")
    hist = report["breakdowns"]["year"]
    if hist:
        yield bump(["breakdowns", "year", next(iter(hist))], "a year histogram bucket")


def main() -> None:
    work = run.WORK / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    tables, out = work / "tables", work / "out"
    cp = run.build(time.time() + 880)
    gen_tables.write(tables, 3, 0.001)
    cmd = [run.java()] + [x for p in run.JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.SelfTest",
        "--work", str(work), "--out", str(out), "--data", str(tables)]
    (work / "tmp").mkdir(parents=True)
    with open(work / "jvm.log", "w") as log:
        rc = subprocess.run(cmd, cwd=run.ROOT, env=run.jvm_env(), stdout=log, stderr=subprocess.STDOUT,
                            timeout=600).returncode
    if rc != 0:
        sys.exit(f"SelfTest JVM failed (rc={rc}); see {work / 'jvm.log'}")
    st = json.loads((out / "selftest.json").read_text())
    for f in st["failures"]:
        expect(False, f)
    expect(not st["failures"], "a throwing query counts as failed and is never timed")

    for name in st["archives"]:
        report = json.loads((out / f"{name}.report.json").read_text())
        expected = json.loads((out / f"{name}.expected.json").read_text())
        problems = checks.check_report(report, expected)
        expect(not problems, f"{name}: the program's report passes the checker {problems[:3]}")
        for label, bad in perturbations(report):
            expect(bool(checks.check_report(bad, expected)), f"{name}: {label} + 1 is rejected")

    outputs = out / "outputs"
    oracles = json.loads((outputs / "oracle_sql.json").read_text())
    verdicts = checks.check_registry(tables, outputs, st["queries"], oracles)
    for q in st["queries"]:
        expect(q in oracles and "error" not in verdicts[q],
               f"{q}: Spark output matches DuckDB ({verdicts[q].get('error', 'match')})")
        bad_dir = work / "perturbed" / q
        bad_dir.mkdir(parents=True)
        df = duckdb.sql(f"SELECT * FROM read_parquet('{outputs / q}/*.parquet')").df()
        col = next(c for c in df.columns if df[c].dtype.kind in "if")
        df.loc[0, col] = df.loc[0, col] + 1
        duckdb.sql(f"COPY (SELECT * FROM df) TO '{bad_dir / 'part-0.parquet'}' (FORMAT PARQUET)")
        v = checks.check_registry(tables, work / "perturbed", [q], oracles)[q]
        expect(f"values of {col} differ" in v.get("error", ""),
               f"{q}: one perturbed cell ({col}) is rejected ({v.get('error')})")

    print(f"{len(FAILURES)} failures")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
