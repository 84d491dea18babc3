#!/usr/bin/env python3
"""Benchmark of the validator (archive -> report JSON) and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program and the
harness with the Scala compiler among the program's jars; later runs reuse
the build while the sources are unchanged. One JVM runs one workload at
local[nproc]: one caller, one operation at a time, whole rounds until S
seconds have gone. This script then checks every output against values
computed apart from the program, prints each metric with its unit, and ends
with one JSON result line of at most 2,000 characters. Per-query and per-layer detail goes to
perfbench/.work/out/<workload>-<seed>-trace<T>/detail.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
HARNESS = HERE / "harness"
sys.path.insert(0, str(HERE))

import checks  # noqa: E402

WORKLOADS = ["occurrence_zip", "registry_cross_section"]
REGISTRY_SF = 0.01
END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("rows_per_s", "1/s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("dwca.open_s", "s"), ("dwca.read_s", "s"), ("dwca.construct_jobs", "count"),
    ("dwca.records_read", "count"), ("dwca.scans_per_table", "ratio"),
    ("dwca.extract_bytes_left", "bytes"),
    ("validate.checks_s", "s"), ("validate.breakdowns_s", "s"), ("validate.jobs", "count"),
    ("validate.stages", "count"), ("validate.tasks", "count"),
    ("json.serialize_s", "s"), ("json.bytes", "bytes"),
    ("spark.analysis_s", "s"), ("spark.optimization_s", "s"), ("spark.planning_s", "s"),
    ("spark.exec_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.exchanges", "count"),
    ("ops.construct_s", "s"), ("ops.construct_jobs", "count"), ("ops.sink_s", "s"),
]
# The traced path (one span per call) and one untraced validateArchive call
# must agree on the time of a report within this share (plus 50 ms).
SPAN_TOLERANCE = 0.25
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(jars: list) -> str:
    h = hashlib.sha256()
    for r in [ROOT / "src" / "main", HARNESS / "src"]:
        for f in sorted(r.rglob("*")):
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    h.update("\n".join(map(str, jars)).encode())
    return h.hexdigest()


def jar_dir() -> Path:
    """The directory of jars the program's own build.sbt compiles against
    (its `unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m is None:
        die("the program's build.sbt names no unmanagedBase jar directory")
    return ROOT / m.group(1)


def java() -> str:
    exe = shutil.which("java")
    if exe is None and os.environ.get("JAVA_HOME"):
        exe = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    if exe is None or not Path(exe).is_file():
        die("java is needed on PATH or under JAVA_HOME")
    return exe


def build(deadline: float) -> str:
    """Compiles the program's and the harness's Scala sources with the Scala
    compiler among the program's jars, when they changed; returns the
    classpath. Needs only java and that jar directory: no sbt, no dependency
    cache, nothing written outside perfbench/.work."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources under {ROOT}: run from the root of a checkout")
    jars = sorted(jar_dir().glob("*.jar"))
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-[\d.]+\.jar$", j.name)]
    if len(compiler) != 3:
        die(f"no scala-compiler, scala-library and scala-reflect jars in {jar_dir()}")
    classes = WORK / "classes"
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    stamp, stamp_file = source_stamp(jars), WORK / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return cp
    stamp_file.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    srcs = sorted(str(f) for r in [ROOT / "src" / "main" / "scala", HARNESS / "src" / "main" / "scala"]
                  for f in r.rglob("*.scala"))
    args = WORK / "scalac.args"
    args.write_text("\n".join(["-d", str(classes), "-classpath", os.pathsep.join(map(str, jars))] + srcs))
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                                "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
                                f"@{args}"], cwd=ROOT, stdin=subprocess.DEVNULL, stdout=out,
                               stderr=subprocess.STDOUT, timeout=max(60.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die(f"build ran past its time limit; see {log}")
    if r.returncode != 0:
        die(f"build failed (rc={r.returncode}); see {log}\n{log.read_text()[-1500:]}")
    for res in [ROOT / "src" / "main" / "resources", HARNESS / "src" / "main" / "resources"]:
        if res.is_dir():
            shutil.copytree(res, classes, dirs_exist_ok=True)
    stamp_file.write_text(stamp)
    return cp


def keep_only(prefix: str, keep: Path) -> None:
    """Drops cached inputs of other seeds of the same workload (bounded disk)."""
    base = WORK / "inputs"
    for d in base.glob(prefix + "-*") if base.is_dir() else []:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def registry_tables(seed: int) -> Path:
    d = WORK / "inputs" / f"registry_cross_section-{seed}"
    keep_only("registry_cross_section", d)
    if not (d / "done").is_file():
        import gen_tables
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write(d, seed, REGISTRY_SF)
        (d / "done").write_text("")
    return d


def jvm_env() -> dict:
    """Spark binds to and names the loopback, whatever the host's name resolves to."""
    return dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")


def run_jvm(cp: str, args: argparse.Namespace, out_dir: Path, deadline: float,
            data: Path | None) -> dict:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    for f in tmp.iterdir():
        if not f.name.startswith("graft_synth_archive"):
            shutil.rmtree(f, ignore_errors=True) if f.is_dir() else f.unlink()
    cmd = [java()] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", str(WORK), "--out", str(out_dir / "result.json")]
    if data is not None:
        cmd += ["--data", str(data), "--queries", str(HERE / "registry_queries.txt")]
    log = out_dir / "jvm.log"
    steal0 = cpu_steal()
    with open(log, "w") as err:
        spawn = time.time()
        p = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), stdin=subprocess.DEVNULL, stdout=err,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM ran past the run's time limit; see {log}")
    if rc != 0 or not (out_dir / "result.json").is_file():
        tail = log.read_text()[-1500:]
        die(f"JVM failed (rc={rc}); see {log}\n{tail}")
    res = json.loads((out_dir / "result.json").read_text())
    res["setup_s"] = res["ready_epoch_s"] - spawn
    res["host_cpu_steal_share"] = cpu_steal(steal0)
    return res


def cpu_steal(before=None):
    """Share of the host's CPU time stolen by other guests (from /proc/stat)."""
    try:
        ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except OSError:
        return None
    if before is None:
        return ticks
    d = [b - a for a, b in zip(before, ticks)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a build (first run in a checkout) may take up to 700 s; the run itself 170 s
    cp = build(time.time() + 700)
    deadline = time.time() + 170
    out_dir = WORK / "out" / f"{args.workload}-{args.seed}-trace{args.trace}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    data = None
    if args.workload == "registry_cross_section":
        data = registry_tables(args.seed)
    else:
        keep_only(args.workload, WORK / "inputs" / f"{args.workload}-{args.seed}")
    res = run_jvm(cp, args, out_dir, deadline, data)

    problems = []
    if res["kind"] == "archive":
        problems += checks.check_report(json.loads(Path(res["report"]).read_text()),
                                        json.loads(Path(res["expected"]).read_text()))
        if res["unstable_report"]:
            problems.append("the report JSON differs between iterations")
        rows_per_s = res["rows_per_s"]
        if args.trace:
            span, single = res["span_sum_s"], res["single_call_s"]
            res["span_vs_single"] = {"span_sum_s": span, "single_call_s": single,
                                     "tolerance": SPAN_TOLERANCE}
            if abs(span - single) > SPAN_TOLERANCE * single + 0.05:
                problems.append(f"per-call spans sum to {span:.3f} s, one validateArchive call "
                                f"takes {single:.3f} s")
    else:
        outs = Path(res["outputs"])
        oracles = json.loads((outs / "oracle_sql.json").read_text())
        verdicts = checks.check_registry(data, outs, res["queries"], oracles)
        res["oracle"] = verdicts
        problems += [f"{n}: {v['error']}" for n, v in verdicts.items() if "error" in v]
        problems += [f"{n}: check pass failed: {e}" for n, e in res["check_errors"].items()]
        # output rows of one pass over the queries that did not fail
        ok_rows = sum(v["rows"] for n, v in verdicts.items()
                      if "rows" in v and n not in res["errors"])
        rows_per_s = ok_rows / res["op_s"]
    res["problems"] = problems

    if args.trace:
        layers = res.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        values = {"setup_s": res["setup_s"], "op_s": res["op_s"], "rows_per_s": rows_per_s,
                  "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END}
    (out_dir / "detail.json").write_text(json.dumps(res, indent=1))
    for p in problems:
        print(f"CHECK FAILED {p}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    for n, e in res.get("errors", {}).items():
        print(f"FAILED {n}: {e[:200]}")
    print(f"detail: {out_dir / 'detail.json'}")
    line = json.dumps({"correct": not problems, "attempted": int(res["attempted"]),
                       "failed": int(res["failed"]),
                       "metrics": {k: {"value": round(m["value"], 9), "unit": m["unit"]}
                                   for k, m in metrics.items()}}, separators=(",", ":"))
    if len(line) > 2000:
        die(f"result line is {len(line)} characters, over 2,000")
    print(line)


if __name__ == "__main__":
    main()
