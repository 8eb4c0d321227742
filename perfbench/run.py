#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check
its outputs, print the metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program is compiled from `src/main` (and
the harness from `perfbench/harness`) into `.bench_build/` the first time,
and again whenever a source file changes. The queries read the sf0.01
tables of the repository's test data (`TESTDATA.md`); the ETL snapshot is
generated from the seed. The last line of standard output is one JSON
object with the keys `correct`, `attempted`, `failed` and `metrics`; the lines before it repeat
each metric with its unit and sample count, and the ambient context.
Exits nonzero when an output check fails or an operation fails.
"""
import argparse
import csv
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
try:
    import check  # tools/check.py: the repository's oracle comparison
except ImportError:
    sys.exit("perfbench: run from the repository root: tools/check.py is missing")

BUILD = ".bench_build"
JAR = f"{BUILD}/bench.jar"
# class-data sharing for the program and the Spark jars: the first run after
# a build dumps the classes it loaded, later runs map them instead of
# parsing the jars again, which shortens JVM start and the warm-up pass
CDS = f"{BUILD}/classes.jsa"
WORKLOADS = ["etl_snapshot", "queries"]
# (cities, stations per city, lines per sensor) of the generated snapshot
SNAPSHOT_SIZE = (50, 16, 7)
# a run's limit after the build: the build itself (first run after a
# source change) may take several minutes on a slow machine
RUN_LIMIT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def test_tables():
    """The sf0.01 table directory that TESTDATA.md lists: the tables every
    query and its DuckDB oracle are validated on."""
    m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", open("TESTDATA.md").read())
    if not m:
        fail("TESTDATA.md lists no sf0.01 directory")
    d = m.group(1).rstrip("/")
    missing = [t for t in check.TABLES if not os.path.isfile(f"{d}/{t}.parquet")]
    if missing:
        fail(f"{d} lacks {', '.join(missing)}")
    return d


def build(jars):
    """Compile the program and the harness into one jar unless the sources
    are unchanged."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    hsrcs = sorted(glob.glob(f"{HERE}/harness/*.scala"))
    h = hashlib.sha256()
    for p in srcs + hsrcs + sorted(glob.glob("src/main/resources/**/*", recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode()); h.update(open(p, "rb").read())
    stamp = f"{BUILD}/stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(JAR):
        return
    for f in (stamp, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    for d in ("classes", "harness"):
        shutil.rmtree(f"{BUILD}/{d}", ignore_errors=True)
        os.makedirs(f"{BUILD}/{d}")
    cp = f"{jars}/*"
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn"]
    for out, extra_cp, files in ((f"{BUILD}/classes", cp, srcs),
                                 (f"{BUILD}/harness", f"{BUILD}/classes:{cp}", hsrcs)):
        r = subprocess.run(scalac + ["-d", out, "-classpath", extra_cp] + files,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail(f"compile failed:\n{r.stdout[-4000:]}")
    shutil.copytree("src/main/resources", f"{BUILD}/classes", dirs_exist_ok=True)
    # a jar, not class directories: class-data sharing (below) needs one
    with zipfile.ZipFile(JAR, "w") as z:
        for d in ("classes", "harness"):
            for p in sorted(glob.glob(f"{BUILD}/{d}/**/*", recursive=True)):
                if os.path.isfile(p):
                    z.write(p, os.path.relpath(p, f"{BUILD}/{d}"))
    open(stamp, "w").write(h.hexdigest())


def check_queries(run, oracles, tables):
    """Every query's warm-up output against its DuckDB oracle, by
    tools/check.py; returns name -> (ok, oracle rows, why)."""
    results = f"{run}/results"
    with open(f"{results}/oracle_sql.json", "w") as f:
        json.dump(oracles, f)
    r = subprocess.run([sys.executable, f"{os.path.dirname(HERE)}/tools/check.py", tables, results],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    out = {name: (False, -1, "not checked") for name in oracles}
    for block in re.split(r"\n(?=ok   |FAIL |== )", r.stdout):
        m = re.match(r"ok   (\S+) \((\d+) rows\)", block)
        if m:
            out[m.group(1)] = (True, int(m.group(2)), "")
        m = re.match(r"FAIL (\S+): (.*)", block, re.S)
        if m:
            out[m.group(1)] = (False, -1, m.group(2).strip())
    return out


def check_etl(run, sql, snap):
    """The first ETL output against the q_flagship oracle re-pointed at the
    generated snapshot and city table."""
    base = os.path.abspath("fixtures/snapshots")
    cities = json.load(open(f"{snap}/cities.json"))
    values = ", ".join(f"('{c['city']}', {c['lat']!r}, {c['lon']!r})" for c in cities)
    sql = sql.replace(f"{base}/locations.jsonl", f"{snap}/locations.jsonl") \
             .replace(f"{base}/latest.jsonl", f"{snap}/latest.jsonl")
    sql, n = re.subn(r"cityc\(city, clat, clon\) AS \(VALUES .*\),\n",
                     lambda _: f"cityc(city, clat, clon) AS (VALUES {values}),\n", sql)
    if n != 1:
        return {"etl_snapshot": (False, -1, "cannot re-point the q_flagship oracle")}
    con = duckdb.connect()
    want = [[check.norm_cell(v) for v in r] for r in con.execute(sql).fetchall()]
    part = glob.glob(f"{run}/etl/1/part-*.csv")
    if not part:
        return {"etl_snapshot": (False, -1, "no CSV written")}
    with open(part[0], encoding="utf-8-sig", newline="") as f:
        got = list(csv.reader(f))[1:]
    ok = sorted(got) == sorted(want) and len(want) > 0
    return {"etl_snapshot": (ok, len(want), "" if ok else "CSV differs from its oracle")}


def end_to_end(raw, setup_s, setups):
    """The end-to-end metrics of an untraced run: name -> (value, samples)."""
    ops = [o for o in raw["ops"] if o["pass"] > 0]
    passes = [p["wall_ms"] / 1000 for p in raw["passes"]]
    op_ms = [o["wall_ms"] for o in ops]
    return {
        "setup_s": (setup_s, setups),
        "pass_s": (statistics.median(passes), len(passes)),
        # the pool mixes a few operations of very different cost, so its
        # median jumps between them from run to run; the geometric mean
        # moves smoothly and weighs each operation's relative change alike
        "op_ms.geomean": (statistics.geometric_mean(op_ms), len(op_ms)),
        "op_ms.p90": (statistics.quantiles(op_ms, n=10, method="inclusive")[8], len(op_ms)),
        "rows_per_s": (raw["rows_read"] / (sum(op_ms) / 1000), len(op_ms)),
        "retained_heap_mb": (raw["retained_heap_mb"], 1)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    spec = json.load(open("BENCHMARK.json"))
    jars = spark_jars()
    if not glob.glob(f"{jars}/spark-core_*.jar"):
        fail(f"no Spark jars in {jars}")
    build(jars)
    tables = test_tables()
    build_s = time.time() - t_start

    run = os.path.abspath(f"{BUILD}/run")
    snap = f"{run}/snapshot"
    shutil.rmtree(run, ignore_errors=True)
    # the snapshot is generated three times to time its set-up; the queries
    # read the test tables in place
    gen_s, lines = [0.0], 0
    if a.workload == "etl_snapshot":
        gen_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            shutil.rmtree(snap, ignore_errors=True)
            lines = gen.snapshot(snap, a.seed, *SNAPSHOT_SIZE)
            gen_s.append(time.perf_counter() - t0)
    os.makedirs(f"{run}/tmp")
    os.makedirs(f"{run}/results")

    cpus = str(os.cpu_count() or 1)
    cds = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else f"-XX:ArchiveClassesAtExit={CDS}"
    cmd = (["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{JAR}:{jars}/*", "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), tables, snap, run, cpus])
    launch_ms = time.time() * 1000
    with open(f"{run}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start - build_s)))
        except subprocess.TimeoutExpired:
            p.kill(); p.wait()
            fail("run exceeded its time limit", 3)
    if p.returncode != 0 or not os.path.exists(f"{run}/raw.json"):
        sys.stderr.write(open(f"{run}/jvm.log").read()[-3000:])
        fail(f"harness exited with {p.returncode}", 3)
    jvm_s = time.time() - launch_ms / 1000
    raw = json.load(open(f"{run}/raw.json"))

    # ── output checks (outside every timer) ─────────────────────────────
    oracles = raw["oracles"]
    if a.workload == "etl_snapshot":
        checks = check_etl(run, oracles["etl_snapshot"], snap)
    else:
        checks = check_queries(run, oracles, tables)
    ops = raw["ops"]
    md5s = {o["csv_md5"] for o in ops if "csv_md5" in o}
    failed_ops = []
    for o in ops:
        ok, rows, why = checks.get(o["name"], (False, -1, "no oracle"))
        if "error" in o:
            failed_ops.append((o["name"], o["error"]))
        elif not ok:
            failed_ops.append((o["name"], why))
        elif o["count"] >= 0 and o["count"] != rows:
            failed_ops.append((o["name"], f"count {o['count']} vs oracle {rows} rows"))
    if len(md5s) > 1:
        failed_ops.append(("etl_snapshot", "ETL runs wrote different CSVs"))

    attempted = len(ops)
    print(f"workload {a.workload} seed {a.seed} cpus {raw['cpus']} "
          f"passes {len(raw['passes'])} ops {attempted}")
    if not a.trace:
        setup_s = statistics.median(gen_s) + (raw["first_timed_ms"] - launch_ms) / 1000
        values = end_to_end(raw, setup_s, len(gen_s))
        for m in spec["end_to_end"]:
            v, n = values[m["name"]]
            print(f"  {m['name']:18s} {v:14.4f} {m['unit']:5s} n={n}")
    print(f"  failed_frac        {len(failed_ops) / attempted:14.4f}       n={attempted}")
    for name, why in failed_ops[:10]:
        print(f"  FAILED {name}: {why}", file=sys.stderr)
    print(f"  ambient: q_scan_parquet start {raw['calibration_start_ms']} ms, "
          f"end {raw['calibration_end_ms']} ms, nproc {os.cpu_count()}, "
          f"loadavg {open('/proc/loadavg').read().split()[:3]}")
    exit_ms = launch_ms + jvm_s * 1000
    marks = [("jvm start", launch_ms, raw["session_ready_ms"]),
             ("jvm set-up", raw["session_ready_ms"], raw["first_timed_ms"]),
             ("timed", raw["first_timed_ms"], raw["timed_end_ms"]),
             ("jvm close", raw["timed_end_ms"], exit_ms)]
    print(f"  phases: build {build_s:.1f} s, generate {len(gen_s)}x {sum(gen_s):.1f} s, " +
          ", ".join(f"{name} {(t1 - t0) / 1000:.1f} s" for name, t0, t1 in marks) +
          f", checks {time.time() - exit_ms / 1000:.1f} s")
    print("  pass walls: " + ", ".join(f"{p['wall_ms'] / 1000:.2f}" for p in raw["passes"]) + " s")
    print(f"  checks: {sum(1 for v in checks.values() if v[0])}/{len(checks)} outputs match "
          f"their oracles" + (f", {lines} snapshot lines" if lines else ""))
    if a.trace:
        # layers a workload does not exercise read 0
        layers = raw["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, m in metrics.items():
            print(f"  {k:40s} {m['value']:16.4f} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = not failed_ops
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed_ops),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
