#!/usr/bin/env python3
"""graft benchmark: builds the program from source, runs one workload in a
fresh JVM on local[4], checks its outputs and prints one JSON result line.

Run from the repository root:

  python3 perfbench/run.py --workload {catalog,spatial} --seed N \
      --seconds S --trace {0,1}
  python3 perfbench/run.py --selfcheck

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The line before it is the run record (nproc, -Xmx, seed, JDK
and Spark versions, host weather before and after). A traced run also
writes its spans, with self times, under .bench_build/traces/.
Metric definitions and the reasons behind them: perfbench/METRICS.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
XMX = "2g"
JVM_TIMEOUT_S = 172  # the whole command must end within 180 s
WORKLOADS = ("catalog", "spatial")
# the crawl pipeline runs inside the catalog workload's traced run
CRAWL_CHECKS = {"resume_count", "resume_success", "text_identity", "eval_grams", "store_rows", "stream_sketch"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Every traced run must print every per-layer metric, but a layer only one
# workload exercises reads 0 on the other. These prefixes name the layers
# each workload leaves idle; selfcheck fails when an exercised metric reads
# 0 (a broken probe) or an idle one does not.
SHARED = ("peak_heap_mb", "spark.cold.", "spark.warm.", "spark.task_max_over_median", "trace.overhead_share")
SPATIAL_ONLY = ("core.", "sql.st_", "sql.tile", "jobs.spatial_join_s", "jobs.shuffle_pip_s", "jobs.pyramid_s",
                "spatial.", "lake.sjj.", "lake.pyramid.", "lake.spatial.")


def exercised(workload, metric):
    if metric.startswith(SHARED):
        return True
    return metric.startswith(SPATIAL_ONLY) == (workload == "spatial")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_jars():
    """The Spark jars the project's build compiles against: $SPARK_HOME/jars,
    else the build's `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            fail(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(jars):
    """Compiles the program and the harness once per source hash into a jar,
    then records a class-data-sharing archive of a small run so that every
    measured JVM starts without re-parsing the Spark classes. Returns the
    jar; the archive sits next to it."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jar = os.path.join(BUILD, "graft-" + h.hexdigest()[:16] + ".jar")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(jar + ".ok"):
            return jar
        for old in os.listdir(BUILD):
            if old.startswith("graft-") or old.startswith("classes"):
                p = os.path.join(BUILD, old)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        classes = os.path.join(BUILD, "classes")
        os.makedirs(classes)
        scala = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                 if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", n)]
        cp = ":".join(os.path.join(jars, n) for n in sorted(os.listdir(jars)) if n.endswith(".jar"))
        args = os.path.join(BUILD, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(scala), "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", cp, "-d", classes, "@" + args],
                           capture_output=True, text=True, timeout=850)
        if r.returncode != 0:
            fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, fs in os.walk(classes):
                for f in sorted(fs):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
        shutil.rmtree(classes)
        # the archive only changes start-up cost; a run without it measures the same work
        run_jvm(jar, jars, "catalog", 1, 1, 0, small=True, cds=["-XX:ArchiveClassesAtExit=" + jar + ".jsa"])
        open(jar + ".ok", "w").write(f"{time.time() - t0:.1f}\n")
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
        return jar


def run_jvm(jar, jars, workload, seed, seconds, trace, small=False, ref_path=None, cds=None):
    """One workload run in a fresh JVM with its own empty java.io.tmpdir and
    spark.local.dir, deleted afterwards. Returns the harness's result dict
    with the out-of-process output checks applied."""
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}-{time.time_ns()}")
    tmp, local, work = (os.path.join(run_dir, d) for d in ("tmp", "local", "work"))
    for d in (tmp, local, work):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    if cds is None:
        cds = [f"-XX:SharedArchiveFile={jar}.jsa"] if os.path.exists(jar + ".jsa") else []
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{XMX}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xss4m", *cds,
           *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", jar + ":" + os.path.join(jars, "*"), "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--out", out, "--data", os.path.join(HERE, "data"),
           "--work", work, "--local", local, "--small", "1" if small else "0"]
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"{workload} run exceeded {JVM_TIMEOUT_S}s")
        if p.returncode != 0 or not os.path.exists(out):
            lines = open(log_path, errors="replace").read().splitlines()
            errs = [l for l in lines if "Exception" in l or "Error" in l][:8]
            fail(f"{workload} JVM exited with {p.returncode}:\n" + "\n".join(errs + lines[-15:]))
        for line in open(log_path, errors="replace"):
            if line.startswith("[perfbench]"):
                print(line.rstrip(), file=sys.stderr)
        with open(out) as f:
            res = json.load(f)
        bad = python_checks(workload, res, small, ref_path or os.path.join(HERE, "ref", "catalog.json"))
        for op in res["ops"]:
            if op["name"] in bad and op["ok"]:
                op["ok"], op["error"] = False, bad[op["name"]]
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def duck_rows(sql, lineitem):
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{lineitem}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def canon(rows, cols):
    return sorted(tuple(int(r[c]) for c in cols) for r in rows)


def python_checks(workload, res, small, ref_path):
    """Checks that need the reference digests or DuckDB. Returns
    {op name: reason} for every operation they fail."""
    bad = {}
    outs = res["outputs"]
    if workload == "catalog":
        sf = "sf0.001" if small else "sf0.01"
        ref = json.load(open(ref_path)).get(sf, {}) if os.path.getsize(ref_path) else {}
        for op, dg in outs.get("digests", {}).items():
            q = op.split("/", 1)[1]
            if ref.get(q) != dg:
                bad[op] = "digest differs from the reference"
        res["checks"].append("digest")
    if workload == "spatial":
        lineitem = res["info"]["spatial.lineitem_glob"]
        sqls = outs["oracle_sql"]
        want = {
            "spatial_join": canon(duck_rows(sqls["q02_pip_join"], lineitem),
                                  ["poly_id", "n", "min_pid", "max_pid", "n_hot"]),
            "shuffle_pip": canon(duck_rows(sqls["q40_shuffle_pip"], lineitem),
                                 ["poly_id", "n", "min_pid", "max_pid"]),
            "pyramid": canon([r for r in duck_rows(sqls["q07_pyramid"], lineitem) if r["z"] == 6],
                             ["z", "x", "y", "n"]),
        }
        cols = {"spatial_join": ["poly_id", "n", "min_pid", "max_pid", "n_hot"],
                "shuffle_pip": ["poly_id", "n", "min_pid", "max_pid"],
                "pyramid": ["z", "x", "y", "n"]}
        for op, rows in outs.items():
            kind = op.split("/")[-1]
            if kind in want and canon(rows, cols[kind]) != want[kind]:
                bad[op] = f"differs from the DuckDB oracle ({len(rows)} rows)"
        res["checks"] += ["oracle_q02", "oracle_q40", "oracle_q07"]
    return bad


def self_times(spans):
    """Per span name: total and self seconds (self = duration minus the
    union of its children's intervals)."""
    kids = {}
    for sid, parent, name, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    agg = {}
    for sid, parent, name, s, e in spans:
        covered, cur = 0, None
        for cs, ce in sorted(kids.get(sid, [])):
            cs, ce = max(cs, s), min(ce, e)
            if ce <= cs:
                continue
            if cur is None or cs > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [cs, ce]
            else:
                cur[1] = max(cur[1], ce)
        if cur:
            covered += cur[1] - cur[0]
        a = agg.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        a["count"] += 1
        a["total_s"] += (e - s) / 1e6
        a["self_s"] += (e - s - covered) / 1e6
    return agg


def one_run(args, jar, jars, bench, ref_path=None, small=False):
    res = run_jvm(jar, jars, args.workload, args.seed, args.seconds, args.trace, small, ref_path)
    failed = [o for o in res["ops"] if not o["ok"]]
    for o in failed:
        print(f"perfbench: FAILED {o['name']}: {o['error']}", file=sys.stderr)
    info = res["info"]
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": os.cpu_count(), "jvm_processors": info["nproc"], "xmx": XMX,
              "jdk": info["jdk"], "spark": info["spark"],
              "weather_before_rows_per_s": info["weather_before_rows_per_s"],
              "weather_after_rows_per_s": info["weather_after_rows_per_s"],
              "checks": res["checks"], "info": info,
              "ops": [[o["name"], round(o["wall"], 4), o["ok"]] for o in res["ops"]]}
    if args.trace == 0:
        names = bench["end_to_end"]
    else:
        names = bench["per_layer"]
        record["trace_overhead_share"] = res["metrics"].get("trace.overhead_share")
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}-{time.time_ns()}.json"), "w") as f:
            json.dump({"record": record, "self_times": self_times(res["spans"]),
                       "spans": [dict(zip(("id", "parent", "name", "start_us", "end_us"), s))
                                 for s in res["spans"]]}, f)
    def value(v):
        # an idle layer's metric is absent; NaN only follows failed operations
        return float(v) if isinstance(v, (int, float)) and math.isfinite(v) else 0.0
    metrics = {m["name"]: {"value": value(res["metrics"].get(m["name"])), "unit": m["unit"]} for m in names}
    print(json.dumps({"record": record}))
    return {"correct": not failed, "attempted": len(res["ops"]), "failed": len(failed),
            "metrics": metrics}, res


def selfcheck(jar, jars, bench):
    """Tiny inputs: every metric prints with its unit, every output check
    runs, every per-layer metric reads non-zero exactly on the workloads
    that exercise its layer, and a corrupted reference digest is reported
    as failed."""
    expected = {
        "catalog": {"leak", "digest", "same_as_first"},
        "spatial": {"leak", "warm_equals_cold", "oracle_q02", "oracle_q40", "oracle_q07"},
    }
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            a = argparse.Namespace(workload=w, seed=7, seconds=bench["run_seconds"], trace=trace)
            out, res = one_run(a, jar, jars, bench, small=True)
            want = bench["end_to_end"] if trace == 0 else bench["per_layer"]
            for m in want:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], float):
                    problems.append(f"{w}: metric {m['name']} missing or without unit")
            for m in want:
                v = out["metrics"][m["name"]]["value"]
                if trace == 0 and not v > 0:
                    problems.append(f"{w}: end-to-end metric {m['name']} is not positive")
                if trace == 1 and (v != 0) != exercised(w, m["name"]):
                    problems.append(f"{w}: per-layer metric {m['name']} reads {v}, but its layer is "
                                    + ("exercised" if exercised(w, m["name"]) else "idle") + " here")
            want_checks = expected[w] | (CRAWL_CHECKS if (w, trace) == ("catalog", 1) else set())
            missing = want_checks - set(res["checks"])
            if missing:
                problems.append(f"{w}: checks did not run: {sorted(missing)}")
            if out["failed"]:
                problems.append(f"{w}: {out['failed']} failed operations on correct code")
    # a corrupted reference digest must show up as a failed operation
    ref = json.load(open(os.path.join(HERE, "ref", "catalog.json")))
    q = sorted(ref["sf0.001"])[0]
    ref["sf0.001"][q] = ref["sf0.001"][q][:-1] + ("0" if ref["sf0.001"][q][-1] != "0" else "1")
    bad_ref = os.path.join(BUILD, "corrupt-ref.json")
    json.dump(ref, open(bad_ref, "w"))
    a = argparse.Namespace(workload="catalog", seed=7, seconds=bench["run_seconds"], trace=0)
    out, _ = one_run(a, jar, jars, bench, ref_path=bad_ref, small=True)
    if out["failed"] == 0 or out["correct"]:
        problems.append("a corrupted reference digest was not reported as failed")
    for p in problems:
        print("SELFCHECK:", p, file=sys.stderr)
    print(json.dumps({"selfcheck": "ok" if not problems else "failed", "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record-reference", action="store_true",
                    help="write the catalog digests of this run as the reference")
    args = ap.parse_args()
    if not (args.selfcheck or args.workload or args.record_reference):
        fail("--workload or --selfcheck is required")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("run from the repository root (no build.sbt here)")
    bench = spec()
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    jars = spark_jars()
    jar = build(jars)
    if args.selfcheck:
        sys.exit(selfcheck(jar, jars, bench))
    if args.record_reference:
        ref_path = os.path.join(HERE, "ref", "catalog.json")
        ref = json.load(open(ref_path)) if os.path.exists(ref_path) else {}
        for small, sf in ((False, "sf0.01"), (True, "sf0.001")):
            res = run_jvm(jar, jars, "catalog", args.seed, args.seconds, 0, small, ref_path=os.devnull)
            bad = [o["name"] for o in res["ops"] if not o["ok"] and o["error"] != "digest differs from the reference"]
            if bad:
                fail(f"not recording a reference from a run with failures: {bad}")
            ref[sf] = {op.split("/", 1)[1]: d for op, d in sorted(res["outputs"]["digests"].items())
                       if op.startswith("cold/")}
        with open(ref_path, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
        return
    out, _ = one_run(args, jar, jars, bench)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
