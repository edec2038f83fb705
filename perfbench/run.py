#!/usr/bin/env python3
"""Full-result benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's main
sources and the runner (perfbench/scala) with the Scala 2.13 compiler
in the Spark jar directory build.sbt compiles against into .bench_build/;
later runs reuse the classes while the sources are unchanged. Inputs
come from perfbench/gen.py for the seed, DuckDB oracle digests from
perfbench/oracle.py. The JVM runs local[4] with a fixed 1 GiB heap.

Human-readable lines go to stderr; the last stdout line is the JSON
result: every end-to-end metric with --trace 0, every per-layer metric
with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "1g"
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# workload -> input tables [(table, base rows, copies)]
WORKLOADS = {
    "validity-sweep": [("embeddings", 1000, 1)],
    "dedup-cold": [("documents", 500, 1)],
    "ann-serve": [("embeddings", 300, 1)],
}

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources_key(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, srcs):
    """Compile srcs into out unless out already holds this exact build."""
    stamp = os.path.join(out, "_BUILT")
    if os.path.exists(stamp):
        return
    os.makedirs(out, exist_ok=True)
    compiler = ":".join(os.path.join(jars, f"scala-{j}-2.13.17.jar")
                        for j in ("compiler", "library", "reflect"))
    log(f"compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
                    "-usejavacp", "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile],
                   check=True, timeout=800, stdout=sys.stderr)
    open(stamp, "w").close()


def build():
    """Class path of the engine plus the runner, compiled from source."""
    engine_srcs = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    if not engine_srcs or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no build.sbt and engine sources under src/main/scala; "
                         "run from the repository root")
    jars = spark_jars()
    if not os.path.exists(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    bench_srcs = glob.glob(os.path.join(HERE, "scala/*.scala"))
    spark_cp = os.path.join(jars, "*")
    engine = os.path.join(BUILD, "engine-" + sources_key(engine_srcs))
    scalac(jars, engine, spark_cp, engine_srcs)
    bench = os.path.join(BUILD, "bench-" + sources_key(engine_srcs + bench_srcs))
    scalac(jars, bench, f"{engine}:{spark_cp}", bench_srcs)
    return bench, f"{bench}:{engine}:{spark_cp}"


def java(cp, args, log_path, timeout):
    env = dict(os.environ, LC_ALL="C.utf8")
    env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch out of the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: first touches of fresh heap pages
    # otherwise land in the timed passes
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"] + JAVA_OPENS +
           [f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.perfbench.Runner"] + args)
    with open(log_path, "w") as errf:
        p = subprocess.run(cmd, env=env, stdout=errf, stderr=subprocess.STDOUT, timeout=timeout)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: runner exited with {p.returncode} (log {log_path})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench, cp = build()
    started = time.time()  # the first run in a checkout compiles first
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    sql_path = os.path.join(bench, "oracle_sql.json")
    if not os.path.exists(sql_path):
        java(cp, ["--dump-oracle", sql_path], os.path.join(run_dir, "dump.log"), 120)
    with open(sql_path) as f:
        sql = json.load(f)[a.workload]

    data = gen.ensure(os.path.join(BUILD, "data"), a.seed, WORKLOADS[a.workload])
    digests = oracle.digests(data, sql)
    digest_file = os.path.join(run_dir, "oracle.tsv")
    with open(digest_file, "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in sorted(digests.items()))

    rows = sum(pq.ParquetFile(os.path.join(data, f"{table}.parquet")).metadata.num_rows
               for table, _, _ in WORKLOADS[a.workload])
    out = os.path.join(run_dir, "result.json")
    t = time.time()
    java(cp, ["--workload", a.workload, "--data", data, "--rows", str(rows), "--work", run_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--oracle", digest_file, "--out", out],
         os.path.join(run_dir, "run.log"), 175 - (time.time() - started))
    r = json.load(open(out))
    # process start until the session is ready and the warmup is done
    r["setup_s"] = r["ready_epoch_ms"] / 1e3 - t

    for f in r["failures"]:
        log(f"FAIL {f}")
    fail_ratio = r["failed"] / r["attempted"]
    log(f"{a.workload} seed={a.seed} input_rows={r['input_rows']} heap={HEAP} cores=4 "
        f"warm passes={len(r['passes'])}")
    # names and units of the metrics this run prints, as declared
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = r["layers"] if a.trace else r
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    log(f"fail_ratio = {fail_ratio:.6g} ({r['failed']} of {r['attempted']} calls)")
    log(f"check: {'PASS' if r['failed'] == 0 else 'FAIL'}")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
