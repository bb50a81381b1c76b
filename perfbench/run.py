#!/usr/bin/env python3
"""Benchmark of the graft engine: builds it from source, runs one workload
in a closed loop and prints every metric, then one JSON result line.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds, inputs and scratch files go under
`.bench_build/`. With `--trace 0` the result carries the end-to-end metrics
of BENCHMARK.json; with `--trace 1` the per-layer ones, and the spans are
kept in `.bench_build/trace/`.
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

import duckdb

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(os.getcwd(), ".bench_build")
WORKLOADS = ("medallion_daily", "cow_incremental", "llm_curate")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the `unmanagedBase` of the engine's build.sbt."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        found = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = found.group(1) if found else ""
    if not os.path.isdir(jars):
        die("no Spark jars: set SPARK_HOME", 2)
    return jars


def sources():
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile the engine and the driver into a directory named by their hash."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}", 2)
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def inputs(seed):
    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        datagen.generate(seed, out)
        open(os.path.join(out, ".complete"), "w").close()
    return out


def read_result(path):
    res = {"metric": [], "detail": [], "setup": [], "op": [], "thin": [], "span": [],
           "digest": []}
    with open(path) as fh:
        for line in fh:
            kind, _, rest = line.rstrip("\n").partition("\t")
            if kind in ("attempted", "failed"):
                res[kind] = int(rest)
            elif kind == "oracle_sql":
                res[kind] = rest
            else:
                res[kind].append(rest.split("\t") if kind != "span" else rest)
    return res


def medallion_mismatches(res, data):
    """Runs whose thin_layer rows differ from the engine's own DuckDB oracle."""
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    want = sorted((r[0], r[1], float(r[2]), int(r[3]), int(r[4]))
                  for r in con.execute(res["oracle_sql"]).fetchall())
    got = {}
    for op, flag, status, qty, n, brands in res["thin"]:
        got.setdefault(op, []).append((flag, status, float(qty), int(n), int(brands)))
    bad = 0
    for op, rows in got.items():
        rows.sort()
        same = len(rows) == len(want) and all(
            a[:2] == b[:2] and a[3:] == b[3:] and abs(a[2] - b[2]) <= 1e-9 * max(1.0, abs(b[2]))
            for a, b in zip(rows, want))
        if not same:
            print(f"perfbench: medallion run {op}: thin_layer != oracle", file=sys.stderr)
            bad += 1
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    data = inputs(args.seed)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.tsv")
    cores = len(os.sched_getaffinity(0))
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss16m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           ADD_OPENS +
           ["-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "graftbench.Main",
            "--workload", args.workload, "--data", data, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--seed", str(args.seed), "--out", result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, env=env, timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(result):
            die(f"driver exited with {proc.returncode}")
        res = read_result(result)
        if args.workload == "medallion_daily":
            res["failed"] += medallion_mismatches(res, data)
    except subprocess.TimeoutExpired:
        die(f"driver did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        tdir = os.path.join(BUILD, "trace")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.jsonl"), "w") as fh:
            fh.writelines(s + "\n" for s in res["span"])
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cores={cores} "
          f"wall={time.time() - t0:.1f}s ops={len(res['op'])} setups={len(res['setup'])}")
    for name, unit, value in res["metric"]:
        print(f"{name} {float(value):.6g} {unit}")
    for name, unit, value, n in res["detail"]:
        print(f"{name} {float(value):.6g} {unit} (n={n})")
    print(f"error_rate {res['failed'] / res['attempted']:.6g} ratio (n={res['attempted']})")
    for op, sha in res["digest"]:
        print(f"output_digest.{op} {sha}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": float(value), "unit": unit}
                    for name, unit, value in res["metric"]},
    }))


if __name__ == "__main__":
    main()
