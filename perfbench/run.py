#!/usr/bin/env python3
"""Layered CDC benchmark: one run of one workload.

    python3 perfbench/run.py --workload <huge_tx|small_tx_live|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline) and caches the classpath under
.bench_build/; later runs start the JVM directly. The last line of
stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Exits non-zero,
without a result, when the run cannot be made (no sources, build or
JVM failure).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 165
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(bdir):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(HERE, "build.sbt"))):
        fail("library sources not found next to the benchmark; "
             "run from a full checkout of the repository")
    stamp = source_stamp()
    cp_file = os.path.join(bdir, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def oracle_mismatches(data_dir, out_dir, queries):
    """Queries whose Spark output differs from the DuckDB oracle SQL,
    as the repository's own oracle compare (tools/check.py) finds them."""
    if not queries:
        return []
    check = os.path.join(ROOT, "tools", "check.py")
    if not os.path.isfile(check):
        fail("tools/check.py not found; run from a full checkout")
    p = subprocess.run([sys.executable, check, data_dir, out_dir] + queries,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    bad = [l for l in p.stdout.splitlines() if l.startswith("FAIL ")]
    for l in bad:
        print(f"perfbench: oracle {l}", file=sys.stderr)
    if p.returncode != 0 and not bad:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"oracle compare failed (exit {p.returncode})")
    return [l.split()[1].rstrip(":") for l in bad]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["huge_tx", "small_tx_live", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-tests use small values)")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    bdir = build_dir()
    cp = classpath(bdir)

    work = os.path.join(bdir, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # temporary and Spark scratch files stay inside the run directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-XX:-UsePerfData", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--scale", str(args.scale)]
    data = None
    try:
        if args.workload == "analytics":
            sys.path.insert(0, HERE)
            import datagen
            data = os.path.join(work, "data")
            datagen.generate(data, args.seed, args.scale)
            cmd += ["--data", data]
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as err:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=JVM_TIMEOUT_S, cwd=work)
        res = [l for l in p.stdout.splitlines() if l.startswith("RESULT ")]
        if p.returncode != 0 or not res:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"benchmark JVM failed (exit {p.returncode})")
        r = json.loads(res[-1][len("RESULT "):])
        failed = r["failed"]
        if args.workload == "analytics":
            errored = set()
            with open(log) as fh:
                for line in fh:
                    if line.startswith("[perfbench] ") and " failed: " in line:
                        errored.add(line.split()[1])
            out = os.path.join(work, "outputs")
            with open(os.path.join(out, "oracle_sql.json")) as fh:
                names = sorted(set(json.load(fh)) - errored)
            failed += len(oracle_mismatches(data, out, names))
        if args.trace:
            traces = os.path.join(bdir, "traces")
            os.makedirs(traces, exist_ok=True)
            src = os.path.join(work, "trace.jsonl")
            if os.path.isfile(src):
                shutil.copy(src, os.path.join(
                    traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    key, got = (("per_layer", r["per_layer"]) if args.trace
                else ("end_to_end", r["end_to_end"]))
    metrics = {}
    complete = True
    for m in spec[key]:
        v = got.get(m["name"], 0.0 if args.trace else None)
        if v is None or not math.isfinite(v):
            print(f"perfbench: metric {m['name']} missing", file=sys.stderr)
            complete = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = max(1, int(r["attempted"]))
    print(json.dumps({"correct": failed == 0 and complete,
                      "attempted": attempted, "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
