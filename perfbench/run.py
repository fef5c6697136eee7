#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in fresh JVMs, checks its outputs and prints the result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Each
run is also saved with its provenance under .bench_build/perfbench/results
for perfbench/compare.py.

Host sizing: Spark runs local[nproc]; the heap is half of MemTotal, clamped
to 2..8 GB, the rule the repo's tier-1 test command uses for
SPARK_DRIVER_MEM. The sf0.1 tables are read from $SPARK_GRAFT_SF_DIR, else
from the sf0.1 directory that TESTDATA.md lists.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
WORKLOADS = ("sweep-sf0.1", "fit-powerlaw")
# The JVMs an untraced run starts one after another, as the warm passes each
# makes after its cold pass. The fit's cold pass varies by about a fifth from
# one JVM to the next (whole JVMs run fast or slow, with no carry-over to the
# next), so its run takes the median of two cold passes; the second JVM
# makes no warm pass, to keep a run near a minute. The sweep's passes vary
# less. A traced run starts the first JVM only.
WARM_PASSES = {"sweep-sf0.1": (2,), "fit-powerlaw": (1, 0)}
DEADLINE_S = 170
SF_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles the program and the harness (one sbt project, perfbench/),
    once per source hash; returns (classpath, source hash)."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no program sources under src/main/scala: run from the root of a checkout")
    digest = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=fh,
                           stderr=subprocess.STDOUT, timeout=max(60, deadline - time.time()))
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "target" in l and ":" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    # the compiled library, not stub classes: the operator package must exist
    for cls in ("graft/ops/Relational.class", "perfbench/Main.class"):
        if not os.path.isfile(os.path.join(classes, cls)):
            fail(f"build produced no {cls}: refusing to run against stub classes", 3)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cps[-1]}, fh)
    return cps[-1], digest


def host():
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return nproc, mem_kb, heap_g


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read())
        d = m.group(1) if m else ""
    if not os.path.isfile(os.path.join(d, "documents.parquet")):
        fail(f"sf0.1 tables not found at {d!r}: set SPARK_GRAFT_SF_DIR")
    return d.rstrip("/")


def run_jvm(args, warm, classpath, nproc, heap_g, deadline):
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, sub))
    src = "-"
    if args.workload == "sweep-sf0.1":
        # the sweep reads sf0.1's tables; the JVM writes its own seeded
        # documents and embeddings beside them
        src = data_dir()
        for t in SF_TABLES:
            shutil.copy(os.path.join(src, f"{t}.parquet"), os.path.join(work, "data"))
    cmd = (["java", f"-Xmx{heap_g}g", "-XX:+UseG1GC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["--enable-native-access=ALL-UNNAMED",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
              "-Dlog4j2.level=ERROR",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--warm", str(warm),
              "--threads", str(nproc), "--work", work, "--data", src])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=fh, text=True)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM ran out of time")
    marks = [l.split(" ", 1)[1] for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not marks:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {p.returncode} (log: {log})", 3 if p.returncode == 3 else 2)
    with open(marks[-1]) as fh:
        return json.load(fh)


def provenance(args, trace, nproc, mem_kb, heap_g, digest, res):
    sha = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except OSError:
            pass
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": trace, "nproc": nproc, "mem_total_kb": mem_kb, "heap_g": heap_g,
            "jdk": res["jdk"], "spark": res["spark_version"], "git_sha": sha,
            "source_sha256": digest, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def save(record):
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    p = record["provenance"]
    name = f"{p['workload']}-s{p['seed']}-t{p['trace']}-{time.time_ns()}.json"
    with open(os.path.join(d, name), "w") as fh:
        json.dump(record, fh)


def main():
    start = time.time()
    deadline = start + DEADLINE_S
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(BUILD, exist_ok=True)
    classpath, digest = build(start + 840)
    if time.time() > deadline - 60:
        deadline = time.time() + DEADLINE_S - 10  # the build used the first run's allowance
    nproc, mem_kb, heap_g = host()

    t_jvm = time.time()
    jvms, results = [], []
    shape = WARM_PASSES[args.workload]
    for warm in shape[:1] if args.trace else shape:
        res = run_jvm(args, warm, classpath, nproc, heap_g, deadline)
        results += [dict(c) for c in res["checks"]] + checks.run(res, ROOT)
        jvms.append(res)
    if len(jvms) > 1 and jvms[0]["params"].get("llh") is not None:
        llhs = [r["params"]["llh"] for r in jvms]
        results.append({"name": "fit.llh_equal_across_jvms", "ok": len(set(llhs)) == 1,
                        "detail": ", ".join(map(repr, llhs))})
    t_end = time.time()
    attempted = sum(r["attempted"] for r in jvms)
    failed = sum(r["failed"] for r in jvms)
    # a timed call that throws makes the run incorrect, whatever it skipped
    correct = all(c["ok"] for c in results) and bool(results) and failed == 0

    e2e = metrics.end_to_end(jvms)
    specs, values = ((spec["per_layer"], metrics.per_layer(jvms[0])) if args.trace
                     else (spec["end_to_end"], e2e))
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        fail(f"workload produced no value for {missing}")
    reported = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}

    record = {"provenance": provenance(args, args.trace, nproc, mem_kb, heap_g, digest, res),
              "e2e": e2e, "metrics": reported, "correct": correct,
              "checks": results, "attempted": attempted, "failed": failed,
              "jvms": [{k: r[k] for k in ("setup_s", "pass_walls", "calls")} for r in jvms]}
    save(record)

    for c in results:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {str(c['detail'])[:200]}")
    print(f"{args.workload} seed={args.seed} jvms={len(jvms)} "
          f"passes={sum(len(r['pass_walls']) for r in jvms)} attempted={attempted} "
          f"failed={failed} threads={nproc} heap={heap_g}g "
          f"build={t_jvm - start:.1f}s jvms+checks={t_end - t_jvm:.1f}s")
    if args.trace:
        metrics.print_ledger(jvms[0], reported)
    else:
        for name, m in reported.items():
            print(f"  {name:<16} {m['value']:12.4f} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": reported}))


if __name__ == "__main__":
    main()
