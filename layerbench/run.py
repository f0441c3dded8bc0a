#!/usr/bin/env python3
"""Layered benchmark of the registered queries (graft.SparkEntry.queries).

    python3 layerbench/run.py --workload analytics --seed 1 --seconds 16 --trace 0

Run it from the root of the repository. It builds the program and the
harness with sbt when their sources changed, starts one JVM
(local[nproc]) and runs whole passes over the workload's queries on the
scale-factor-0.01 tables in `layerbench/data`, each pass in a fresh
session and in an order drawn from the seed. A query is timed from the
builder call to the end of a full `collect()`. The results are digested
outside the timed interval and compared with `expected.json`.

`--seconds` sets how many passes a run makes: the nominal pass time
(measured on a 4-core host) divided into it, rounded up, and at least
two. With `--trace 0` the last line of output holds the
end-to-end metrics; with `--trace 1` the per-layer ones, taken from the
listener trace of half the passes after the first (at least three
passes then). `--record` rewrites the workload's expected digests from
a run whose passes all agree.

Exits non-zero, without a result line, when the program cannot be
built or run, and with `"correct": false` when a query fails or a
digest differs."""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
TIMEOUT_S = 170
# Nominal pass time on a 4-core host (a lakehouse pass; analytics is
# shorter): `--seconds 16` makes two passes.
PASS_S = 8
# Warm-up, untimed: the workload's queries once on the small tables.
WARM = "sf0.001"

# End-to-end metrics of the result line: those whose spread across ten
# seeds stayed at or below 0.20, under the 0.25 bound with a margin, in
# every set measured, plus `setup_s`, which is always there. The others
# are printed above it: `query_p50_s`, `query_tail_s`, `throughput_qps`
# and `query_p50_ref` spread more than that in some set (see README.md).
RESULT = ("query_gmean_ref", "pass_ref", "cpu_per_query_s",
          "setup_s", "retained_heap_mb", "success_rate")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print("layerbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change calls for a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, names in os.walk(d):
            dirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def build():
    """Compiles the program and the harness unless nothing changed since
    the last build; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("no program sources under %s; run from a checkout of the repository" % ROOT)
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "layerbench.stamp")
    cp_file = os.path.join(TARGET, "layerbench.classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if ln.endswith(".jar") and os.pathsep in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (log: %s)" % log, 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def launch(cp, args, scratch, stdout, stderr):
    """Starts the harness JVM; its temp files stay under `scratch`."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-XX:SoftRefLRUPolicyMSPerMB=0",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "layerbench.Harness"]
    cmd += ["%s=%s" % kv for kv in args.items()]
    return subprocess.Popen(cmd, cwd=scratch, stdout=stdout, stderr=stderr)


def digests_of(queries):
    """{name: (rows, digest)} when every pass agrees, else None."""
    seen = {}
    for q in queries:
        seen.setdefault(q["name"], set()).add((q.get("rows"), q.get("digest")))
    if any(len(v) != 1 or None in next(iter(v)) for v in seen.values()):
        return None
    return {k: next(iter(v)) for k, v in seen.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    # On SIGTERM, unwind through the `finally` that stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail("unknown workload %r (have: %s)" % (a.workload, ", ".join(workloads)))
    queries = workloads[a.workload]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh).get(a.workload, {})
    cp = build()

    passes = max(3 if a.trace else 2, math.ceil(a.seconds / PASS_S))
    cores = os.cpu_count()
    scratch = os.path.join(TARGET, "run-%d" % os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "records.jsonl")
    proc = None
    try:
        with open(os.path.join(scratch, "jvm.out"), "w") as so, \
                open(os.path.join(scratch, "jvm.err"), "w") as se:
            proc = launch(cp, {
                "queries": ",".join(queries),
                "data": os.path.join(HERE, "data", "sf0.01"),
                "warm": os.path.join(HERE, "data", WARM),
                "seed": a.seed, "passes": passes, "trace": a.trace, "cores": cores,
                "scratch": scratch, "out": out,
                "launch_ms": repr(time.time() * 1e3),
            }, scratch, so, se)
            try:
                rc = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0:
            with open(os.path.join(scratch, "jvm.err")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("harness %s" % ("timed out" if rc is None else "exited with %d" % rc), 1)
        with open(out) as fh:
            recs = [json.loads(ln) for ln in fh]
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    report(a, len(queries), recs, expected, passes, cores)


def report(a, n_queries, recs, expected, passes, cores):
    kinds = {}
    for r in recs:
        kinds.setdefault(r["type"], []).append(r)
    queries = kinds.get("query", [])
    if a.record:
        got = digests_of(queries)
        if got is None:
            fail("passes disagree or a query failed; nothing recorded", 1)
        path = os.path.join(HERE, "expected.json")
        with open(path) as fh:
            allexp = json.load(fh)
        allexp[a.workload] = {k: list(v) for k, v in sorted(got.items())}
        with open(path, "w") as fh:
            json.dump(allexp, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print("recorded %d digests for %s" % (len(got), a.workload))
        return
    bad = [q for q in queries if "error" in q
           or [q["rows"], q["digest"]] != expected.get(q["name"])]
    for q in bad:
        print("FAIL %s (pass %d): %s" % (q["name"], q["pass"], q.get(
            "error", "rows/digest %s/%s, expected %s" % (
                q.get("rows"), q.get("digest"), expected.get(q["name"])))))

    untraced = [q for q in queries if not q["traced"]]
    traced = [q for q in queries if q["traced"]]
    pass_walls = {}
    for q in untraced:
        pass_walls[q["pass"]] = pass_walls.get(q["pass"], 0.0) + q["wall_s"]
    walls = [pass_walls[p] for p in sorted(pass_walls)]
    print("workload %s: %d queries x %d passes, seed %d, %d cores" % (
        a.workload, n_queries, passes, a.seed, cores))
    print("untraced pass walls (s): %s" % " ".join("%.2f" % w for w in walls))
    if len(walls) > 1:
        print("first untraced pass / median of later ones: %.3f" % (
            walls[0] / stats.median(walls[1:])))
    if bad or not queries:
        metrics = {"success_rate": ((len(queries) - len(bad)) / max(1, len(queries)),
                                    "fraction")}
    elif a.trace == 0:
        m = stats.end_to_end(kinds["setup"][0], untraced, kinds["end"][0])
        m["success_rate"] = (1.0, "fraction", {"samples": len(queries)})
        print("end to end (* = in the result line):")
        for k, (v, unit, note) in m.items():
            print("  %s %-18s %12.5f %-10s %s" % (
                "*" if k in RESULT else " ", k, v, unit, json.dumps(note)))
        metrics = {k: m[k][:2] for k in RESULT}
    else:
        traced_passes = [p for p in kinds["pass"] if p["traced"]]
        # Pass 0 is untraced and colder than the rest; trace.overhead
        # compares traced passes with the untraced ones after it.
        warm_walls = [pass_walls[p] for p in sorted(pass_walls) if p > 0]
        layer = stats.per_layer(traced, kinds.get("job", []), kinds.get("stage", []),
                                kinds.get("phase", []), kinds.get("batch", []),
                                traced_passes, warm_walls, cores)
        metrics = {k: (v, stats.unit_of(k)) for k, v in sorted(layer.items())}
        for k, (v, unit) in metrics.items():
            print("  %-28s %14.5f %s" % (k, v, unit))
    print(json.dumps({
        "correct": not bad and bool(queries),
        "attempted": len(queries),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    if bad or not queries:
        sys.exit(1)


if __name__ == "__main__":
    main()
