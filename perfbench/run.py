#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                                [--self-test 1]

Workloads: nvd_bulk_load, nvd_refresh_serve, query_suite (README.md).
The first run in a checkout builds the engine and the harness with sbt
(about 2-4 minutes); later runs reuse the build while its sources are
unchanged. Each run works in a private directory under perfbench/.work/
and deletes it at the end; the traced run (--trace 1) copies its span
file to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
HARNESS = os.path.join(HERE, "harness")
# the sf0.1 testdata tables, under the home directory (TESTDATA.md)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
WORKLOADS = ["nvd_bulk_load", "nvd_refresh_serve", "query_suite"]
JVM_HEAP = "4g"
# the workload JVM is killed past this (a run has 180 s, a build aside)
JVM_LIMIT_S = 150

sys.path.insert(0, HERE)
import gen_nvd  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the engine's build and sources,
    and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "tools", "probes"),
             os.path.join(ROOT, "project"), HARNESS]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            # skip sbt's own output: target/ and project/project/
            subdirs[:] = sorted(s for s in subdirs if s != "target" and
                                not (s == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns
    (classpath, seconds spent building)."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), 0.0
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, time.time() - t0


def start_jvm(cp, workload, work, seconds, trace, extra):
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores)] + extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                            start_new_session=True)


def kill(proc):
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def wait_jvm(proc, work):
    try:
        rc = proc.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("workload timed out")
    finally:
        kill(proc)
    if rc != 0:
        raise SystemExit(f"workload JVM exited with code {rc}")
    with open(os.path.join(work, "result.json"), encoding="utf-8") as f:
        return json.load(f)


def workload_figures(res):
    """Per-workload figures of the traced run (the untraced run reports
    the workload-neutral end-to-end metrics)."""
    med = statistics.median
    out = {}
    if "loads" in res:
        after = [l["report"]["after"] for l in res["loads"] if l["report"]]
        out["workload.load_cves_per_s"] = after[-1] / med(res["rounds_s"]) if after else 0.0
    if "cycles" in res:
        out["workload.refresh_ms"] = med(res["refresh_ms"])
        for kind, name in (("lookup", "lookup_ms"), ("range", "range_scan_ms"),
                           ("cpe", "cpe_search_ms")):
            ms = [r["ms"] for c in res["cycles"] for r in c["reads"] if r["kind"] == kind]
            out[f"workload.{name}"] = med(ms) if ms else 0.0
    if "queries" in res and len(res["ops_ms"]) >= 2:
        out["workload.query_p90_ms"] = statistics.quantiles(res["ops_ms"], n=10)[-1]
    return out


def metrics(res, trace, build_s):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {
        "setup_s": res["setup_end_ms"] / 1000.0 - START - build_s,
        "round_s": statistics.median(res["rounds_s"]),
        "op_gmean_ms": statistics.geometric_mean(res["ops_ms"]),
        "disk_mb": res["disk_bytes"] / 1e6,
    }
    # the traced run's end-to-end figures, for the tracing overhead
    log(f"end-to-end: {json.dumps(values)}")
    if trace:
        layers = dict(res.get("layers", {}), **workload_figures(res))
        return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in spec["per_layer"]}
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources at {ROOT} (build.sbt, src/main/scala)")
        return 2
    if a.workload == "query_suite" and not os.path.isdir(TESTDATA):
        log(f"no testdata at {TESTDATA}")
        return 2
    cp, build_s = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        extra = [] if a.workload.startswith("nvd_") else [
            "--sf", TESTDATA, "--queries", os.path.join(HERE, "query_suite.txt")]
        # the JVM starts its Spark session while the inputs are generated;
        # it waits for inputs/manifest.json before it reads them
        jvm = start_jvm(cp, a.workload, work, a.seconds, a.trace, extra)
        try:
            if a.workload.startswith("nvd_"):
                gen_nvd.generate(os.path.join(work, "inputs"), a.seed,
                                 serve=a.workload == "nvd_refresh_serve")
            log(f"inputs ready at {time.time() - START:.1f} s")
            # imported while the JVM runs: duckdb, pandas and pyarrow take
            # about a second to import
            import check
        except BaseException:
            kill(jvm)
            raise
        res = wait_jvm(jvm, work)
        log(f"workload done at {time.time() - START:.1f} s; rounds {res['rounds_s']}; "
            f"operations (ms) {[round(x) for x in res['ops_ms']]}")
        if "refresh_ms" in res:
            log(f"refreshes (ms) {[round(x) for x in res['refresh_ms']]}")
        # an operation that threw makes the run incorrect
        problems = [f"operation failed: {e}" for e in res["errors"]]
        problems += check.check(a.workload, work, res, TESTDATA)
        log(f"checks done at {time.time() - START:.1f} s")
        if a.self_test:
            problems += check.self_test(a.workload, work, res, TESTDATA)
        for p in problems:
            log(f"CHECK FAILED: {p}")
        if a.trace:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(out, f"trace-{a.workload}-s{a.seed}.json"))
        result = {"correct": not problems, "attempted": res["attempted"],
                  "failed": res["failed"], "metrics": metrics(res, a.trace, build_s)}
        print(json.dumps(result), flush=True)
        return 0 if not problems else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
