#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the harness (perfbench/build.sbt,
which compiles the engine from ../src) into .bench_build when the sources
changed, runs one workload in a fresh JVM, and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans of the run are
written to .bench_build/traces/ (a traced cdc_stream run states its
tracing overhead against a kept untraced run of the same build and length,
and first makes one if none was kept). The line before it stamps the run
conditions. Exit code is non-zero, with no result line, when the program
cannot be built or run.
"""
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.1")
EXPECTED = os.path.join(BENCH, "expected", "fingerprints.json")
WORKLOADS = ["query_mix", "cdc_stream"]
# Sources the harness compiles; their digest keys the build.
SOURCES = [os.path.join(ROOT, "src", "main"),
           os.path.join(ROOT, "src", "test", "scala", "graft", "KafkaBrokerStub.scala"),
           os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, stdout):
    """Run cmd in its own process group; kill the group past limit_s."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile the harness and the engine once per source digest; returns
    the runtime classpath and the digest."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().split("\n"), digest
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the harness")
    log("building the harness and the engine (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "exportClasspath"],
                     BENCH, 840, sys.stderr)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().split("\n"), digest


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return max(2, min(4, kb // 2 // 1048576))
    except (OSError, StopIteration, ValueError):
        return 2


def launch(classpath, main_args, work, limit_s=RUN_LIMIT_S, main="perfbench.Main"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap()}g", f"-Xmx{heap()}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", ":".join(classpath), main] + main_args
    return run_bounded(cmd, work, limit_s, sys.stderr)


def catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def metrics_of(spec, values):
    """The named metrics with their units; exits 3 if any is missing or
    not a finite number."""
    out = {}
    for m in spec:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured: {v}", 3)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def measure(classpath, a, trace, deadline):
    """One run of the harness in a fresh JVM; returns its result record."""
    tag = f"{a.workload}-{a.seed}-{'traced' if trace == '1' else 'plain'}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(traces, f"{tag}.json")
    os.makedirs(work, exist_ok=True)
    limit = deadline - time.monotonic()
    try:
        rc = launch(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", trace,
                                "--data", DATA, "--work", work, "--out", out,
                                "--spans", spans, "--expected", EXPECTED,
                                "--tiny", "1" if a.tiny else "0"], work, limit)
        if rc != 0 or not os.path.exists(out):
            fail(f"harness failed (exit {rc})" if rc is not None
                 else f"harness exceeded {limit:.0f} s and was stopped")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["conditions"]["spans_file"] = os.path.relpath(spans, ROOT) if trace == "1" else None
    return res


def kept_base(records, own, key):
    """End-to-end metrics of a kept untraced run whose key matches `key` in
    everything but the seed: the run of the same seed if kept, else the
    newest; None if there is none."""
    def same(path):
        try:
            with open(path) as fh:
                kept = json.load(fh)
        except (OSError, ValueError):
            return None
        k = dict(kept.get("key", {}), seed=key["seed"])
        return kept["end_to_end"] if k == key else None
    paths = sorted((os.path.join(records, f) for f in os.listdir(records)),
                   key=lambda p: (p != own, -os.path.getmtime(p)))
    return next((b for b in map(same, paths) if b is not None), None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--tiny", action="store_true",
                    help="a few queries / events only (the benchmark's own tests)")
    a = ap.parse_args()

    for need in [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(ROOT, "src", "test", "scala", "graft", "KafkaBrokerStub.scala"),
                 os.path.join(DATA, "lineitem.parquet"), os.path.join(ROOT, "BENCHMARK.json")]:
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")
    e2e_spec, layer_spec = catalogue()

    classpath, digest = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    res = measure(classpath, a, a.trace, deadline)

    # The untraced result of this build, workload, seed, length and size
    # is kept as the base for the stream's tracing overhead.
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, f"{a.workload}-{a.seed}.json")
    key = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "tiny": a.tiny,
           "source_sha256": digest}

    def keep(e2e):
        with open(record, "w") as fh:
            json.dump({"key": key, "end_to_end": e2e}, fh)

    e2e, layers = res["end_to_end"], res["per_layer"]
    if a.trace == "0":
        keep(e2e)
        spec, values = e2e_spec, e2e
    else:
        # The cdc stream cannot alternate traced and untraced passes in one
        # run; its tracing overhead is the change of its event-to-commit
        # latency against a kept untraced run of the same build, workload,
        # length and size (of the same seed if there is one), made here
        # first if none was kept.
        if "trace.overhead_pct" not in layers:
            base = kept_base(records, record, key)
            if base is None:
                log("no untraced run of this build and length is kept; making one")
                base = measure(classpath, a, "0", deadline)["end_to_end"]
                keep(base)
                res["conditions"]["trace_overhead_base"] = "untraced run made by this run"
            else:
                res["conditions"]["trace_overhead_base"] = "kept untraced run"
            layers["trace.overhead_pct"] = (e2e["latency_ms"] / base["latency_ms"] - 1) * 100
        spec, values = layer_spec, layers
    metrics = metrics_of(spec, values)

    cond = dict(res["conditions"])
    cond.update({"seed": a.seed, "source_sha256": digest, "failures": res["failures"]})
    print(json.dumps({"run_conditions": cond}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
