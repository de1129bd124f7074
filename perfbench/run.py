#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload light|pipeline|serve --seed N \
        --seconds S --trace 0|1 [--record results.jsonl]

Builds the benchmark (an sbt build in this directory that compiles the
graft sources next to it) when the sources changed since the last build,
generates the inputs, runs the workload in one JVM at local[4], checks
every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). Everything it writes stays under `.bench_build/` in the
repository root. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
VERDICTS = os.path.join(BUILD, "oracle_matches.json")
sys.path.insert(0, HERE)
import datagen  # noqa: E402

SCALE = 0.1        # measured inputs (sf0.1: 600k lineitem, 2000x64 embeddings)
WARM_SCALE = 0.001  # JIT/codegen warm-up inputs
RUN_LIMIT_S = 175   # a run that hangs is stopped and reported as failed
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
END_TO_END = ["p50_ms", "p95_ms", "ops_per_s", "wall_s", "write_p50_ms",
              "write_p90_ms", "recall_at_10", "atrest_mb", "live_heap_mb",
              "setup_s"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/src/main", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile via sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        cached = json.load(open(stamp_file))
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "export perfbench/Runtime/fullClasspath"]
    try:
        rc, out, err = run_group(cmd, BUILD_LIMIT_S, cwd=HERE, env=env,
                                 stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                 stdin=subprocess.DEVNULL, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail("build failed:\n" + out[-3000:] + err[-2000:])
    os.makedirs(BUILD, exist_ok=True)
    json.dump({"stamp": stamp, "classpath": lines[-1]}, open(stamp_file, "w"))
    return lines[-1]


def data_stamp():
    """Identity of the generated inputs: the generator and the scale."""
    return hashlib.sha256(open(datagen.__file__, "rb").read() +
                          f"{SCALE}".encode()).hexdigest()


def oracle_failures(data_dir, check_dir, checked):
    """Compare each checked result with its DuckDB oracle through the
    repository's gate (tools/gate.py: typed compare, SKIP_RUN mode).

    A verdict is remembered in `.bench_build/oracle_matches.json` under
    the query, its oracle SQL, the hash of the Spark result and the
    input generator: the same result against the same oracle over the
    same inputs cannot change verdict, so only new results are replayed
    (and the JVM writes result files only for those). Mismatches are
    never remembered. Returns the mismatching names and the gate's
    report."""
    sql = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    key = {n: hashlib.sha256("\0".join([n, sql.get(n, ""), c["hash"], data_stamp()])
                             .encode()).hexdigest() for n, c in checked.items()}
    cache = json.load(open(VERDICTS)) if os.path.exists(VERDICTS) else {}
    todo = sorted(n for n in checked if key[n] not in cache)
    if not todo:
        return [], ""
    env = dict(os.environ, SKIP_RUN="1", QUERIES=",".join(todo))
    try:
        _, out, err = run_group([sys.executable, os.path.join(ROOT, "tools", "gate.py"),
                                 data_dir, check_dir], 600, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        return todo, "the oracle gate timed out"
    ok = {l.split()[1] for l in out.splitlines() if l.strip().startswith("OK ")}
    cache.update({key[n]: True for n in todo if n in ok})
    json.dump(cache, open(VERDICTS, "w"))
    return [n for n in todo if n not in ok], out + err


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["light", "pipeline", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="append the result, with workload, seed and "
                    "trace, to this JSON-lines file (input of perfbench/compare.py)")
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "tools/gate.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft checkout around the benchmark: {need} is missing")
    cp = classpath()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    started = time.time()
    data, warm = os.path.join(run_dir, "sf0.1"), os.path.join(run_dir, "sf0.001")
    if a.workload == "serve":
        # serve reads only the embeddings; traced runs also probe the
        # text kernels and the event-stream harnesses
        datagen.write(data, SCALE, names={"embeddings"} | (
            {"documents", "events"} if a.trace else set()))
    else:
        datagen.write(data, SCALE)
        datagen.write(warm, WARM_SCALE)
    datagen_s = time.time() - started

    out_dir = os.path.join(run_dir, "out")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--warm", warm, "--out", out_dir,
            "--verified", VERDICTS, "--data-stamp", data_stamp()])
    launched_ms = time.time() * 1000
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc, _, _ = run_group(cmd, RUN_LIMIT_S - (time.time() - started), cwd=ROOT,
                                 stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"workload JVM exited with {rc}; log tail:\n" + open(log_path).read()[-3000:])
    res = json.load(open(result_path))

    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    if a.workload != "serve":
        bad, report = oracle_failures(data, os.path.join(out_dir, "check"), res["checked"])
        # a mismatching query returned the same wrong rows on every
        # repetition (each hashes equal to its checked run)
        failed += sum(res["checked"][n]["ops"] for n in bad)
        errors += [f"{n}: oracle mismatch" for n in bad]
        if bad:
            print(report[-3000:])
    correct = failed == 0 and res["setup_failed"] == 0 and attempted > 0

    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["metrics"].items()}
    if a.trace == 0:
        metrics["setup_s"] = {"value": datagen_s + (res["setup_end_ms"] - launched_ms) / 1000,
                              "unit": "s"}
        metrics = {k: metrics[k] for k in END_TO_END}
    else:
        metrics = {k: v for k, v in metrics.items() if k not in END_TO_END}
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(out_dir, "trace.jsonl"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    for e in errors[:10]:
        print(f"error: {e}")
    print(f"{a.workload} seed={a.seed}: attempted={attempted} failed={failed} "
          f"failed_frac={failed / max(1, attempted):.4f}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    if not os.environ.get("PERFBENCH_KEEP"):
        shutil.rmtree(run_dir, ignore_errors=True)
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(dict(workload=a.workload, seed=a.seed, trace=a.trace,
                                    **result)) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
