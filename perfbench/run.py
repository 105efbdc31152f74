#!/usr/bin/env python3
"""Run one benchmark workload against the engine checked out around this
directory.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (`perfbench/build.sbt`); later runs reuse the build while
no source is newer than it. Each run starts a fresh JVM with its own
warehouse, Spark local and temp directories under `perfbench/work/`, which
are deleted when the run ends. The last stdout line is the run's JSON
result; a traced run also keeps its spans in `perfbench/out/`.

Exit status: 0 for a correct run, 1 for a failed correctness check, a
failed run or metrics other than the ones `BENCHMARK.json` lists, 2 for a
checkout the benchmark cannot build.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("cdc_catchup", "catalog")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
            continue
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_group(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    interruption and always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def classpath(root, bench):
    """Builds when a source is newer than the recorded classpath."""
    stamp = os.path.join(bench, "target", "perfbench-classpath.txt")
    sources = [os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
               os.path.join(bench, "src"), os.path.join(bench, "build.sbt")]
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_mtime(sources):
        return open(stamp).read().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          bench, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    own = os.path.join(bench, "target", "scala-2.13", "classes")
    if code != 0 or not lines or own not in lines[-1].split(os.pathsep):
        sys.stderr.write(out[-4000:])
        log(f"build failed (exit {code})")
        sys.exit(2)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1] + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def manifest_metrics(root, trace):
    """Metric names the manifest (`BENCHMARK.json`) asks of a run."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        m = json.load(f)
    return {x["name"] for x in m["per_layer" if trace == "1" else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            log(f"{need} not found: run from the root of a full checkout of the engine")
            sys.exit(2)

    cp = classpath(root, bench)
    work = os.path.join(bench, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 ** 30
    heap = max(2, min(6, int(mem_gb / 3)))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(bench, 'conf', 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", root, "--work", work, "--cpus", str(cpus)])
    try:
        code, out = run_group(cmd, root, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
        lines = [l for l in out.splitlines() if l.strip()]
        result = None
        if code == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if result is None:
            sys.stderr.write(out[-4000:])
            log(f"workload run failed (exit {code})")
            sys.exit(1)
        want = manifest_metrics(root, a.trace)
        if result["correct"] and set(result["metrics"]) != want:
            log(f"metrics differ from BENCHMARK.json: missing {sorted(want - set(result['metrics']))}, "
                f"extra {sorted(set(result['metrics']) - want)}")
            sys.exit(1)
        if a.trace == "1":
            spans = os.path.join(work, "spans.jsonl")
            out_dir = os.path.join(bench, "out")
            os.makedirs(out_dir, exist_ok=True)
            kept = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.move(spans, kept)
            log(f"spans: {kept}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
