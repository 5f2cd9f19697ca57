#!/usr/bin/env python3
"""Benchmark of the Lambda pipeline: the serving and ingest workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serving --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source (once per source
version, into .bench_build/), generates the input tables (once, pinned by
perfbench/manifest.json), runs one workload in a fresh JVM and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it carries the run's environment and
sample counts. See perfbench/NOTES.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SF = 0.1  # scale factor of the input tables
HEAP = "4g"
DEADLINE_S = 170  # for the JVM; a first run also builds, which may take minutes
WORKLOADS = ("serving", "ingest")
SINKS = ("insert_if_absent", "upsert_last_wins", "rollup", "golden_record",
         "quality_monitor", "trending", "ewma", "hll_distinct")
INGEST_BATCH_ROWS = 1000
INGEST_ROWS = 8000  # rows the ingest stream replays: 3 cold and 5 timed batches
EVENTS_ROWS = 100_000  # rows of `events` at SF
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the root."""
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles the program and the harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == digest:
            return got["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=800)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed, see {log}", 1)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def file_sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def tables():
    """Generates the input tables once and refuses to run on any file
    whose size or digest differs from the manifest."""
    data = os.path.join(BUILD, "data", f"sf{SF}")
    with open(os.path.join(HERE, "manifest.json")) as f:
        manifest = json.load(f)[f"sf{SF}"]
    if not all(os.path.exists(os.path.join(data, n)) for n in manifest):
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), data,
                        "--sf", str(SF)], check=True, timeout=300)
    for name, want in manifest.items():
        p = os.path.join(data, name)
        if os.path.getsize(p) != want["bytes"] or file_sha256(p) != want["sha256"]:
            fail(f"input table {p} differs from perfbench/manifest.json; refusing to run", 3)
    return data


def stream_start(seed):
    """The first `event_id` the ingest stream replays: the seed picks which
    stretch of `events` arrives, the batch size stays fixed."""
    return random.Random(seed).randrange(0, EVENTS_ROWS - INGEST_ROWS)


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, args, work, budget):
    log = os.path.join(work, "jvm.log")
    # no hsperfdata file: the run writes nothing outside its directory
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
           "-cp", classpath, "lambdabench.LambdaBench", *args]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM ended with {rc}:\n{tail}", 1)


def tail(xs):
    """The highest whole percentile of xs with at least ten samples beyond
    it, as (percentile, value), or None when there are too few samples."""
    q = int(100 * (1 - 10 / len(xs))) if len(xs) >= 20 else 0
    if q < 50:
        return None
    return q, statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(rep):
    return {
        "setup_s": (statistics.median(rep["setup_s"]), "s"),
        "latency_ms": (typical_op_ms(rep), "ms"),
        "heap_live_mb": (rep["heap_live_mb"], "MB"),
    }


def typical_op_ms(rep):
    """Serving: the mean over the pages of each page's median query time,
    so every page weighs the same and a burst of host load that hits a few
    queries stays out. Ingest: the median of the timed micro-batches."""
    if "sample_kind" not in rep:
        return statistics.median(rep["sample_ms"])
    by_page = {}
    for page, ms in zip(rep["sample_kind"], rep["sample_ms"]):
        by_page.setdefault(page, []).append(ms)
    return statistics.mean(statistics.median(v) for v in by_page.values())


def per_layer(rep):
    out = {n: (v, "ms" if n.endswith("_ms") or n.endswith(".ms") else
               "bytes" if n.endswith("_bytes") else "count")
           for n, v in rep["layers"].items()}
    sink_ms = rep.get("sink_ms", {})
    state = rep.get("state", {})
    for s in SINKS:
        out[f"sink.{s}.ms"] = (statistics.median(sink_ms[s]) if sink_ms.get(s) else 0.0, "ms")
        out[f"sink.{s}.state_files"] = (float(state.get(s, {}).get("files", 0)), "count")
        out[f"sink.{s}.state_bytes"] = (float(state.get(s, {}).get("bytes", 0)), "bytes")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a checkout of the program (src/main/scala is missing)")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        classpath = build(digest)
        data = tables()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "report.json")
    try:
        ticks0 = cpu_ticks()
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", data, "--work", work, "--out", out,
                            "--k", str(nproc), "--batch-rows", str(INGEST_BATCH_ROWS),
                            "--stream-rows", str(INGEST_ROWS),
                            "--stream-start", str(stream_start(a.seed))],
                work, DEADLINE_S)
        ticks1 = cpu_ticks()
        with open(out) as f:
            rep = json.load(f)
        if a.trace:
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = rep["attempted"], rep["failed"]
    if a.workload == "ingest":  # the harness compared every sink's state
        mismatches = [s for s in SINKS if not rep["sink_checks"].get(s)]
    else:  # every query's result digest against the recorded one
        mismatches = []
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        want = expected.get(a.workload)
        if not want:
            fail(f"perfbench/expected.json has no digests for {a.workload}")
        for q, d in want.items():
            if rep["digests"].get(q) != d:
                mismatches.append(q)
                if q in rep["digests"]:
                    failed += 1  # ran, but its output is wrong
    correct = failed == 0 and not mismatches

    metrics = per_layer(rep) if a.trace else end_to_end(rep)
    samples = rep["sample_ms"]
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": dict(rep["env"], nproc=nproc, sf_dir=os.path.relpath(data, ROOT),
                    source_sha256=digest, heap=HEAP),
        "samples": len(samples), "window_s": rep["window_s"],
        "tail_percentile_ms": tail(samples),
        "mismatches": mismatches, "errors": rep["errors"],
        "setup_runs_s": rep["setup_s"],
        "phase_end_s": rep["phase_end_s"],
        "sample_ms": samples,
        "cold_ms_by_kind": rep.get("cold_ms_by_kind"),
        "sample_kind": rep.get("sample_kind"),
        "cold_batch_ms": rep.get("cold_batch_ms"),
        "sink_ms": rep.get("sink_ms"),
        # share of the machine's CPU time taken by the hypervisor during
        # the run: a noisy-neighbour indicator, not a metric
        "cpu_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
    }
    if a.trace:
        detail["traced_end_to_end"] = {k: v for k, (v, _) in end_to_end(rep).items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
