#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload batch-floor --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (once per source state), prepares a fresh working
directory under perfbench/.work, launches one benchmark JVM directly
(java options from the engine build, no sbt on the measured path) and
prints, as its last line, one JSON object with the keys correct,
attempted, failed and metrics. The line before it carries the full
detail: environment stamp, per-route or per-entry figures and, for a
traced run, the tracing overhead against earlier untraced runs.

See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("batch-floor", "batch-heavy", "serve-mixed")
# Every workload reads the sf0.1 test tables.
SCALE = "sf0.1"
# Index roots the registry entries write under; the entries take them as
# defaults, so a run owns only the subdirectories named after its data dir.
INDEX_ROOTS = ("/tmp/graft_annindex", "/tmp/graft_sigindex")
# A run must end within 180 s; the first one in a checkout, which builds,
# within 900 s. The run's clock starts after the build.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def testdata():
    """The sf0.1 tables: under GRAFT_TESTDATA when it is set, else where
    TESTDATA.md, the project's record of its test data, says they are."""
    if os.environ.get("GRAFT_TESTDATA"):
        return os.path.join(os.environ["GRAFT_TESTDATA"], SCALE)
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*/%s)/?`" % re.escape(SCALE), f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def cpus():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Heap size, by the formula the tier-1 test command uses: half the
    host's memory in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def source_files():
    """Every file the build reads: the engine build and sources plus the
    harness build and sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src", "main"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint(mem):
    h = hashlib.sha256(f"mem={mem}\n".encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(mem):
    """Compiles with sbt unless the last build saw the same sources.
    Returns the JVM launch arguments and the source fingerprint."""
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp = launch + ".sha256"
    fp = fingerprint(mem)
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(launch).read().splitlines(), fp
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=mem)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                         HARNESS, env, out, BUILD_LIMIT_S)
    if code != 0 or not os.path.exists(launch):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(3, f"build failed (exit {code}); log in {log}")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(launch).read().splitlines(), fp


def run_group(cmd, cwd, env, out, limit):
    """Runs cmd in its own process group and waits; on timeout, or when
    it exits, whatever it left behind in the group is killed."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def sanitized(path):
    """The registry's index directory names: data dir with every character
    outside [A-Za-z0-9._-] replaced by '_'."""
    return re.sub(r"[^A-Za-z0-9._-]", "_", path)


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def clear_stale_runs():
    """Removes working dirs and index dirs of earlier runs in this checkout
    whose process is gone."""
    prefix = sanitized(os.path.join(WORK, "run-"))
    for root in INDEX_ROOTS:
        if os.path.isdir(root):
            for name in os.listdir(root):
                m = re.match(re.escape(prefix) + r"(\d+)_", name)
                if m and not alive(int(m.group(1))):
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    if os.path.isdir(WORK):
        for name in os.listdir(WORK):
            m = re.fullmatch(r"run-(\d+)", name)
            if m and not alive(int(m.group(1))):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def clear_indexes(data_dir):
    prefix = sanitized(data_dir)
    for root in INDEX_ROOTS:
        if os.path.isdir(root):
            for name in os.listdir(root):
                if name.startswith(prefix):
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals


def host_load():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    try:
        with open("/proc/pressure/cpu") as f:
            psi = f.read().strip().splitlines()
    except OSError:
        psi = None
    return {"loadavg": load, "cpu_pressure": psi}


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def manifest_metrics(traced):
    """(name, unit) of every metric BENCHMARK.json lists for this kind of
    run: per-layer ones for a traced run, end-to-end ones otherwise."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    return [(m["name"], m["unit"]) for m in manifest["per_layer" if traced else "end_to_end"]]


def overhead(workload, end_to_end, traced, correct, key):
    """Correct untraced runs append their end-to-end figures to a history
    file; a traced run reports its own figures relative to the median of
    those made with the same sources and --seconds (`key`)."""
    hist = os.path.join(WORK, "history", f"{workload}.jsonl")
    if not traced:
        if correct:
            os.makedirs(os.path.dirname(hist), exist_ok=True)
            with open(hist, "a") as f:
                f.write(json.dumps({"key": key, "metrics": {k: v["value"] for k, v in end_to_end.items()}}) + "\n")
        return None
    rows = []
    if os.path.exists(hist):
        with open(hist) as f:
            rows = [r["metrics"] for r in map(json.loads, filter(str.strip, f)) if r.get("key") == key]
    out = {"untraced_runs": len(rows)}
    for k, v in end_to_end.items():
        base = [r[k] for r in rows if k in r]
        if base and statistics.median(base) != 0:
            out[k] = v["value"] / statistics.median(base) - 1
    return out


def main():
    # a terminated run still reaches the cleanup in run_group and main
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(2, f"no engine sources next to the benchmark (looked in {ROOT})")
    source = testdata()
    if not source or not os.path.isdir(source):
        fail(2, f"{SCALE} test data not found ({source}); set GRAFT_TESTDATA to its root")

    mem = driver_mem()
    launch, source_sha = build(mem)
    if "-cp" not in launch:
        fail(3, "launch file has no classpath")
    t_start = time.time()

    clear_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data", SCALE)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    shutil.copytree(source, data_dir)
    clear_indexes(data_dir)
    stamp = "%s-%s-seed%d" % (args.workload, "traced" if args.trace else "untraced", args.seed)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tag = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    out = os.path.join(WORK, "results", f"{stamp}-{tag}.json")
    spans = os.path.join(WORK, "traces", f"{stamp}-{tag}.json")

    n = cpus()
    cp = launch.index("-cp")
    cmd = (["java"] + launch[:cp] + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + launch[cp:] + ["perfbench.Main",
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace),
                            "--data", data_dir, "--out", out, "--spans", spans,
                            "--digests", os.path.join(HERE, "digests.json")])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))

    before, cpu0 = host_load(), cpu_times()
    jvm_log = os.path.join(run_dir, "jvm.log")
    try:
        with open(jvm_log, "w") as log:
            code = run_group(cmd, ROOT, env, log, RUN_LIMIT_S - (time.time() - t_start))
        cpu1, after = cpu_times(), host_load()
        if code != 0 or not os.path.exists(out):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(4, "benchmark JVM " + ("timed out" if code is None else f"exited with {code}"))
    finally:
        clear_indexes(data_dir)
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(out) as f:
        res = json.load(f)
    wanted = manifest_metrics(args.trace == 1)
    got = [(k, v["unit"]) for k, v in res["metrics"].items()]
    if got != wanted:
        fail(5, f"the JVM reported metrics {got}; BENCHMARK.json lists {wanted}")
    correct = res["failed"] == 0 and res["attempted"] >= 1
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    steal = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) > 0 else None
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {"git_sha": git_sha(), "source_sha256": source_sha, "nproc": n,
                "xmx": next((o for o in launch if o.startswith("-Xmx")), None),
                "jdk": res["details"]["jvm"]["jdk"], "spark": res["details"]["jvm"]["spark"],
                "before": before, "after": after, "cpu_steal_share": steal},
        "errors": res["errors"],
        "end_to_end": res["end_to_end"],
        "tracing_overhead": overhead(args.workload, res["end_to_end"], args.trace == 1, correct,
                                     {"source_sha256": source_sha, "seconds": args.seconds}),
        "details": res["details"],
        "result_file": os.path.relpath(out, ROOT),
    }
    with open(out, "w") as f:
        json.dump(detail, f)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
