#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream_catchup --seed 42 \
        --seconds 10 --trace 0

Workloads: stream_catchup and batch_corpus (see README.md).
Extra options: --scale tiny (sf0.001, about 20k events; used by the smoke
test), --write-goldens (record batch digests instead of checking them) and
--read-rate (stream_catchup dashboard reads per second, default 10).

The first run in a checkout compiles the engine from src/main/scala with
the harness in perfbench/ (sbt, offline) and generates the batch fixture
with tools/gen_sf_fixtures.py; both are cached under .bench_build/.
The harness writes the full record, with the launch stamp and, when traced,
the spans, to .bench_build/records/. The last line of stdout is one JSON
object with the keys correct, attempted, failed and metrics: the metrics
BENCHMARK.json names, end-to-end ones untraced and per-layer ones traced,
valued from that record.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
SCALES = {"default": "0.01", "tiny": "0.001"}
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def load_avg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_files():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
            "perfbench/build.sbt"]
    return sorted(p for pat in pats
                  for p in glob.glob(os.path.join(ROOT, pat), recursive=True))


def tree_hash(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(src_hash):
    """Compile engine + harness once per source tree; return the classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.version=1.10.0", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=780)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l.strip() for l in lines
           if ".bench_build" in l and "classes" in l and ".jar" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log in {log})", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(src_hash)
    return cps[-1]


def fixtures(scale):
    """Batch fixture tables, generated once per checkout by the repo's own
    generator (fixed seed, so the goldens hold for every run)."""
    sf = SCALES[scale]
    out = os.path.join(BUILD, "fixtures", f"sf{sf}")
    if os.path.exists(os.path.join(out, "MANIFEST.json")):
        return out
    gen = os.path.join(ROOT, "tools", "gen_sf_fixtures.py")
    if not os.path.exists(gen):
        fail("tools/gen_sf_fixtures.py is missing")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    p = subprocess.run([sys.executable, gen, sf, tmp], stdout=subprocess.DEVNULL,
                       stderr=subprocess.PIPE, text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        fail("fixture generation failed", 3)
    os.replace(tmp, out)
    return out


def commit_id(src_hash):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if p.returncode == 0 and p.stdout.strip():
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"tree-sha256:{src_hash[:16]}"


def java_cmd(cp, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # C1 only: C2 keeps compiling Spark's paths for minutes, which a short
    # window would measure instead of the program (see README.md)
    # AlwaysPreTouch: the heap is resident from the start, so VmHWM is the
    # heap plus the native peak, not however many heap regions G1 happened
    # to touch in this run (that alone moved it by up to 450 MB)
    flags = ["-Xmx2g", "-Xms2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             "-XX:TieredStopAtLevel=1",
             "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
             # embedded Derby: detect lock cycles between concurrent upsert
             # transactions in 1 s, not 20 s, so the sink's retry resolves
             # them before the run's time budget
             "-Dderby.locks.deadlockTimeout=1", "-Dderby.locks.waitTimeout=10",
             # the engine keeps model and layout stores under java.io.tmpdir;
             # a per-run directory keeps them inside the checkout and
             # stops one run from reusing another's
             f"-Djava.io.tmpdir={tmp}"]
    for o in opens:
        flags += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    return ["java"] + flags + ["-cp", cp, "graftbench.Main"]


def add_trace_overhead(rec, workload, scale):
    """Traced minus untraced end-to-end medians, over this checkout's
    untraced records of the same workload, scale and source tree."""
    tree = rec["stamp"].get("source_hash")
    untraced = []
    for p in glob.glob(os.path.join(BUILD, "records", f"*-{workload}-*-t0.json")):
        try:
            with open(p) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if (r.get("scale") == scale and r.get("correct")
                and r.get("stamp", {}).get("source_hash") == tree):
            untraced.append(r["end_to_end"])
    if not untraced:
        rec["trace_overhead"] = ("no untraced record of this workload and source "
                                 "tree in this checkout")
        return
    over = {}
    for k, v in rec["end_to_end"].items():
        base = [u[k] for u in untraced if u.get(k) is not None]
        if v is not None and base and statistics.median(base):
            m = statistics.median(base)
            over[k] = {"traced": v, "untraced_median": m, "share": (v - m) / m}
    rec["trace_overhead"] = {"untraced_runs": len(untraced), "metrics": over}


def result_line(rec, trace):
    """The printed result: the metrics BENCHMARK.json names, valued from
    the record. A per-layer metric the workload does not exercise is 0 and
    is listed in the record's `not_measured`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if trace:
        wanted, values = spec["per_layer"], rec.get("per_layer", {})
    else:
        wanted, values = spec["end_to_end"], rec.get("end_to_end", {})
    metrics, absent = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} missing from the record", 1)
            absent.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    rec["not_measured"] = absent
    return {"correct": rec["correct"], "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["stream_catchup", "batch_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=sorted(SCALES), default="default")
    ap.add_argument("--write-goldens", action="store_true")
    ap.add_argument("--read-rate", type=float, default=10.0,
                    help="stream_catchup dashboard reads per second")
    a = ap.parse_args()

    load = load_avg()  # before anything this run starts
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) in the working directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must point at a Spark installation")

    src_hash = tree_hash(source_files())
    cp = build(src_hash)
    fx = fixtures(a.scale) if a.workload == "batch_corpus" else ""

    nproc = len(os.sched_getaffinity(0))
    stamp = {"commit": commit_id(src_hash), "source_hash": src_hash,
             "seed": a.seed, "nproc": nproc,
             "load_before": {"1m": load[0], "5m": load[1], "15m": load[2]},
             "citable": load[0] < 2.0,
             "launched": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    records = os.path.join(BUILD, "records")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    record = os.path.join(records, time.strftime("%Y%m%dT%H%M%S") +
                          f"-{a.workload}-s{a.seed}-{a.scale}-t{a.trace}.json")
    cmd = java_cmd(cp, os.path.join(work, "tmp")) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scale", a.scale, "--fixtures", fx, "--work", work,
        "--goldens", os.path.join(BENCH, "goldens"), "--record", record,
        "--stamp", json.dumps(stamp),
        "--write-goldens", "1" if a.write_goldens else "0",
        "--read-rate", str(a.read_rate)]

    budget = max(30, RUN_LIMIT_S - (time.time() - T_START))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {budget:.0f} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    for line in out.splitlines():
        if line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(record):
        fail(f"harness exited with {proc.returncode} and no record", 1)
    with open(record) as f:
        rec = json.load(f)
    result = result_line(rec, a.trace)
    if a.trace == 1:
        add_trace_overhead(rec, a.workload, a.scale)
    with open(record, "w") as f:
        json.dump(rec, f)
    print(f"[perfbench] record: {os.path.relpath(record, ROOT)}", file=sys.stderr)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
