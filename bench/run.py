#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

Usage (from the root of a checkout):
    python3 bench/run.py --workload <cdc_stream|cdc_batch|pipeline_batch>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library together with the benchmark (sbt, offline, output
under $CARGO_TARGET_DIR or .bench_build), generates the input tables
once, then runs the workload in a fresh JVM sized to the machine's
cores. The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
the line before it carries the run metadata. Exits non-zero when any
output is wrong, a query fails or the build is impossible.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in sorted(os.walk(d)):
            subdirs[:] = sorted(s for s in subdirs
                                if s not in ("target", "project") or base != BENCH)
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".py", ".properties")):
                    p = os.path.join(base, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    env["GRAFTBENCH_TARGET"] = os.path.join(BUILD, "sbt")
    return env


def build():
    """Compiles library + benchmark once per source tree; returns the
    runtime classpath."""
    stamp = tree_hash(LIB_SRC, BENCH)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip(), stamp
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800)
        lines = open(log).read().splitlines()
        cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
        if rc != 0 or not cp:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("build failed")
        with open(cp_file, "w") as fh:
            fh.write(cp[-1].strip())
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return cp[-1].strip(), stamp


def data():
    """Input tables, generated once per generator version."""
    gen = os.path.join(BENCH, "gen.py")
    with open(gen, "rb") as fh:
        out = os.path.join(BUILD, "data", hashlib.sha256(fh.read()).hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "done")):
        subprocess.check_call([sys.executable, gen, out])
        open(os.path.join(out, "done"), "w").close()
    return out


def heap():
    """Half of physical memory, between 2 and 4 GiB."""
    kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return max(2, min(4, kb // (2 * 1024 * 1024)))


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_stream", "cdc_batch", "pipeline_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="write bench/golden.json from this run instead of checking it")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no library sources under {LIB_SRC}: run from the root of a graft checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    load_start = loadavg()
    classpath, source_id = build()
    data_dir = data()
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap()}g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--work", work, "--result", result_file,
              "--golden", os.path.join(BENCH, "golden.json"), "--cores", str(cores)]
           + (["--record-golden"] if args.record_golden else []))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    res = json.load(open(result_file))

    meta = dict(res.get("meta", {}))
    meta.update(git_commit=git_commit(), source_id=source_id,
                loadavg_start=load_start, loadavg_end=loadavg(),
                errors=res.get("errors", []))
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    if args.trace and os.path.exists(os.path.join(work, "trace.json")):
        meta["trace_file"] = os.path.join(keep, stem + ".trace.json")
        shutil.move(os.path.join(work, "trace.json"), meta["trace_file"])

    metrics = res["metrics"]
    missing = [m for m, unit in want.items()
               if m not in metrics or metrics[m]["value"] is None or metrics[m]["unit"] != unit]
    out = {"correct": bool(res["correct"]) and not missing,
           "attempted": int(res["attempted"]), "failed": int(res["failed"]),
           "metrics": {m: metrics[m] for m in want if m in metrics}}
    if missing:
        meta["errors"].append(f"metrics not measured, or not in BENCHMARK.json's unit: {missing}")
    with open(os.path.join(keep, stem + ".json"), "w") as fh:
        json.dump({"meta": meta, **out, "all_metrics": metrics}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
