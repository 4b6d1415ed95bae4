#!/usr/bin/env python3
"""Benchmark of the graft ALS and dedup library.

Usage (from the repository root):

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      One run: builds the program and the benchmark if their sources changed,
      then runs one JVM. Per-pass fingerprints are printed as JSON lines; the
      last line is the result.
  python3 perfbench/run.py repeat --runs <n> [--workload <name> ...] [--trace <0|1>]
      Runs each workload n times on seeds 1 .. n, each run as long as
      BENCHMARK.json's run_seconds, and prints the median and interquartile
      range of every metric.
  python3 perfbench/run.py smoke
      Every workload and every check, traced, on tiny inputs in one JVM.

Build outputs, traces and Spark scratch go to $CARGO_TARGET_DIR if it is set,
else to .bench_build, both relative to the repository root.
"""

import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ["als_explicit", "als_serve", "dedup_near_dups"]
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 170
# The program's own --add-opens list is added from its build (see build()).
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads from the repository."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            paths += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group dies."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles the program and the benchmark; returns the JVM argument file.

    The argument file names copies of the compiled class directories kept
    under the work directory, next to the digest of the sources they were
    compiled from, so that a later compile of other sources into the
    repository's own target directories cannot change what a run executes.
    """
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    args_file = os.path.join(WORK, "jvm.args")
    stamp_file = os.path.join(WORK, "jvm.args.stamp")
    digest = sources_digest()
    if os.path.isfile(args_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                return args_file
    log("building the program and the benchmark")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        code, _ = run_group(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "perfbench/compile", "perfbench/writeJvmOptions", "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT, cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(os.path.join(WORK, "build.log")) as f:
        lines = f.read().splitlines()
    if code != 0:
        log("build failed (exit %s); last lines of %s:" % (code, os.path.join(WORK, "build.log")))
        for line in lines[-25:]:
            print(line, file=sys.stderr)
        sys.exit(1)
    cp = [l for l in lines if l.endswith(".jar") or "/classes" in l]
    if not cp:
        log("the build printed no classpath")
        sys.exit(1)
    classes = os.path.join(WORK, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for entry in cp[-1].strip().split(os.pathsep):
        if os.path.isdir(entry):
            copy = os.path.join(classes, str(len(entries)))
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    with open(os.path.join(HERE, "target", "jvm-options.txt")) as f:
        options = f.read()
    with open(args_file, "w") as f:
        f.write(options + "-cp " + os.pathsep.join(entries) + "\n")
    with open(stamp_file, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return args_file


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args_file, args, echo=True):
    """Runs one benchmark JVM; returns (result dict or None, exit code, the
    timed passes' fingerprints). Without echo, the pass lines go to a log
    under the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", f"@{args_file}", "perfbench.Main"] + args + [
        "--cores", str(cores()), "--work", WORK]
    code, out = run_group(cmd, RUN_TIMEOUT, cwd=ROOT, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if code is None:
        log(f"the run did not finish within {RUN_TIMEOUT} s")
        return None, 1, []
    result, passes = None, []
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
            continue
        if line.startswith('{"workload"'):
            fp = json.loads(line)
            if not fp["warmup"]:
                passes.append(fp)
        if echo:
            print(line, flush=True)
    if not echo:
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        name = "-".join(args[i + 1] for i in range(0, len(args), 2) if args[i] != "--seconds")
        with open(os.path.join(WORK, "runs", name.replace("/", "_") + ".log"), "w") as f:
            f.write(out)
    return result, code, passes


def one(argv):
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args(argv)
    args_file = build()
    result, code, _ = run_jvm(args_file, ["--workload", a.workload, "--seed", str(a.seed),
                                          "--seconds", str(a.seconds), "--trace", str(a.trace)])
    if result is None:
        log(f"no result (exit {code})")
        return 1
    print(json.dumps(result), flush=True)
    return code


def repeat(argv):
    import argparse
    ap = argparse.ArgumentParser(prog="run.py repeat")
    ap.add_argument("--runs", type=int, default=10)
    # mllib_explicit: MLlib's ALS on the als_explicit input, for reference
    ap.add_argument("--workload", action="append", choices=WORKLOADS + ["mllib_explicit"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    args_file = build()
    status = 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [w["name"] for w in spec["workloads"]]
    for w in a.workload or listed:
        values, fails, steal = {}, [], []
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            result, code, passes = run_jvm(args_file, ["--workload", w, "--seed", str(seed),
                                                       "--seconds", str(spec["run_seconds"]),
                                                       "--trace", str(a.trace)],
                                           echo=False)
            if result is None or code != 0 or not result["correct"]:
                log(f"{w} seed {seed}: failed (exit {code})")
                status = 1
                continue
            fails.append(result["failed"] / result["attempted"])
            # the host's CPU steal during the timed passes, to tell a slow
            # program from a busy host when two sets of runs disagree
            steal.append(statistics.median(p["steal_share"] for p in passes))
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            log(f"{w} seed {seed} ({time.time() - t0:.0f} s, steal {steal[-1]:.3f}): " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()))
        print(f"{w}: {len(fails)} runs, failed share per run {sorted(set(fails))}, "
              f"median steal share {statistics.median(steal) if steal else float('nan'):.3f}")
        for k, vs in values.items():
            vs = [v for v in vs if v is not None]
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
            iqr = q[2] - q[0]
            print(f"  {k:40s} median {med:.6g}  iqr {iqr:.4g}  iqr/median "
                  f"{iqr / med if med else float('nan'):.4f}")
    return status


def smoke(argv):
    args_file = build()
    result, code, _ = run_jvm(args_file, ["--workload", "all", "--seed", "1", "--seconds", "0",
                                          "--trace", "1", "--tiny"])
    if result is None:
        log(f"no result (exit {code})")
        return 1
    print(json.dumps(result), flush=True)
    return 0 if code == 0 and result["correct"] and result["failed"] == 0 else 1


def main():
    argv = sys.argv[1:]
    if argv and argv[0] == "repeat":
        return repeat(argv[1:])
    if argv and argv[0] == "smoke":
        return smoke(argv[1:])
    return one(argv)


if __name__ == "__main__":
    sys.exit(main())
