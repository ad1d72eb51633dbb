#!/usr/bin/env python3
"""Benchmark entry point for the graft consume engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark from source with sbt (offline; only
when a source changed since the last build), makes the seeded inputs in a
separate generator process (cached per seed and generator version under
perfbench/.cache), runs one benchmark JVM on them, relays its report and
prints one JSON result line last. Everything it writes stays under
perfbench/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
# the generator's answer per seed, valid for as long as the build is
MEMO = os.path.join(BUILD, "inputs")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
KEEP_SEEDS = 12


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles with sbt when the sources changed; returns the launch file lines."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} beside the benchmark: run from the root of a full checkout", 2)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(launch).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    shutil.rmtree(MEMO, ignore_errors=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(launch):
        tail = open(log_path).read()[-3000:]
        fail(f"build failed (exit {code}):\n{tail}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(launch).read().splitlines()


CHILD = []


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group past limit_s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILD.append(p)
    try:
        return p.wait(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        CHILD.remove(p)


def on_signal(signum, _frame):
    """Stopped from outside: stop the child's process group and wait for it."""
    for p in list(CHILD):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    raise SystemExit(128 + signum)


def heap():
    """Benchmark JVM heap from MemTotal: a quarter of it, between 2 and 4 GiB. The
    heap and its young generation are fixed in size, so the resident set
    follows the program's memory, not the collector's resizing."""
    kb = 8 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    mb = 1024 * min(4, max(2, kb // (4 << 20)))
    return [f"-Xms{mb}m", f"-Xmx{mb}m", f"-Xmn{mb // 4}m"]


def inputs(jvm_opts, cp, seed):
    """The seed's input directory. The generator returns at once when the
    cache holds it, else makes it; then the cache is cut to the most
    recently used seeds. Its answer is kept until the next build, which
    saves a JVM start on every later run of the seed."""
    memo = os.path.join(MEMO, str(seed))
    if os.path.exists(memo):
        here = open(memo).read()
        if os.path.exists(os.path.join(here, "expect.json")):
            os.utime(here)
            return here
    os.makedirs(CACHE, exist_ok=True)
    out = os.path.join(CACHE, f".gen-{os.getpid()}.out")
    try:
        with open(out, "w") as fh:
            # the parquet writer lists each column's encodings from a hash set
            # of enum constants, in identity-hash order; a constant identity
            # hash makes that order, and so the files, the same in every run
            code = run_bounded(["java", "-Xmx2g"] + jvm_opts + ["-XX:+UnlockExperimentalVMOptions", "-XX:hashCode=2",
                                       "-cp", cp, "graft.perfbench.Gen", str(seed), CACHE],
                               RUN_LIMIT_S, stdout=fh)
        lines = open(out).read().split()
    finally:
        os.remove(out)
    if code != 0 or not lines or not os.path.isdir(lines[-1]):
        fail(f"input generator failed (exit {code})")
    here = lines[-1]
    os.utime(here)
    dirs = [os.path.join(CACHE, d) for d in os.listdir(CACHE) if not d.startswith(".")]
    dirs = sorted((d for d in dirs if os.path.isdir(d)), key=os.path.getmtime)
    for d in dirs[:max(0, len(dirs) - KEEP_SEEDS)]:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(MEMO, exist_ok=True)
    with open(memo, "w") as fh:
        fh.write(here)
    return here


def e2e_lines(args):
    """Runs this script with args; returns {metric: value} from its report lines."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__)] + args,
                       capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        fail(f"run {args} failed:\n{p.stderr[-2000:]}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = {m["name"] for m in spec["end_to_end"]}
    vals = {}
    for line in p.stdout.splitlines():
        f = line.split()
        if len(f) >= 2 and f[0] in names:
            vals[f[0]] = float(f[1])
    return vals


def overhead(a):
    """Tracing overhead: the same workload and seed untraced, then traced."""
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    off, on = e2e_lines(base + ["--trace", "0"]), e2e_lines(base + ["--trace", "1"])
    for k in off:
        d = on.get(k, float("nan")) - off[k]
        print(f"{k:16s} untraced {off[k]:14.3f} traced {on.get(k, float('nan')):14.3f} "
              f"overhead {d:+12.3f} ({d / off[k]:+.1%})")


def main():
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced, then traced, and print traced minus untraced per end-to-end metric")
    a = ap.parse_args()
    if a.overhead:
        return overhead(a)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the checkout root", 2)
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    launch = build()
    t_start = time.time()
    cp, jvm_opts = launch[0], [o for o in launch[1:] if o]
    cpus = len(os.sched_getaffinity(0))
    java = ["java"] + heap() + jvm_opts

    in_dir = inputs(jvm_opts, cp, a.seed)

    work = os.path.join(WORK, f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_path, err_path = os.path.join(work, "stdout"), os.path.join(work, "stderr")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_bounded(java + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
                                       "graft.perfbench.Main", "--workload", a.workload,
                                       "--seed", str(a.seed), "--seconds", str(a.seconds),
                                       "--trace", str(a.trace), "--inputs", in_dir, "--work", work,
                                       "--cpus", str(cpus)],
                               RUN_LIMIT_S - (time.time() - t_start),
                               cwd=ROOT, stdout=out, stderr=err)
        lines = open(out_path).read().splitlines()
        if code != 0 or not lines:
            sys.stderr.write(open(err_path).read()[-4000:])
            fail(f"benchmark JVM failed (exit {code})")
        result = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = result["metrics"]
    unknown = [m for m in got if m not in want]
    if unknown:
        fail(f"result has metrics BENCHMARK.json does not list: {unknown}")
    missing = [m for m in want if m not in got]
    if missing and not a.trace:
        fail(f"result lacks metrics {missing}")
    # a layer that does no work on this workload reads 0
    for m in missing:
        print(f"{m:44s} {0:>16} {want[m]:10s} (n=0, no work on this workload)")
    result["metrics"] = {m: got.get(m, {"value": 0, "unit": want[m]}) for m in want}
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
