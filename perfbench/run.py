#!/usr/bin/env python3
"""Build the graft benchmark and run one workload.

    python3 perfbench/run.py --workload retail_warehouse --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --write-expected

Run from the repository root (or anywhere: paths resolve from this
file). The first run compiles the program and this package with sbt,
offline, into the sbt target directories and `.bench_build/`; later
runs reuse the build while no source file changed. After each build the
source tables and the stream's quality model are written once into
`.bench_build/input` (perfbench.Inputs), which every run reads. Each run
works in a fresh directory under `.bench_build/runs/`, deletes it when
done, and keeps a stamped record under `.bench_build/records/`, one file
per workload, cpu count, seed and trace flag. The last line printed is
the result as one JSON object.

`--write-expected` instead rewrites expected.tsv, the outputs a run is
checked against, from the program's batch path (perfbench.Twins); it
keeps the generated inputs in `.bench_build/twins/input`.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("retail_warehouse", "stream_ingest")
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's build and sources, and
    this package's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def run_group(cmd, cwd, env, timeout, stderr=None):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group (sbt and the JVMs it starts). Returns (stdout, exit
    code), or (None, None) on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=stderr, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out, proc.returncode
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def build():
    """Compile with sbt when a source changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark (looked in {ROOT})")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as c:
                    cp = c.read().strip()
                # a cleaned target directory needs a rebuild too
                if all(os.path.exists(e) for e in cp.split(os.pathsep)):
                    return cp, stamp
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx3g"))
    t0 = time.time()
    out, code = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], BENCH, env, 840, sys.stderr)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write((out or "")[-4000:])
        fail("sbt build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1], stamp


def driver_heap():
    """Half the machine's memory, clamped to 2..8 GiB (the formula of the
    repository's test command)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, all cpus, in seconds:
    its growth over a run shows a contended host."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def java(classpath, heap, run_dir, main_class, args):
    """The JVM command of one of this package's entry points."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
               "-cp", classpath, main_class] + args)


def run_env(run_dir):
    # the session must be the stamped one, and Spark scratch stays in the run
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    return env


def fresh_dir(run_dir):
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))


def inputs(classpath, stamp, cores, heap):
    """The source tables every run reads (perfbench.Inputs), written once
    per build into `.bench_build/input`; returns the directory."""
    target = os.path.join(BUILD, "input")
    stamp_file = os.path.join(BUILD, "input.sha256")
    if os.path.isfile(stamp_file) and os.path.isdir(target):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return target
    run_dir = os.path.join(BUILD, "runs", f"inputs-{os.getpid()}")
    fresh_dir(run_dir)
    tmp = os.path.join(run_dir, "input")
    _, code = run_group(
        java(classpath, heap, run_dir, "perfbench.Inputs",
             ["--dir", tmp, "--run-dir", run_dir, "--cores", str(cores)]),
        run_dir, run_env(run_dir), RUN_LIMIT_S, sys.stderr)
    if code != 0:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"writing the inputs failed (exit {code})", 1)
    shutil.rmtree(target, ignore_errors=True)
    os.replace(tmp, target)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return target


def write_expected(classpath, cores, heap):
    """Rewrite expected.tsv from the batch path (perfbench.Twins)."""
    run_dir = os.path.join(BUILD, "twins")
    fresh_dir(run_dir)
    out, code = run_group(
        java(classpath, heap, run_dir, "perfbench.Twins",
             ["--run-dir", run_dir, "--bench-dir", BENCH, "--cores", str(cores)]),
        run_dir, run_env(run_dir), 600, sys.stderr)
    if code != 0:
        fail(f"writing expected.tsv failed (exit {code})", 1)
    print(f"wrote {os.path.join(BENCH, 'expected.tsv')}; "
          f"inputs kept in {os.path.join(run_dir, 'input')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="rewrite expected.tsv from the batch path instead of running")
    a = ap.parse_args()
    if not a.write_expected and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    classpath, stamp = build()
    cores = len(os.sched_getaffinity(0))
    heap = driver_heap()
    if a.write_expected:
        write_expected(classpath, cores, heap)
        return
    source = inputs(classpath, stamp, cores, heap)
    started = time.time()
    steal0 = steal_s()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    fresh_dir(run_dir)
    stamps = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cores, "master": f"local[{cores}]",
        "shuffle_partitions": cores, "driver_heap": heap,
        "loadavg_before": loadavg(), "git_commit": git_commit(),
        "source_sha256": stamp,
        "started_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
    }
    cmd = java(classpath, heap, run_dir, "perfbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--run-dir", run_dir, "--bench-dir", BENCH, "--input", source,
                "--cores", str(cores)])
    out, code = run_group(cmd, run_dir, run_env(run_dir), RUN_LIMIT_S)
    shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict):
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {code})", 1)
    stamps["loadavg_after"] = loadavg()
    steal1 = steal_s()
    stamps["cpu_steal_s"] = (round(steal1 - steal0, 2)
                             if None not in (steal0, steal1) else None)
    stamps["wall_s"] = round(time.time() - started, 3)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{a.workload}_c{cores}_s{a.seed}_t{a.trace}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(dict(stamps, result=result), fh, indent=1)
    for ln in lines[:-1]:
        print(ln)
    print("stamp " + json.dumps(stamps))
    print(lines[-1])


if __name__ == "__main__":
    main()
