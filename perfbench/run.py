#!/usr/bin/env python3
"""Benchmark of graft: one command builds the library from source, makes
the inputs, runs one workload and prints its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/` there: compiled classes, generated inputs, logs, and one
JSON record per run in `.bench_build/records`. The reference
fingerprints the results are checked against are committed under
`perfbench/refs/`; `--probe` runs every catalog query, records their
references there and leaves a record that `perfbench/pick.py` reads.
The last line of standard output is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
See perfbench/README.md for the workloads and metrics.
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


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes per workload, as arguments to gen.generate. "tiny" is the
# untimed warm-up input and the self-test's input. The inputs are fixed:
# every run of a workload reads the same files, and the seed of a run
# sets only the order of its operations.
DATA_SEED = 1
SIZES = {
    "catalog": dict(sf=0.01),
    "stream": dict(sf=0.01, events_mult=6),
}
TINY = dict(sf=0.001)
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170
PROBE_TIMEOUT_S = 3600
QUERIES = os.path.join(HERE, "catalog_queries.txt")
REFS = os.path.join(HERE, "refs")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the library and the benchmark with scalac into one class
    directory; skipped when the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no library sources at src/main/scala; run from a checkout of the repository")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: no Spark jars at '{SPARK_JARS}'; set SPARK_HOME")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    rc = subprocess.call(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                         stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"perfbench: compile failed ({rc})")
    log(f"compiled in {time.time() - t0:.1f}s")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def inputs(name, size):
    d = os.path.join(BUILD, "data", name + "".join(f"-{k}{v}" for k, v in sorted(size.items())))
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        rows = gen.generate(d, DATA_SEED, **size)
        log(f"generated {name} in {time.time() - t0:.1f}s: {rows}")
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def heap():
    """Half the machine's memory, between 2 and 8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_meta():
    def git(*a):
        try:
            return subprocess.run(["git", "-C", ROOT, *a], capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return ""
    sha = git("rev-parse", "HEAD") or "unknown"
    dirty = "unknown" if sha == "unknown" else str(bool(git("status", "--porcelain")))
    return sha, dirty


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny runs the workload on the warm-up input (self-test)")
    ap.add_argument("--inject", default="",
                    help="comma list of injected faulty operations: throw, wrong (self-test)")
    ap.add_argument("--probe", action="store_true",
                    help="catalog only: run every catalog query and record their references")
    args = ap.parse_args()
    if args.probe and args.workload != "catalog":
        ap.error("--probe runs the catalog workload")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build()
    size = TINY if args.size == "tiny" else SIZES[args.workload]
    tiny = inputs("tiny", TINY)
    data = tiny if args.size == "tiny" else inputs(args.workload, size)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    refs = os.path.join(REFS, f"{args.workload}-{args.size}.tsv")
    sha, dirty = git_meta()
    cpus = len(os.sched_getaffinity(0))
    mem = heap()
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", f"-Xms{mem}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--data", data, "--tiny", tiny, "--work", work,
            "--queries", "all" if args.probe else QUERIES, "--refs", refs,
            "--record", "1" if args.probe else "0", "--oracle", os.path.join(HERE, "oracle.py"),
            "--cpus", str(cpus), "--inject", args.inject,
            "--meta.sha", sha, "--meta.dirty", dirty, "--meta.size", args.size,
            "--meta.inputs", json.dumps(size)]
    log_path = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    t0 = time.time()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=PROBE_TIMEOUT_S if args.probe else RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run timed out (log: {log_path})")
        finally:
            # the JVM and the oracle it may have started share one process group
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    steal = None
    for f in os.listdir(os.path.join(work, "records")) if os.path.isdir(os.path.join(work, "records")) else []:
        shutil.move(os.path.join(work, "records", f), os.path.join(records, f))
        with open(os.path.join(records, f)) as rec:
            steal = json.load(rec).get("steal_pct")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: run failed with code {proc.returncode} (log: {log_path})")
    # hypervisor steal during the run; compare runs taken under little steal
    log(f"run took {time.time() - t0:.1f}s, steal {steal:.1f}%" if steal is not None
        else f"run took {time.time() - t0:.1f}s")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
