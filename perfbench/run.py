#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program
(`src/main`) together with the benchmark's JVM side (`perfbench/scala`)
into a jar under `.bench_build/` with the Scala compiler shipped in the
Spark jars, then makes one short untimed `lakehouse_cdc` run that records
the classes it loads in a class-data archive; later runs map the archive
and reuse the jar while the sources and this launcher are unchanged.

One run starts one JVM with a pinned heap ceiling, young generation,
collector, metaspace threshold, processor count (min(4, usable cores))
and `local[N]` (N = min(2, usable cores)); Spark's local dir,
the warehouse, checkpoints and every temporary file go to a per-run
scratch directory under `.bench_build/`, removed at exit. The JVM
prepares the workload three times from the seed, warms up on the first
(throwaway) state (`stream_sessions` warms its measured query instead),
runs a fixed number of ops on the last, checks the results against
references it computes itself, and hands back one record; this script
turns it into metrics. The last stdout line is the JSON result; the lines before it
state how the tail percentile was read and whether the median and the
tail each sit inside one op population. A run where either sits on the
boundary between two populations, or an op fails, or a check finds a
mismatch, is reported as not correct.

Metrics (BENCHMARK.json lists them):
  --trace 0  end to end: setup_s (launch to first timed op, the three
             set-up passes counted as one, their median), ops_per_s,
             op_p50_s, op_tail_s (the highest percentile with ten
             samples beyond it; the maximum when a run has fewer than
             eleven ops), peak_rss_mb (VmHWM of the JVM)
  --trace 1  per layer: per-op times and total counts over the measured
             ops, read from spans around the benchmark's calls into each
             graft module, Spark's listeners, a counting `file:`
             filesystem and Hadoop FS statistics; the spans are written
             to .bench_build/spans/. A metric a workload does not
             exercise reads 0. `trace.op_p50_s` is the traced run's
             median op, so the tracing overhead is its difference from
             the untraced `op_p50_s`.

`perfbench/steadiness.py` measures the run-to-run spread of every
end-to-end metric and writes perfbench/STEADINESS.json.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
# Spark's install, whose jars hold the Scala compiler and the runtime
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
SCALA_VERSION = "2.13.17"
HEAP = "2g"
YOUNG = "256m"
# class metadata room before the first collection it triggers: Spark
# loads enough classes to set off a few full collections during start-up
METASPACE = "256m"
TASK_THREADS = 2
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def build():
    """Compiles src/main + perfbench/scala once per source fingerprint into
    a jar, records a class-data archive of it, and returns the directory
    that holds both."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True))
    if not sources:
        fail("no program sources under src/main: run from the repository root")
    sources += sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    jars = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
            for n in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in jars):
        fail(f"Scala {SCALA_VERSION} compiler jars not found under {SPARK_JARS}: "
             "set SPARK_HOME to the Spark installation")
    # the launcher is fingerprinted too: its JVM flags shape the archive
    h = hashlib.sha256()
    for p in sources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, ".complete")):
            return out
        # the archive records the jar's path, so both are made in place;
        # `.complete` marks a finished build
        shutil.rmtree(out, ignore_errors=True)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources) + "\n")
        classes = os.path.join(out, "classes")
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", os.path.join(SPARK_JARS, "*"),
               "@" + argfile]
        os.makedirs(classes)
        print("perfbench: compiling the program and the benchmark", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("compilation failed")
        # the JVM archives classes from jars only
        with zipfile.ZipFile(os.path.join(out, "app.jar"), "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
        shutil.rmtree(classes)
        # one short run records the classes it loads (Spark's start-up and
        # SQL, Parquet and commit paths) in an archive every later run maps
        # instead of loading and verifying them again; without it each run
        # spent ~2 s more starting the session and more in its first pass
        print("perfbench: recording the class-data archive", file=sys.stderr)
        scratch = os.path.join(BUILD_DIR, f"archive-{os.getpid()}")
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        try:
            run_jvm(out, argparse.Namespace(workload="lakehouse_cdc", seed=0, seconds=1, trace=0),
                    scratch, record_archive=True)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        with open(os.path.join(out, ".complete"), "w"):
            pass
        for stale in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            if stale != out:
                shutil.rmtree(stale, ignore_errors=True)
        return out


def run_jvm(build_dir, args, scratch, record_archive=False):
    """Runs the benchmark JVM on the build in `build_dir`; returns its record."""
    cores = len(os.sched_getaffinity(0))
    # Spark gets two task threads and the JVM sees up to four processors:
    # the spare cores run the JIT compiler, the collector and the driver
    # thread, so a stage does not wait on a task whose core those took
    cpus = min(TASK_THREADS, cores)
    out = os.path.join(scratch, "record.json")
    spans = os.path.join(BUILD_DIR, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    tmpdir = os.path.join(scratch, "tmp")
    os.makedirs(tmpdir)
    archive = os.path.join(build_dir, "app.jsa")
    cmd = ["java"]
    if record_archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif os.path.isfile(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap's ceiling and a fixed young generation are pinned, and the
    # parallel collector keeps the old generation compacted at the bottom
    # of the heap: the resident set (peak_rss_mb) is then the young
    # generation plus what the program keeps (G1 spread it over regions
    # and read ~20 % apart between runs of one seed)
    cmd += [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
            f"-XX:ActiveProcessorCount={min(4, cores)}", f"-XX:MetaspaceSize={METASPACE}",
            f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.path.join(build_dir, "app.jar") + ":" + os.path.join(SPARK_JARS, "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch, "--out", out, "--spans", spans, "--cpus", str(cpus),
            "--launch-epoch-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            log_text = f.read()
        # the first exception's opening lines, then the end of the log
        first = min((i for i in (log_text.find("Exception"), log_text.find("Error"))
                     if i >= 0), default=len(log_text))
        first = log_text.rfind("\n", 0, first) + 1
        sys.stderr.write(log_text[first:first + 3000] + "\n...\n" + log_text[-2000:])
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def end_to_end(rec, out, errors):
    lat = rec["ops"]
    passes = [g + b for g, b in zip(rec["pass_generate_s"], rec["pass_build_s"])]
    to_first_op = (rec["first_op_epoch_ms"] - rec["launch_epoch_ms"]) / 1000.0
    # the process set up len(passes) times; count one pass, the median
    setup = to_first_op - sum(passes) + stats.median(passes)
    kinds = rec["op_kinds"][:len(lat)]
    rank = stats.tail_rank(len(lat))
    if rank is None:
        rank = len(lat) - 1
        value = max(lat)
        out(f"op_tail_s = p100 of {len(lat)} ops (0 samples beyond it): too few ops for "
            f"{stats.MIN_BEYOND} samples beyond a lower percentile")
    else:
        value, pct, beyond = stats.tail(lat)
        out(f"op_tail_s = p{pct:.1f} of {len(lat)} ops ({beyond} samples beyond it)")
    p50_ok = stats.population_ok(lat, kinds, (len(lat) - 1) // 2)
    tail_ok = stats.population_ok(lat, kinds, rank)
    out(f"op populations: {sorted(set(kinds))}; median inside one: {p50_ok}; "
        f"tail inside one: {tail_ok}")
    if not (p50_ok and tail_ok):
        errors.append("op_p50_s or op_tail_s sits on the boundary between two op populations")
    completed = rec["attempted"] - rec["failed"]
    return {
        "setup_s": setup,
        "ops_per_s": completed / rec["measured_wall_s"],
        "op_p50_s": stats.median(lat),
        "op_tail_s": value,
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if args.selftest:
        return selftest()
    sp = spec()
    names = [w["name"] for w in sp["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; one of {names}")
    classes = build()
    scratch = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        rec = run_jvm(classes, args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"perfbench: session {rec['session_s']:.2f} s, set-up passes "
          f"{[round(g + b, 2) for g, b in zip(rec['pass_generate_s'], rec['pass_build_s'])]} s, "
          f"warm-up {rec['warmup_s']:.2f} s, host CPU steal {rec['steal_pct']:.1f} %, "
          f"ops {[round(x, 3) for x in rec['ops']]}",
          file=sys.stderr)
    errors = list(rec["errors"])
    metrics = {}
    if args.trace == 0:
        units = {m["name"]: m["unit"] for m in sp["end_to_end"]}
        for k, v in end_to_end(rec, print, errors).items():
            metrics[k] = {"value": v, "unit": units[k]}
    else:
        layers = dict(rec["layers"])
        layers["trace.op_p50_s"] = stats.median(rec["ops"])
        layers["setup.session_s"] = rec["session_s"]
        layers["setup.generate_s"] = stats.median(rec["pass_generate_s"])
        layers["setup.build_s"] = stats.median(rec["pass_build_s"])
        layers["setup.warmup_s"] = rec["warmup_s"]
        units = {m["name"]: m["unit"] for m in sp["per_layer"]}
        for name, unit in units.items():
            metrics[name] = {"value": layers.get(name, 0.0), "unit": unit}
    for e in errors:
        print(f"check: {e}")
    print(json.dumps({
        "correct": rec["failed"] == 0 and not errors,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


def selftest():
    """Summary-statistics tests, then a same-seed determinism check of the
    generated inputs (two JVM set-ups per workload at one seed, one at
    another, comparing input digests)."""
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        return 1
    classes = build()
    bad = 0
    for w in [w["name"] for w in spec()["workloads"]]:
        digests = []
        for seed in (7, 7, 8):
            scratch = os.path.join(BUILD_DIR, f"selftest-{os.getpid()}")
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            try:
                a = argparse.Namespace(workload=w, seed=seed, seconds=1, trace=0)
                digests.append(run_jvm(classes, a, scratch)["input_digest"])
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
        same = digests[0] == digests[1] and digests[0] != digests[2]
        bad += not same
        print(f"{w}: seed 7 twice -> {'identical' if digests[0] == digests[1] else 'DIFFERENT'} "
              f"inputs; seed 8 -> {'different' if digests[0] != digests[2] else 'SAME'} inputs")
    return 1 if bad else 0


if __name__ == "__main__":
    # a terminated launcher still kills the JVM's process group and
    # removes its scratch directory on the way out (the `finally` blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
