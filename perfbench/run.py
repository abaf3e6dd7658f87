#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <whisper_write|corpus_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources (perfbench/build.sbt) and primes a class-data archive;
later runs reuse both while the sources are unchanged. Inputs are
generated from the seed into a fresh directory under .bench_work/, which
is removed at exit.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The line before it reports every figure the run
took, with units. A failed correctness check exits non-zero and prints
no figures.
"""
import argparse
import contextlib
import glob
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("whisper_write", "corpus_batch")
BUILD_DIR = os.path.join(HERE, "target")
ARCHIVE = os.path.join(BUILD_DIR, "bench-classes.jsa")
JVM_TIMEOUT_S = 170
# the seed of the untimed priming run's inputs
PRIME_SEED = 0
BUILD_TIMEOUT_S = 600

# whisper_write: cycles run untimed before measuring
WRITE_WARMUP_CYCLES = 1
# the JVM settings of the repository's own run configuration (build.sbt
# javaOptions): heap from SPARK_DRIVER_MEM, a code cache large enough for
# codegen-heavy query sets, with flushing
JVM_HEAP = "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")
JVM_OPTS = [JVM_HEAP, "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log("FAILED: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts += " -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = opts
    return env


def build(cores):
    """Packages engine and harness into a jar, primes the class-data
    archive, and returns the runtime classpath (jars only: class-data
    sharing refuses directories)."""
    cp_file = os.path.join(BUILD_DIR, "bench-classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "bench-stamp.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and os.path.exists(ARCHIVE):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "bench-build.log")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                      "export Runtime/dependencyClasspath"],
                     BUILD_TIMEOUT_S, log_path, cwd=HERE, env=sbt_env())
    with open(log_path) as f:
        out = f.read()
    lines = out.strip().splitlines()
    jars = glob.glob(os.path.join(BUILD_DIR, "scala-2.13", "perfbench_2.13-*.jar"))
    if code != 0 or not lines or len(jars) != 1:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    deps = [e for e in lines[-1].strip().split(os.pathsep) if e.endswith(".jar")]
    cp = os.pathsep.join(jars + deps)
    prime(cp, cores)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def prime(cp, cores):
    """Writes the JDK class-data archive every run maps: one untimed JVM
    runs each workload, traced and on small inputs, and archives the
    classes it loaded when it exits. Each run then starts from the same
    archive, whatever ran first, and its JVM starts in about 2.5 s
    instead of 7 s."""
    log("priming the class-data archive")
    with workdir("prime") as work:
        runs = []
        for w in WORKLOADS:
            sub = os.path.join(work, w)
            os.makedirs(os.path.join(sub, "tmp"))
            spec, _ = prepare(w, PRIME_SEED, 0, sub)
            write_spec(spec, sub)
            runs.append("%s=%s" % (w, sub))
        log_path = os.path.join(work, "jvm.log")
        code = run_child(java(cp, work, ["-XX:ArchiveClassesAtExit=" + ARCHIVE],
                              "perfbench.Prime", [str(cores)] + runs),
                         JVM_TIMEOUT_S, log_path, cwd=work)
        if code != 0 or not os.path.exists(ARCHIVE):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("priming the class-data archive failed")


# ------------------------------------------------------------------ run

def run_child(cmd, timeout, log_path, **kw):
    """Runs a command in its own process group with output to `log_path`
    and returns its exit code. The whole group is killed when the command
    ends, overruns or this process is stopped, so nothing outlives a run."""
    with open(log_path, "w") as log_file:
        p = subprocess.Popen(cmd, stdout=log_file, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail("%s did not finish in %d s" % (cmd[0], timeout))
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(p.pid, signal.SIGKILL)
            p.wait()


@contextlib.contextmanager
def workdir(name):
    """A fresh directory inside the checkout, removed on exit."""
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)


def java(cp, work, flags, main, args):
    add_opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        add_opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return (["java"] + JVM_OPTS + flags + [
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + add_opens + ["-cp", cp, main] + args)


def measured_ops(workload, seconds):
    """How many write cycles or operator passes a run measures: a fixed
    number set by the run length, never by the clock. A write cycle took
    about 8 s and an operator pass about 5 s on a 4-core VM."""
    if workload == "whisper_write":
        return max(3, round(seconds / 7))
    return max(3, round(seconds / 5))


def prepare(workload, seed, seconds, work):
    """Generates the workload's inputs; returns (spec, seconds taken).
    `seconds` 0 gives the smallest run, for priming."""
    t0 = time.perf_counter()
    data = os.path.join(work, "data")
    spec = {"data": data}
    n = measured_ops(workload, seconds) if seconds else 1
    if workload == "whisper_write":
        batches = gen.carbon_batches(seed, WRITE_WARMUP_CYCLES + n)
        cdir = os.path.join(work, "carbon")
        os.makedirs(cdir)
        for b in batches:
            b["file"] = os.path.join(cdir, "c%05d.txt" % b["cycle"])
            with open(b["file"], "w") as f:
                f.write("\n".join(b["lines"]) + "\n")
        spec["batches"] = [{k: b[k] for k in ("cycle", "now", "file", "reads")}
                           for b in batches]
        spec["warmup_cycles"] = WRITE_WARMUP_CYCLES
        spec["series"] = gen.series_names()
        spec["_batches"] = batches
    else:
        gen.write_corpus(data, seed)
        # the first pass pays construction, the plan memo serves the rest
        spec["sequence"] = gen.corpus_sequence(seed, n)
        spec["pass_length"] = len(gen.CORPUS_KEYS)
    return spec, time.perf_counter() - t0


def write_spec(spec, work):
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump({k: v for k, v in spec.items() if k != "_batches"}, f)


def run_jvm(cp, workload, spec, trace, work, cores):
    write_spec(spec, work)
    log_path = os.path.join(work, "jvm.log")
    args = ["--workload", workload, "--trace", str(trace), "--cores", str(cores),
            "--work", work]
    # JDK class-data sharing: map the archive the build primed instead of
    # loading Spark class by class, which takes seconds off the start
    flags = ["-XX:SharedArchiveFile=" + ARCHIVE, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    code = run_child(java(cp, work, flags, "perfbench.Main", args), JVM_TIMEOUT_S,
                     log_path, cwd=work)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("benchmark JVM exited with %d" % code)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds like an error: children are killed, work removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: the engine sources are missing", 2)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    cp = build(cores)
    with workdir(a.workload) as work:
        spec, gen_s = prepare(a.workload, a.seed, a.seconds, work)
        res = run_jvm(cp, a.workload, spec, a.trace, work, cores)
        try:
            figures, result = report.reduce(a.workload, res, spec, gen_s, work, a.trace)
        except report.CheckFailed as e:
            fail("correctness check: %s" % e)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "figures": figures}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
