#!/usr/bin/env python3
"""graft benchmark: fused extraction, stage chain and stateful stream.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the engine's
sources together with the harness in perfbench/ (sbt, offline) into
.bench_build/; later calls reuse the build while the sources are unchanged.

Each run generates its inputs from --seed (cached on disk by seed and
size, so generation stays out of the timing), starts one Spark local[nproc]
JVM, sets up three times (session start, model broadcast, a warm-up rep on
a small input; setup_s is the median), then repeats the measured call for
--seconds. Reps that start in the first half of that window are burn-in
(the JIT is still warming under CPU contention); the metrics are medians
over the reps of the second half. Every rep's output is consumed through
an order-independent digest and checked; a rep whose check fails reports
no throughput and counts as failed.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics: engine counters of the measured reps from a SparkListener,
per-stage numbers of the stage chain, state-store numbers of the stream,
and per-layer self times from a single-threaded replay of the fused
extractor with spans around each layer's public calls. The spans are
written to .bench_build/traces/<workload>.spans.json.

The last line of stdout is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}.
The exit code is 0 only when every output check passed.
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
sys.path.insert(0, HERE)
import inputs  # noqa: E402

# kind, input size (conversations for chat, documents for docs), warm-up
# size, conversations the traced replay covers. BENCHMARK.json lists
# docs_dense and stream_stateful. chat_sparse and stage_chain run on
# request: a stage_chain run takes about 45 s on 4 cores, so the chain's
# per-stage numbers come from docs_dense's traced runs instead.
WORKLOADS = {
    "chat_sparse": ("chat", 6000, 2000, 600),
    "docs_dense": ("docs", 3000, 1000, 120),
    "stage_chain": ("docs", 3000, 60, 120),
    "stream_stateful": ("chat", 1000, 1000, 600),
}
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def check_checkout():
    """The benchmark builds the engine from the checkout's sources."""
    need = [os.path.join(ROOT, "src", "main", "scala", "graft"),
            os.path.join(HERE, "build.sbt")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        log("not a graft checkout, missing: " + ", ".join(missing))
        sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark install found: set SPARK_HOME")
        sys.exit(2)
    return home


def source_key():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_proc(cmd, timeout, cwd=ROOT, env=None):
    """Runs `cmd` in its own process group with output on stderr; kills
    the whole group on timeout and waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        log("timed out: " + " ".join(cmd[:3]))
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(deadline):
    """Compiles the engine and the harness; returns the JVM classpath."""
    os.makedirs(BUILD, exist_ok=True)
    key_file = os.path.join(BUILD, "build.key")
    cp_file = os.path.join(BUILD, "classpath.txt")
    key = source_key()
    if os.path.exists(key_file) and os.path.exists(cp_file):
        with open(key_file) as f:
            if f.read() == key:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building the engine and the harness (sbt)")
    out = os.path.join(BUILD, "sbt.out")
    with open(out, "w") as f:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = -9
    with open(out) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(2)
    cp = cps[-1].strip()
    sql_file = os.path.join(BUILD, "oracle_sql.json")
    if run_proc(java_cmd(cp, os.path.join(BUILD, "tmp")) + ["dump-sql", sql_file],
                deadline - time.time()) != 0:
        log("could not read the oracle SQL")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(key_file, "w") as f:
        f.write(key)
    return cp


def java_cmd(cp, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx" + JVM_HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData"] + opens +
            ["-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", cp, "perfbench.Main"])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def docs_input(seed, n, with_oracle):
    d = os.path.join(BUILD, "inputs", "docs_%d_%d" % (seed, n))
    docs = os.path.join(d, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    if not os.path.exists(docs):
        inputs.write_documents(docs, seed, n)
    oracle = os.path.join(d, "oracle")
    if with_oracle and not os.path.exists(os.path.join(oracle, "kg_triples.parquet")):
        inputs.write_oracle(docs, os.path.join(BUILD, "oracle_sql.json"), oracle)
    return d


def run_workload(name, seed, seconds, trace, cp, deadline):
    log("%s: start" % name)
    kind, size, warm, replay = WORKLOADS[name]
    work = os.path.join(BUILD, "work", "%s_%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["run", "--workload", name, "--cores", str(cores()),
                "--seconds", str(seconds), "--trace", str(trace),
                "--work", work, "--out", os.path.join(work, "result.json"),
                "--replay-convs", str(replay)]
        if kind == "docs":
            d = docs_input(seed, size, True)
            args += ["--input", d, "--warm", docs_input(seed, warm, False),
                     "--oracle", os.path.join(d, "oracle")]
        else:
            base = os.path.join(BUILD, "inputs", "chat_%d_%%d" % seed)
            args += ["--input", base % size, "--warm", base % warm,
                     "--gen-seed", str(seed), "--gen-convs", str(size),
                     "--gen-warm-convs", str(warm)]
        t0 = time.time()
        code = run_proc(java_cmd(cp, os.path.join(work, "tmp")) + args,
                        deadline - time.time())
        log("%s: JVM exited with %d after %.1f s" % (name, code, time.time() - t0))
        result = os.path.join(work, "result.json")
        if not os.path.exists(result):
            log("%s: no result (exit %d)" % (name, code))
            return None
        with open(result) as f:
            res = json.load(f)
        spans = result + ".spans.json"
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            os.replace(spans, os.path.join(BUILD, "traces", name + ".spans.json"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(cp, deadline):
    work = os.path.join(BUILD, "work", "selftest_%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        docs = os.path.join(work, "docs")
        os.makedirs(docs)
        inputs.write_documents(os.path.join(docs, "documents.parquet"), 11, 200)
        inputs.write_oracle(os.path.join(docs, "documents.parquet"),
                            os.path.join(BUILD, "oracle_sql.json"), os.path.join(docs, "oracle"))
        return run_proc(java_cmd(cp, os.path.join(work, "tmp")) +
                        ["selftest", "--work", work, "--docs", docs], deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_proc's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    check_checkout()
    # the first run in a checkout builds; later runs must end in RUN_LIMIT_S
    cp = build(start + 840)
    if a.selftest:
        sys.exit(0 if selftest(cp, time.time() + RUN_LIMIT_S) == 0 else 1)
    if a.workload is None:
        ap.error("--workload is required")
    if a.workload == "all":
        ok = True
        for name in sorted(WORKLOADS):
            res = run_workload(name, a.seed, a.seconds, a.trace, cp, time.time() + RUN_LIMIT_S)
            ok = ok and res is not None and res["correct"]
            if res is None:
                print("%-16s no result" % name)
                continue
            for k, m in res["metrics"].items():
                print("%-16s %-34s %14.4f %s" % (name, k, m["value"], m["unit"]))
            print("%-16s correct=%s attempted=%d failed=%d"
                  % (name, res["correct"], res["attempted"], res["failed"]))
        sys.exit(0 if ok else 1)
    res = run_workload(a.workload, a.seed, a.seconds, a.trace, cp, time.time() + RUN_LIMIT_S)
    if res is None:
        sys.exit(1)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
