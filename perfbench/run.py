#!/usr/bin/env python3
"""Run the dlx benchmark from the root of a checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (sbt, into
perfbench/target), then runs one JVM per call: local[nproc] Spark, one
client thread, heap sized from the machine.  The last stdout line is the
JSON result; the exit code is non-zero on any result mismatch.

    python3 perfbench/run.py --steadiness 5 [--workloads search,catalog] [--with-trace]

runs each workload on several seeds and reports every end-to-end
metric's spread (IQR / median) against the bounds in BENCHMARK.json;
--with-trace adds one traced run per workload on the first seed and
compares its op_cpu_ms with the untraced run's (the tracing overhead).
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
CORPUS = os.path.join(BUILD, "corpus-x1.bin")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None


def build():
    """Compile program + harness unless the classpath is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources (src/main/scala) next to perfbench/: nothing to benchmark")
        sys.exit(2)
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(s) <= stamp for s in sources()):
            return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.exists(repos) else "")
    home = spark_home()
    if home:
        env["SPARK_HOME"] = home
    log("building program and harness (sbt)")
    if os.path.exists(CORPUS):
        os.remove(CORPUS)  # made by the program's generator: remade after a build
    t0 = time.time()
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                        timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (rc={rc})")
        sys.exit(2)
    log(f"built in {time.time() - t0:.0f} s")


def heap_gb():
    """A quarter of physical memory, 1-4 GB: the machine is shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(1, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def jvm(name, args):
    """The command line of one child JVM and its work dir (made empty)."""
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    return ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main", "--work", work] + args, work


def corpus():
    """Generate the corpus once per build, in a JVM of its own (Main --make-corpus)."""
    if os.path.exists(CORPUS):
        return
    log("generating the corpus")
    cmd, work = jvm("corpus", ["--make-corpus", CORPUS])
    try:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=RUN_TIMEOUT_S).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(CORPUS):
        log(f"corpus generation failed (rc={rc})")
        sys.exit(2)


def run_once(workload, seed, seconds, trace, echo=True):
    """One benchmark run in a child JVM; returns (exit code, parsed result or None)."""
    build()
    corpus()
    cmd, work = jvm(f"{workload}-{seed}", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--corpus", CORPUS,
        "--spans", os.path.join(BUILD, "traces", f"spans-{workload}-{seed}.jsonl")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 124, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    if echo:
        sys.stdout.write(out)
        sys.stdout.flush()
    return proc.returncode, result


def quartile_spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf"), q2


def steadiness(n, workloads, first_seed, with_trace):
    """Each workload on n seeds; every end-to-end metric's spread vs its bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in workloads:
        values = {}
        for i in range(n):
            seed = first_seed + i
            t0 = time.time()
            rc, res = run_once(w, seed, bench["run_seconds"], False, echo=False)
            if rc != 0 or res is None or not res["correct"]:
                log(f"{w} seed {seed}: rc={rc} result={res}")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            log(f"{w} seed {seed}: {time.time() - t0:.0f} s "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        print(f"{w}: {n} seeds")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            spread, med = quartile_spread(vs)
            b = bounds[k]
            verdict = "ok" if k == "setup_s" or spread < b / 3 else ("WITHIN" if spread <= b else "OVER")
            ok &= verdict != "OVER"
            print(f"  {k:24s} median {med:12.4f}  spread {spread:6.3f}  bound {b:g}  {verdict}")
        if with_trace and values.get("op_cpu_ms"):
            rc, res = run_once(w, first_seed, bench["run_seconds"], True, echo=False)
            if rc == 0 and res:
                traced = res["metrics"]["trace.op_cpu_ms"]["value"]
                base = values["op_cpu_ms"][0]
                print(f"  traced op CPU {traced:.1f} ms vs untraced {base:.1f} ms on seed {first_seed}: "
                      f"{100 * (traced / base - 1):+.1f}% (span bookkeeping alone: "
                      f"{res['metrics']['trace.span_overhead_pct']['value']:.4f}%)")
            else:
                log(f"{w} traced run: rc={rc}")
                ok = False
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--steadiness", type=int, metavar="SEEDS")
    ap.add_argument("--workloads", default="search,catalog")
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--with-trace", action="store_true")
    a = ap.parse_args()
    if a.steadiness:
        build()
        sys.exit(0 if steadiness(a.steadiness, a.workloads.split(","), a.first_seed, a.with_trace) else 1)
    if not a.workload:
        ap.error("--workload is required")
    rc, res = run_once(a.workload, a.seed, a.seconds, a.trace == 1)
    if res is None:
        sys.exit(rc or 1)
    sys.exit(rc if rc != 0 else (0 if res["correct"] else 3))


if __name__ == "__main__":
    main()
