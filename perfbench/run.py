#!/usr/bin/env python3
"""Build and run the graft benchmark.

One run:
    python3 perfbench/run.py --workload sketch_rollup --seed 1 --seconds 20 --trace 0

builds graft from the checkout's sources together with the benchmark (once
per source change), runs one workload in a fresh JVM and prints, as the last
line of stdout, {"correct", "attempted", "failed", "metrics"}.

Steadiness check:
    python3 perfbench/run.py --steady 10 [--workload NAME] [--trace 0]

runs each workload (or one) with seeds 1..N and prints every metric's
median, quartiles and spread against its bound from BENCHMARK.json.

Run from the root of a checkout. Needs a JDK 17, sbt and a Spark 4.1
installation (SPARK_HOME, or spark-submit on the PATH).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [GRAFT_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft + benchmark with sbt; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip()
        env = dict(os.environ, SPARK_HOME=spark_home())
        opts = env.get("SBT_OPTS", "")
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos) and "sbt.repository.config" not in opts:
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts + " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
        env.setdefault("COURSIER_MODE", "offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.boot.directory={BUILD}/sbt-boot",
               "package", "export Runtime/fullClasspath"]
        t0 = time.time()
        res = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:])
            fail(f"build failed (sbt exit {res.returncode})")
        # the packaged jar replaces the classes directory: class-data sharing
        # archives only cover jars
        classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
        jars = [os.path.join(os.path.dirname(classes), f)
                for f in os.listdir(os.path.dirname(classes)) if f.endswith(".jar")]
        exported = [l for l in res.stdout.splitlines() if l.startswith(classes + ":")]
        if len(jars) != 1 or not exported:
            fail("build produced no benchmark jar or classpath")
        cp = ":".join(jars[0] if e == classes else e for e in exported[-1].strip().split(":"))
        # One short run records the classes the JVM loads into an archive
        # that every measured run maps in, which cuts JVM and Spark start-up.
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        try:
            ok = subprocess.run(jvm_command(cp, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", "sketch_rollup",
                                            0, 1, 0, os.path.join(BUILD, "work", "cds")),
                                cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                                timeout=JVM_TIMEOUT_S, env=dict(os.environ, SPARK_HOME=spark_home())).returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
        shutil.rmtree(os.path.join(BUILD, "work", "cds"), ignore_errors=True)
        if not ok and os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        with open(cp_file, "w") as c:
            c.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
        return cp


def jvm_command(cp, cds_flag, workload, seed, seconds, trace, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, cds_flag, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["graftbench.Main", "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace), "--work", work]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec, {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_once(a):
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {os.path.relpath(GRAFT_SRC, ROOT)}; "
             "run from the root of a graft checkout")
    spec, names = expected_metrics(a.trace)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cds = f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE) else "-Xshare:auto"
    cmd = jvm_command(cp, cds, a.workload, a.seed, a.seconds, a.trace, work)
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                env=dict(os.environ, SPARK_HOME=spark_home()))
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    got = set(result["metrics"])
    if got != names:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(names - got)}, extra {sorted(got - names)}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


def steady(a):
    """Run every workload with seeds 1..N; print each metric's spread."""
    spec, _ = expected_metrics(a.trace)
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    workloads = [a.workload] if a.workload else [w["name"] for w in spec["workloads"]]
    for w in workloads:
        vals, flagged = {}, 0
        for seed in range(1, a.steady + 1):
            res = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(seed),
                                  "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                                 cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                print(f"{w} seed {seed}: run failed (exit {res.returncode})")
                continue
            r = json.loads(lines[-1])
            flagged += any("FLAGGED" in l for l in lines)
            if not r["correct"]:
                print(f"{w} seed {seed}: incorrect ({r['failed']} of {r['attempted']} failed)")
            for k, m in r["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
        print(f"\n{w}: {a.steady} seeds, {flagged} flagged by the host-load sentinel")
        print(f"  {'metric':34s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s} {'bound':>6s}")
        for m in metrics:
            xs = vals.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / abs(med) if med else float("inf")
            bound = m.get("bound")
            verdict = "" if bound is None else (
                "ok" if spread < bound / 3 else "within bound" if spread <= bound else "TOO WIDE")
            print(f"  {m['name']:34s} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.3f} "
                  f"{'' if bound is None else bound:>6} {verdict}")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--steady", type=int, metavar="N", help="run seeds 1..N and report spreads")
    a = p.parse_args()
    if a.steady:
        steady(a)
    elif a.workload:
        run_once(a)
    else:
        p.error("--workload or --steady is required")


if __name__ == "__main__":
    main()
