#!/usr/bin/env python3
"""Build and run the benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --test

Compiles the project's main sources and the harness with the Scala compiler
jar that ships among the Spark jars (the directory build.sbt names as its
`unmanagedBase`, else $SPARK_HOME/jars), caching the classes under
.bench_build/ keyed by a hash of the sources. Then it runs one workload in
one JVM and prints the harness's result JSON as the last stdout line.
Everything it writes stays under the checkout: .bench_build/ for classes,
.bench_work/ for inputs, outputs and Spark scratch (removed after the run;
traced runs keep their spans in .bench_work/traces/).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
MAIN_SRC = ROOT / "src" / "main" / "scala"
RUN_TIMEOUT_S = 170

# JVM flags of build.sbt's forked runs: Spark on JDK 17 outside spark-submit
# needs the module opens; TCP_NODELAY keeps loopback JSON-RPC calls from
# paying the Nagle/delayed-ACK stall. The heap starts small and grows as
# the program needs, so the peak RSS follows what the program holds rather
# than a preset young generation; set-up's warm-up grows it before the
# timed ops. No perf-data file: the JVM would write it outside the checkout.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dsun.net.httpserver.nodelay=true", "-Xms256m", "-Xmx3g", "-XX:+UseParallelGC",
    "-XX:-UsePerfData"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jar_dir():
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sys.exit("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(d):
    return sorted(d.rglob("*.scala")) if d.is_dir() else []


def compile_scala(name, srcs, extra_cp, jars):
    """Compile `srcs` into BUILD/name unless the cached classes match."""
    if not srcs:
        sys.exit(f"no Scala sources for {name}")
    h = hashlib.sha256()
    for p in srcs + [Path(x) for x in extra_cp]:
        h.update(str(p).encode())
        if p.is_file():
            h.update(p.read_bytes())
        else:
            h.update((p / ".stamp").read_bytes())
    stamp = h.hexdigest()
    out = BUILD / name
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = BUILD / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{j}-2.13*.jar")))
                for j in ("compiler", "library", "reflect")]
    cp = os.pathsep.join([str(jars / "*")] + [str(x) for x in extra_cp])
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                        "-d", str(tmp)] + [str(s) for s in srcs],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"compiling {name} failed")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    log(f"compiled {name} ({len(srcs)} files) in {time.time() - t0:.1f}s")
    return out


def build(with_tests=False):
    jars = jar_dir()
    main = compile_scala("main-classes", sources(MAIN_SRC), [], jars)
    bench = compile_scala("bench-classes", sources(HERE / "src"), [main], jars)
    cp = [bench, main]
    if with_tests:
        cp.insert(0, compile_scala("test-classes", sources(HERE / "test"), [bench, main], jars))
    return jars, cp


def java(jars, cp, main_class, args, tmp, timeout):
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp",
           os.pathsep.join([str(c) for c in cp] + [str(jars / "*")]), main_class] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"{main_class} exceeded {timeout}s")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--test", action="store_true", help="run the harness self-tests")
    a = ap.parse_args()
    if not a.test and not a.workload:
        ap.error("--workload is required")
    jars, cp = build(with_tests=a.test)
    run_dir = WORK / f"run-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        if a.test:
            code, out = java(jars, cp, "graft.perfbench.SelfTest", [], tmp, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)
        code, out = java(jars, cp, "graft.perfbench.BenchMain",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace,
                          "--work", str(run_dir)], tmp, RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            sys.exit(f"{a.workload} exited with code {code}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.exit(f"malformed result line: {lines[-1]}")
        spans = run_dir / "spans.jsonl"
        if spans.exists():
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(spans, traces / f"{a.workload}-{a.seed}.jsonl")
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
