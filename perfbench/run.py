#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload panel_fe --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The script compiles graft's
sources together with the benchmark harness (perfbench/src) into
.bench_build/perfbench with the Scala compiler shipped among the Spark
jars, then runs the harness in one JVM on a local[N] Spark session, N
being the number of usable cores. Every metric is printed by name with
its unit; the last stdout line is the JSON result. Build outputs, inputs
and traces stay under .bench_build.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("panel_fe", "graph_iter", "dedup_pipeline")
RUN_LIMIT_S = 170  # a run (after any build) must finish well inside 180 s
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


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        if not sbt.is_file():
            fail("no build.sbt and no SPARK_HOME: cannot locate the Spark jars")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        jars = Path(m.group(1))
    found = sorted(jars.glob("*.jar"))
    if not found:
        fail(f"no jars under {jars}")
    return jars, found


def sources():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not graft:
        fail("graft sources (src/main/scala/graft) not found in this checkout")
    return graft + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build(tmp):
    """Compiles graft + harness once per source state; returns the classes dir."""
    srcs = sources()
    jars_dir, jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    stamp = h.hexdigest()[:16]
    classes = BUILD / f"classes-{stamp}"
    if (classes / "BUILD_OK").is_file():
        return jars_dir, classes
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j.name)]
    if len(compiler) != 3:
        fail(f"scala compiler jars not found under {jars_dir}")
    work = BUILD / f"building-{stamp}-{os.getpid()}"
    work.mkdir(parents=True)
    args_file = work / "scalac.args"
    args_file.write_text("\n".join(
        ["-nowarn", "-classpath", os.pathsep.join(map(str, jars)), "-d", str(work)] + [str(s) for s in srcs]))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
         "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", f"@{args_file}"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    args_file.unlink()
    (work / "BUILD_OK").write_text(f"{time.time() - t0:.1f}\n")
    try:
        work.rename(classes)
    except OSError:  # a concurrent run finished the same build first
        if not (classes / "BUILD_OK").is_file():
            raise
        shutil.rmtree(work)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return jars_dir, classes


def harness(classes, jars_dir, tmp, extra, timeout):
    # a fixed-size heap under the throughput collector: no resizing and no
    # concurrent GC threads competing with the four task threads
    # (-XX:-UsePerfData: the JVM would otherwise write its perf file to /tmp)
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}{os.pathsep}{jars_dir}/*", "org.apache.spark.sql.graftbench.Main"] + extra)
    log = BUILD / "last-run.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded {timeout:.0f}s; log in {log}")
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited with {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true", help="print the input digest for the seed and exit")
    a = ap.parse_args()
    sources()  # fail before writing anything when this is not a graft checkout
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jars_dir, classes = build(tmp)
    started = time.time()
    if a.digest:
        out = harness(classes, jars_dir, tmp, ["--digest", "--workload", a.workload, "--seed", str(a.seed)], 120)
        print(out.strip().splitlines()[-1])
        return
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    out = harness(classes, jars_dir, tmp,
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--cores", str(cores), "--dir", str(BUILD / "run")],
                  RUN_LIMIT_S - (time.time() - started))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("harness printed no result")
    result = json.loads(lines[-1])
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(f"fail_ratio = {result['failed'] / result['attempted']} ({result['failed']} of {result['attempted']})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
