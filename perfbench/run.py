#!/usr/bin/env python3
"""Crawl-loop benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the program and the benchmark from
source into .bench_build/perfbench (once per source state), then runs one
JVM that does the set-up, the timed calls and their output checks. The last
line of stdout is the result object.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt takes its
    unmanaged jars from, else the install spark-submit on PATH belongs to."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    if shutil.which("spark-submit"):
        candidates.append(Path(shutil.which("spark-submit")).resolve().parent.parent / "jars")
    for c in candidates:
        if c.is_dir():
            return c
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    files = sorted(p for r in roots for p in r.rglob("*.scala"))
    return files + [ROOT / "perfbench" / "build.sh"]


def build():
    """Compiles unless the class directory matches the current sources."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "frontier" / "Crawl.scala").is_file():
        sys.exit("perfbench: program sources not found under src/main/scala")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "classes.stamp"
    classes = BUILD / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return classes
    BUILD.mkdir(parents=True, exist_ok=True)
    r = subprocess.run(["bash", str(ROOT / "perfbench" / "build.sh"), str(classes)],
                       stdout=sys.stderr, timeout=850, env={**os.environ, "SPARK_HOME": str(spark_jars().parent)})
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return classes


def job_groups():
    """Call-site groups BENCHMARK.json lists, reported even where a run records none."""
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        return []
    prefix = "frontier.crawl.job_ms."
    return [m["name"][len(prefix):] for m in spec.get("per_layer", []) if m["name"].startswith(prefix)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    classes = build()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap keeps rss_peak_mb from tracking G1's heap resizing; it
    # then moves with off-heap and native memory (code cache, metaspace,
    # direct buffers)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{spark_jars()}/*", "perfbench.Main", "--work", str(BUILD / f"work-{os.getpid()}")]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--job-groups", ",".join(job_groups())]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(out)
        sys.exit(f"perfbench: benchmark exited with {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
