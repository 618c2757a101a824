#!/usr/bin/env python3
"""graft benchmark: builds graft and the harness from source, then runs one
workload and prints one JSON result line last on stdout.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --fingerprints [--dump DIR]
    python3 perfbench/run.py --survey FILE

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
from a traced run. Build output, results and traces go to
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`). Spark
comes from `$SPARK_HOME` (or the `spark-submit` on PATH).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path("perfbench")
GRAFT_SOURCES = Path("src/main/scala")
GRAFT_RESOURCES = Path("src/main/resources")
DATA = HERE / "data"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# what spark-submit adds on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def out_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")) / "perfbench"


def run_child(cmd, timeout, capture=False):
    """Run `cmd` in its own process group; kill the group on timeout and
    always wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else None,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build(jars):
    """Compile graft's sources and the harness with scalac from the Spark
    distribution; skipped when the sources are unchanged since the last
    build."""
    if not (GRAFT_SOURCES / "graft" / "SparkEntry.scala").is_file():
        die("graft sources not found under src/main/scala: run from the root "
            "of a graft checkout")
    srcs = sorted(GRAFT_SOURCES.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    key = hashlib.sha256()
    for p in srcs:
        key.update(str(p).encode() + b"\0" + p.read_bytes())
    classes, stamp = out_dir() / "classes", out_dir() / "classes.sha256"
    if stamp.is_file() and stamp.read_text() == key.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    code, _ = run_child(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                         "-d", str(classes), "-classpath", cp]
                        + [str(p) for p in srcs], BUILD_TIMEOUT_S)
    if code != 0:
        die("build failed", 1)
    stamp.write_text(key.hexdigest())
    return classes


def harness(classes, jars, args, timeout=RUN_TIMEOUT_S):
    tmp = out_dir() / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes), str(GRAFT_RESOURCES), f"{jars}/*"])
    return run_child(["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
                      f"-Djava.io.tmpdir={tmp}",
                      f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                      "-Dspark.ui.enabled=false",
                      "-Dspark.sql.session.timeZone=UTC",
                      "-cp", cp, "perfbench.Harness", *args],
                     timeout, capture=True)


def check_result(line):
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    for m in r["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))
        assert math.isfinite(m["value"]), m
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--fingerprints", action="store_true",
                    help="regenerate perfbench/expected.tsv")
    ap.add_argument("--dump", help="with --fingerprints: also write outputs here")
    ap.add_argument("--survey", help="trace every registered query once into FILE")
    a = ap.parse_args()
    if not (a.selftest or a.fingerprints or a.survey or a.workload):
        ap.error("one of --workload, --selftest, --fingerprints, --survey is required")

    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        code, _ = harness(classes, jars, ["selftest"])
        sys.exit(code)
    if a.fingerprints:
        extra = [a.dump] if a.dump else []
        code, _ = harness(classes, jars, ["fingerprints", str(DATA),
                                          str(HERE / "expected.tsv"), *extra], 1800)
        sys.exit(code)
    if a.survey:
        code, _ = harness(classes, jars, ["survey", str(DATA), a.survey], 7200)
        sys.exit(code)
    code, out = harness(classes, jars, [
        "run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
        str(DATA), str(out_dir() / "results")])
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        die(f"harness failed with exit code {code}", 1)
    check_result(lines[-1])
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
