#!/usr/bin/env python3
"""Reconciliation benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/build.sh) and generates the sf1 fixture with the
program's own graft.GenFixtures; both are kept under .bench_build/perfbench
and rebuilt only when their sources change. Everything the benchmark
writes stays under .bench_build/. The last line of standard output is the
JSON result; see perfbench/NOTES.md for what is measured and why.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BASE = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("insync_sf1", "contiguous_sf1", "scattered_sf1", "pervasive_sf1")


def spark_home():
    """$SPARK_HOME, else the Spark distribution whose spark-submit is on
    PATH. Its jars are the program's classpath and hold the compiler."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (Path(d) / "spark-submit").resolve().parent.parent
        if (home / "jars").is_dir():
            return home
    return None


SPARK_HOME = spark_home()
# A fixed, pre-touched heap: its pages are resident from the start, so
# peak_rss_mb varies only with what the process holds outside the heap
# instead of with when the collector chose to grow it.
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_id():
    """The commit when the checkout is a git repository, else a digest of
    the program's sources, so every result names the code it measured."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "src" / "main").rglob("*.scala")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


def java(main, *args, heap=HEAP, timeout=None):
    tmp = BASE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
           "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BASE / 'classes'}:{SPARK_HOME}/jars/*", main, *args]
    # own process group, so that a timeout or a signal to this script
    # stops the JVM and everything it started
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} did not finish within {timeout} s")
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_DFL)
    return proc.returncode, out


def build():
    r = subprocess.run(["bash", str(ROOT / "perfbench" / "build.sh")],
                       cwd=ROOT, stdout=sys.stderr,
                       env={**os.environ, "SPARK_HOME": str(SPARK_HOME)})
    if r.returncode != 0:
        fail("build failed")


def fixture(sf):
    """Upstream snapshot at scale factor `sf` from graft.GenFixtures,
    regenerated only when the generator's source changes. Returns seconds
    spent generating."""
    gen = ROOT / "src/main/scala/graft/GenFixtures.scala"
    stamp = hashlib.sha256(gen.read_bytes()).hexdigest()
    out = BASE / f"sf{sf}"
    stamp_file = BASE / f"sf{sf}.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and out.is_dir():
        return 0.0
    shutil.rmtree(out, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    t = time.monotonic()
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    code, _ = java("graft.GenFixtures", str(out), sf, timeout=600)
    if code != 0:
        fail(f"sf{sf} fixture generation failed")
    stamp_file.write_text(stamp)
    return time.monotonic() - t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "src/main/scala/graft").is_dir():
        fail("no program sources (src/main/scala/graft) in this checkout")
    if not SPARK_HOME:
        fail("no Spark found: set SPARK_HOME or put spark-submit on PATH")
    if not a.selftest and (a.workload not in WORKLOADS or a.seed is None
                           or a.seconds is None):
        fail(f"need --workload {{{','.join(WORKLOADS)}}} --seed --seconds")
    build()
    if a.selftest:
        code, out = java("perfbench.SelfTest", heap="1g", timeout=JVM_TIMEOUT_S)
        sys.stdout.write(out)
        sys.exit(code)
    gen_s = fixture("1") + fixture("0.1")
    if gen_s:
        print(json.dumps({"fixture_gen_s": round(gen_s, 3)}))
    code, out = java("perfbench.Main", "--root", str(ROOT),
                     "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--source-id", source_id(), timeout=JVM_TIMEOUT_S)
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"benchmark process exited {code} without a result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
