#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (perfbench/build.sbt
takes the repository root as a source dependency), caching the classpath
under a content stamp of every source and build file, then runs the workload
in a fresh JVM. Every metric is printed by name; the last line of standard
output is the JSON result. Exits non-zero when the build fails, an operation
fails or a correctness gate fails.

--plant-off-by-one skews the driver-side model by one row, to show that the
correctness gate trips.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
STAMP = WORK / "build.stamp"
CLASSPATH = WORK / "classpath.txt"
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def stop_children(signum, _frame):
    """Stop and reap every process this script started, then exit."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(128 + signum)


def start(cmd, **kw):
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True, **kw)
    CHILDREN.append(p)
    return p


def build_inputs():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        if r.is_dir():
            files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp says the classpath is current."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the engine's sources are not in this checkout; nothing to build")
    want = stamp()
    if STAMP.is_file() and CLASSPATH.is_file() and STAMP.read_text() == want:
        cp = CLASSPATH.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = start(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "compile", "export Runtime/fullClasspath"],
              cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    lines = p.communicate()[0].splitlines()
    cps = [ln.strip() for ln in lines
           if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    WORK.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(cps[-1])
    STAMP.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.is_file() else "java"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["medallion_batch", "cdc_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-off-by-one", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    cp = build()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = [m["name"] for m in
            bench["per_layer" if args.trace else "end_to_end"]]

    run_dir = WORK / f"run-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    cmd = [java()] + [x for p in JVM_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # C1 only: a short run is then at its steady pace instead of
        # measuring C2's progress; fixed generation sizes keep the peak
        # resident set repeatable (perfbench/README.md)
        "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
        "-Xms2g", "-Xmx2g", "-Xmn768m", "-Xss4m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--dir", str(run_dir)]
    if args.trace:
        # count file-system operations (Hadoop counts only bytes for file:),
        # and keep whole paths in plan text: the stage split finds each
        # stage's executions by the sink paths their plans name
        at = cmd.index("-cp")
        cmd[at:at] = ["-Dspark.hadoop.fs.file.impl=perfbench.CountingLocalFileSystem",
                      "-Dspark.sql.maxMetadataStringLength=100000"]
    if args.plant_off_by_one:
        cmd.append("--plant-off-by-one")
    log = run_dir / "jvm.log"
    try:
        with open(log, "w") as err:
            p = start(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=err)
            try:
                out, _ = p.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                fail(f"run exceeded {RUN_LIMIT_S} s and was stopped")
        for ln in log.read_text(errors="replace").splitlines():
            if ln.startswith("[perfbench]"):
                print(ln, file=sys.stderr)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if result is None:
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"no result (JVM exit {p.returncode})")
        missing = [n for n in want if n not in result["metrics"]]
        extra = [n for n in result["metrics"] if n not in want]
        if missing or extra:
            fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")
        for name in ("spans.jsonl", "counts.jsonl"):
            src = run_dir / args.workload / name
            if src.is_file():
                shutil.copy(src, WORK / f"{args.workload}-{args.seed}-{name}")
        print(json.dumps(result))
        sys.stdout.flush()
        sys.exit(0 if p.returncode == 0 else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
