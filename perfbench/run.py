#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 4 --trace 0

Run from the repository root. Builds the program and the harness from
source when they changed (into .bench_build/), generates the workload's
inputs from the seed, runs the JVM harness, checks the outputs, and prints
as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. See perfbench/README.md.
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

T_START = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import reduce  # noqa: E402

BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = HERE / "src"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: neither SPARK_HOME nor spark-submit found")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home, "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler jar under {jars}")
    return jars


def sources_hash(dirs, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for d in dirs:
        for f in sorted(d.rglob("*.scala")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars: Path, out: Path, classpath: list, srcs: list) -> None:
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", cp,
           *[str(s) for s in srcs]]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compile failed ({out.name})")
    tmp.rename(out)


def build(jars: Path) -> list:
    """Compiles the program and the harness (each only when its sources
    changed); returns the class directories."""
    if not (PROGRAM_SRC / "graft" / "SparkEntry.scala").exists():
        sys.exit(f"perfbench: program sources not found under {PROGRAM_SRC}")
    main_h = sources_hash([PROGRAM_SRC])
    main_out = BUILD / "classes" / f"main-{main_h}"
    bench_out = BUILD / "classes" / f"bench-{sources_hash([HARNESS_SRC], main_h)}"
    if not main_out.exists():
        scalac(jars, main_out, [], sorted(PROGRAM_SRC.rglob("*.scala")))
    if not bench_out.exists():
        scalac(jars, bench_out, [main_out], sorted(HARNESS_SRC.rglob("*.scala")))
    return [bench_out, main_out]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so subprocess.run kills and reaps the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_all = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec_all["workloads"]:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    spec = spec_all["workloads"][args.workload]

    jars = spark_jars()
    t_build = time.time()
    classes = build(jars)
    # a build in this process is not part of the benchmark's set-up
    t0 = T_START + (time.time() - t_build)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = BUILD / "runs" / run_id
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    try:
        sizes = gen.generate(args.workload, args.seed, data, spec)
        raw_path = work / "raw.json"
        keys = ",".join(f"{k}:{m}" for k, m in spec.get("keys", {}).items())
        n = cores()
        cmd = ["java", f"-Xmx{spec_all['heap']}", "-XX:+UseParallelGC",
               *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dspark.local.dir={work / 'spark-local'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join([str(c) for c in classes] + [str(jars / "*")]),
               "perfbench.PerfBench",
               f"workload={args.workload}", f"data={data}", f"work={work}",
               f"out={raw_path}", f"seconds={args.seconds}",
               f"trace={args.trace}", f"seed={args.seed}", f"cores={n}",
               f"t0ms={int(t0 * 1000)}", f"keys={keys}"]
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        log = BUILD / "logs" / f"{run_id}.log"
        log.parent.mkdir(parents=True, exist_ok=True)
        with open(log, "w") as lf:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               cwd=str(work))
        if r.returncode != 0 or not raw_path.exists():
            sys.stderr.write(log.read_text()[-3000:])
            sys.exit(f"perfbench: harness failed (exit {r.returncode}); log {log}")
        raw = json.loads(raw_path.read_text())
        failures, checked = check.run(args.workload, spec, data, work / "check",
                                      work)
        result = reduce.reduce(args.workload, sizes, raw, args.trace,
                               failures, checked)
        detail = dict(result["detail"], workload=args.workload, seed=args.seed,
                      trace=args.trace, cores=n, input=sizes,
                      check_failures=failures)
        out = BUILD / "results" / f"{run_id}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(dict(detail, raw=raw), indent=1))
        print(json.dumps(detail))
        print(json.dumps(result["final"]))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
