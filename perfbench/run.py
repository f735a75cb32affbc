#!/usr/bin/env python3
"""graft benchmark: build the library and the benchmark from source, run one
workload in a fresh JVM, and print its report. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Workloads, their query lists and the metric definitions are in
perfbench/workloads.json. Build outputs, scratch tables and traces go to
.bench_build/ at the root of the checkout.

Environment (optional, validated): SPARK_HOME (a Spark distribution with
jars/), JAVA_HOME.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

WORKLOADS = ["olap", "iterative", "curation", "serve_ingest"]
ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
HEAP = "3g"
ARCHIVE = "classes.jsa"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    # Self-test hooks: a replacement digest file, and a query to fail.
    p.add_argument("--digests", help=argparse.SUPPRESS)
    p.add_argument("--inject-failure", help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error(f"--seed must be >= 0, got {a.seed}")
    if not 1 <= a.seconds <= 600:
        p.error(f"--seconds must be in [1, 600], got {a.seconds}")
    return a


def environment():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BenchError("SPARK_HOME is unset and spark-submit is not on PATH")
        spark_home = Path(submit).resolve().parent.parent
    spark_home = Path(spark_home)
    jars = spark_home / "jars"
    if not jars.is_dir():
        raise BenchError(f"SPARK_HOME={spark_home} has no jars/ directory")
    java_home = os.environ.get("JAVA_HOME")
    java = Path(java_home) / "bin" / "java" if java_home else shutil.which("java")
    if java is None or not Path(java).exists():
        raise BenchError(f"no java executable (JAVA_HOME={java_home!r})")
    compiler = sorted(jars.glob("scala-compiler-2.13*.jar"))
    if not compiler:
        raise BenchError(f"no scala-compiler-2.13 jar in {jars}")
    return jars, str(java), compiler[-1]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not main:
        raise BenchError(f"no library sources under {ROOT / 'src/main/scala'}")
    if not bench:
        raise BenchError(f"no benchmark sources under {BENCH / 'src'}")
    return main + bench


def build(jars, java, compiler):
    """Compile the library and the benchmark with scalac into one jar, once
    per source state, then record a class-data-sharing archive from a short
    training run. Every run starts from that archive; on a 4-core machine
    it cut each run's set-up (setup_s) by 6-7 s of class loading."""
    srcs = sources()
    h = hashlib.sha256(compiler.name.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = BUILD / "classes" / stamp[:16]
    if (out / ".ok").exists() and (out / ARCHIVE).exists():
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    scala = [str(compiler)] + [str(p) for p in sorted(jars.glob("scala-library-2.13*.jar"))
                               + sorted(jars.glob("scala-reflect-2.13*.jar"))]
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr, flush=True)
    t0 = time.time()
    r = subprocess.run([java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                        "-cp", os.pathsep.join(scala),
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                        "-classpath", str(jars / "*"), f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError(f"compilation failed (exit {r.returncode})")
    # Class-data sharing archives classes from jars only.
    with zipfile.ZipFile(out / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s; recording the class archive",
          file=sys.stderr, flush=True)

    class Training:
        seed, seconds, trace, digests, inject_failure = 0, 1, 0, None, None
    archive = out / ARCHIVE
    rc, _ = run_jvm(Training, "curation", jars, java, out, stamp,
                    share=f"-XX:ArchiveClassesAtExit={archive}")
    if rc != 0 or not archive.exists():
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError(f"the training run wrote no class archive (exit {rc})")
    (out / ".ok").write_text(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return out, stamp


def commit():
    if not (ROOT / ".git").exists():
        return "none (not a git checkout)"
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def run_jvm(args, workload, jars, java, build_dir, stamp, mode="run", timeout_s=RUN_TIMEOUT_S,
            share=None):
    """Run one benchmark JVM from the build's class archive (`share`
    replaces that flag for the training run); return (exit code, stdout
    lines)."""
    if share is None:
        if not (build_dir / ARCHIVE).exists():
            raise BenchError(f"no class archive in {build_dir}; delete it to rebuild")
        share = f"-XX:SharedArchiveFile={build_dir / ARCHIVE}"
    work = BUILD / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}", share]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(build_dir / "perfbench.jar"), str(jars / "*")]),
            "perfbench.Main",
            "--mode", mode, "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(nproc()), "--root", str(ROOT), "--work", str(work.relative_to(ROOT)),
            "--commit", commit(), "--source-hash", stamp]
    if args.digests:
        cmd += ["--digests", str(Path(args.digests).resolve().relative_to(ROOT))]
    if args.inject_failure:
        cmd += ["--inject-failure", args.inject_failure]
    # Spark prefers these variables over its spark.local.dir setting.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise BenchError(f"{workload}: run exceeded {timeout_s} s and was stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def result_of(lines):
    for line in reversed(lines):
        if line.startswith('{"correct"'):
            res = json.loads(line)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                raise BenchError(f"malformed result line: {line}")
            return res
    raise BenchError("the benchmark printed no result line")


def main(argv):
    args = parse_args(argv)
    try:
        jars, java, compiler = environment()
        build_dir, stamp = build(jars, java, compiler)
        workloads = WORKLOADS if args.workload == "all" else [args.workload]
        results, code = {}, 0
        for w in workloads:
            rc, lines = run_jvm(args, w, jars, java, build_dir, stamp)
            res = result_of(lines)
            for line in lines:
                if not line.startswith('{"correct"'):
                    print(line)
            if rc != 0:
                code = rc
            results[w] = res
    except BenchError as e:
        print(f"perfbench: error: {e}", file=sys.stderr)
        return 2
    if len(results) == 1:
        final = results[workloads[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
