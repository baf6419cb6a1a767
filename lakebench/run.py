"""Lake benchmark: closed-loop workloads against the engine's public API.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source (lakebench/build.py), runs one workload in one JVM with Spark at
local[nproc], prints a per-metric report and, as the last stdout line, one
JSON object {correct, attempted, failed, metrics}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of BENCHMARK.json.
Exits non-zero, without a result line, when it cannot build or run, and
exits non-zero after the result line when an output check failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("promote_fanout", "acid_churn", "index_refresh")
# Spark on JDK 17 outside spark-submit needs these, as in build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("lakebench: build failed: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work", "%s-%d" % (args.workload,
                                                      os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(build.OUT, "last-%s.log" % args.workload)
    cpus = os.cpu_count() or 1
    # class data sharing: the first run of a build archives the classes it
    # loaded, later runs map them instead of loading them from the jars
    with open(build.STAMP) as fh:
        archive = os.path.join(build.OUT, "cds-%s-%s.jsa" % (
            args.workload, fh.read()[:16]))
    cds = ("-XX:SharedArchiveFile=" if os.path.isfile(archive)
           else "-XX:ArchiveClassesAtExit=") + archive
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "--add-modules=jdk.incubator.vector"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "lakebench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus),
              "--report", os.path.join(build.OUT, "report-%s-%d-%d.json" % (
                  args.workload, args.seed, args.trace))])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark"))
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=RUN_TIMEOUT_S, cwd=work,
                               env=env)
    except subprocess.TimeoutExpired:
        print("lakebench: run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S,
                                                         log_path),
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = r.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stdout.write(r.stdout)
        print("lakebench: no result line (exit %d, log: %s)" % (
            r.returncode, log_path), file=sys.stderr)
        return r.returncode or 4
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.stdout.flush()
    if r.returncode != 0 or not result["correct"]:
        print("lakebench: output checks failed (log: %s)" % log_path,
              file=sys.stderr)
        return r.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
