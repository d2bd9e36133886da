#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the harness together
with the engine sources (sbt, offline; Spark from SPARK_HOME or the
`spark-submit` on PATH) and later runs reuse the build while the sources are
unchanged. The JVM runs at local[<cpus>] with the tier-1 heap, writes its
run record, and this script checks the record's outputs against
`expected.json`, then prints one JSON line: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1.

Workloads (see BENCHMARK.json): `medallion` times graft.Pipeline.run, one
fresh run directory per pass, and ends with one re-publish into the first
pass's directory; `operator_mix` times seeded sweeps of one registry
operator per library layer. The seed sets the operator order; the tables
are the fixed ones under data/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "perfbench.jar")
STAMP = os.path.join(TARGET, "perfbench.stamp")
RUNS = os.path.join(HERE, ".runs")
JVM_LIMIT_S = 170
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


def spark_home():
    """SPARK_HOME, else the distribution of the first `spark-submit` on PATH
    that sits next to a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution: set SPARK_HOME")


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), PROGRAM_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(env):
    """Compile harness + engine unless the classes match the sources."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isfile(JAR):
        return
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, "build.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "package"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.relpath(os.path.join(RUNS, 'build.log'), ROOT)}")
    for f in os.listdir(TARGET):
        if f.endswith(".jsa"):
            os.remove(os.path.join(TARGET, f))
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def jvm_cmd(workload, cds, tmp, work, rest):
    return (["java", f"-Xmx{heap()}", cds]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
               "-cp", JAR + os.pathsep + os.path.join(spark_home(), "jars", "*"),
               "graft.perfbench.Main", "--workload", workload, "--cpus", cpus()]
            + rest)


def run_jvm(args, env, data, work, record, log_path):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Class-data sharing: after a build, one untimed training run of the
    # workload on the smallest tables dumps the classes it loaded; every
    # run then maps them instead of loading and verifying the jars' classes
    # again, which cuts JVM and session start.
    archive = os.path.join(TARGET, f"{args.workload}.jsa")
    if not os.path.isfile(archive):
        train = os.path.join(work, "train")
        os.makedirs(train)
        with open(os.path.join(RUNS, f"{args.workload}-train.log"), "w") as log:
            subprocess.run(
                jvm_cmd(args.workload, f"-XX:ArchiveClassesAtExit={archive}", tmp, work,
                        ["--seed", "0", "--seconds", "0", "--min-passes", "0", "--trace", "0",
                         "--data", os.path.join(HERE, "data", "sf0.001"), "--work", train,
                         "--out", os.path.join(train, "record.json")]),
                cwd=train, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    cmd = jvm_cmd(args.workload, f"-XX:SharedArchiveFile={archive}", tmp, work,
                  ["--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--data", data, "--work", work,
                   "--out", record])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {JVM_LIMIT_S} s")
    if code != 0 or not os.path.isfile(record):
        fail(f"JVM exited with {code}, see {os.path.relpath(log_path, ROOT)}")


def check(rec, expected):
    """(attempted, failed, correct, notes): an operation fails when it raised
    or its outputs differ from the expectation; correct means no output
    differed."""
    failed, mismatched, notes = 0, 0, []
    exp = expected[rec["workload"]]
    first_rows = next((op["rows"] for op in rec["ops"]
                       if op["name"].startswith("pipeline.run") and "rows" in op), None)
    for op in rec["ops"]:
        bad = []
        if "rows" in op and op["rows"] != exp["rows"]:
            bad.append("gold row counts differ from expected")
        if "quality" in op and op["quality"] != exp["quality"]:
            bad.append("silver quality counts differ from expected")
        if op["name"] == "replica" and "rows" in op and op["rows"] != first_rows:
            bad.append("replica row counts differ from Pipeline.run's")
        if "digest" in op and op["digest"] != exp["digests"].get(op["query"]):
            bad.append(f"digest {op['digest']} != expected {exp['digests'].get(op['query'])}")
        if bad:
            mismatched += 1
        if bad or op["error"] is not None:
            failed += 1
            notes.append(f"{op['name']}: {op['error'] or '; '.join(bad)}")
    return len(rec["ops"]), failed, mismatched == 0, notes


def trend(passes):
    """Least-squares slope of pass time per pass, as a share of the median;
    0 with fewer than two passes."""
    if len(passes) < 2:
        return 0.0
    n = len(passes)
    mx, my = (n - 1) / 2, statistics.fmean(passes)
    slope = (sum((i - mx) * (p - my) for i, p in enumerate(passes))
             / sum((i - mx) ** 2 for i in range(n)))
    return slope / statistics.median(passes)


def query_ms(queries):
    """Each query's median latency over the timed passes, geometric mean
    over the queries: every query weighs the same however long it runs,
    and the figure does not jump between queries as a pooled median of
    queries of very different cost does."""
    return statistics.geometric_mean([statistics.median(v) for v in queries.values()])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.path.join(HERE, "data", "sf0.01"),
                    help="table directory (default: data/sf0.01)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="expected outputs, keyed by table directory name")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")
    with open(args.expected) as fh:
        expected = json.load(fh)[os.path.basename(os.path.normpath(args.data))]

    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    build(env)

    os.makedirs(RUNS, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(RUNS, f"{tag}.work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = os.path.join(RUNS, f"{tag}.json")
    if os.path.exists(record):
        os.remove(record)
    try:
        run_jvm(args, env, os.path.abspath(args.data), work, record,
                os.path.join(RUNS, f"{tag}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(record) as fh:
        rec = json.load(fh)

    attempted, failed, correct, notes = check(rec, expected)
    for n in notes:
        print(f"perfbench: failed {n}", file=sys.stderr)
    passes, queries = rec["pass_s"], rec["query_ms"]
    if not passes or not queries:
        fail("no timed pass completed")
    drift = trend(passes)
    print(f"perfbench: passes {['%.3f' % p for p in passes]} s, trend {drift:+.3f}/pass",
          file=sys.stderr)
    if args.trace:
        values = dict(rec["trace"], fail_frac=failed / attempted, pass_trend_frac=drift)
        wanted = bench["per_layer"]
    else:
        values = {"setup_s": rec["setup_s"], "pass_s": statistics.median(passes),
                  "query_ms_p50": query_ms(queries),
                  "cache_mb": rec["cache_mb"]}
        wanted = bench["end_to_end"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
