#!/usr/bin/env python3
"""Benchmark of record for the graft library.

Usage, from the repository root:

    python3 perfbench/run.py --workload lexical_query --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark from source on first use
(perfbench/build.sh, into .bench_build/), runs one workload in one JVM on
local[<cores>] Spark with one closed-loop client, checks every op's output,
and prints one JSON result line last on stdout. --trace 0 reports the
end-to-end metrics; --trace 1 runs every op both as the untraced facade call
and as the traced layer composition and reports the per-layer metrics.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import glob
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")


def find_spark_home():
    """SPARK_HOME, or else the first Spark installation (a directory with
    jars/spark-core_*.jar) whose bin/spark-submit is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return ""


SPARK_HOME = find_spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
JVM_TIMEOUT_S = 165
# the run that writes the class-data archive; it counts as part of the build
ARCHIVING_TIMEOUT_S = 600

WORKLOADS = ("lexical_query", "kgqa")
# the op kind whose latency the workload reports
PRIMARY = {"lexical_query": "answer", "kgqa": "kgqa"}
# ops of an untraced run's check set, whose digests digests.json stores
CHECK_OPS = {"lexical_query": 5, "kgqa": 4}

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

SPARK_COUNTERS = [
    ("jobs_per_op", "count", "lower"),
    ("stages_per_op", "count", "lower"),
    ("tasks_per_op", "count", "lower"),
    ("driver_only_ms_per_op", "ms", "lower"),
    ("task_ms_per_op", "ms", "lower"),
    ("shuffle_bytes_per_op", "B", "lower"),
    ("core_busy_frac", "ratio", "higher"),
]
CHAIN_STEPS = [
    "search", "removeVersioningMetadata", "dedupResults",
    "disaggregateResults", "populateStatementStrs", "rerankStatements",
    "pruneStatements", "rescoreResults", "truncateStatements",
    "truncateRankResults", "updateChunkMetadata", "clearScores",
    "statementsToStrings", "simplifySingleTopicResults", "clearChunks",
    "joinTopics", "clearTopicIds", "formatSources",
]
GRAPH_TABLES = [
    "sources", "chunks", "topics", "topic_mentioned_in", "statements",
    "facts", "fact_supports", "entities", "entity_relations",
]
SPANS = (
    ["llm.embed", "ops.seed_topk", "retrieve.search", "retrieve.postprocess",
     "retrieve.format", "llm.complete"]
    + ["retrieve.chain." + s for s in CHAIN_STEPS]
    + ["byokg.nodes", "byokg.link", "byokg.agentic", "byokg.khop",
       "byokg.context"]
    + ["index.build"]
)
# per-op means of the counts the checks record; the index counts come from
# the set-up, which builds and writes the graph once
MEAN_COUNTS = [
    "retrieve.search_rows", "retrieve.result_rows", "retrieve.context_tokens",
    "retrieve.chain_rows", "byokg.linked_nodes", "byokg.triplets",
    "byokg.context_lines", "index.written_bytes",
]
# (name, numerator count, denominator count, better), over ops and set-up
RATIOS = [
    ("retrieve.kept_ratio", "retrieve.result_rows", "retrieve.search_rows",
     "higher"),
    ("byokg.context_ratio", "byokg.context_lines", "byokg.triplets", "higher"),
    ("index.chunks_per_doc", "index.chunks", "index.docs", "lower"),
    ("index.statements_per_doc", "index.statements", "index.docs", "lower"),
    ("index.written_bytes_per_input_byte", "index.written_bytes",
     "index.input_bytes", "lower"),
]

PER_LAYER = (
    [("spark." + n, u, b) for n, u, b in SPARK_COUNTERS]
    + [("spark.chain." + n, u, b) for n, u, b in SPARK_COUNTERS]
    + [("spark.stored_mb", "MB", "lower")]
    + [("retrieve.chain_call_ms", "ms", "lower")]
    + [(s + "_ms", "ms", "lower") for s in SPANS]
    + [("index.write.%s_ms" % t, "ms", "lower") for t in GRAPH_TABLES]
    + [(c, "B" if c.endswith("bytes") else "count", "lower")
       for c in MEAN_COUNTS]
    + [(r[0], "ratio", r[3]) for r in RATIOS]
    + [("bench.trace_overhead_frac", "ratio", "lower")]
)


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_files():
    files = []
    for base in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def build():
    """Compiles when the sources differ from the last build's."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh")],
                             stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                             env=dict(os.environ, SPARK_HOME=SPARK_HOME))
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(args, cores, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # Class data sharing: the first run after a build archives the classes
    # it loaded, later runs map the archive instead of loading those classes
    # from the jars, which shortens the cold start of every run by about
    # 10 s on 4 cores. A stale or unreadable archive is ignored by the JVM.
    archiving = not os.path.exists(CDS_ARCHIVE)
    if archiving:
        cmd.append("-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE)
    else:
        cmd.append("-XX:SharedArchiveFile=" + CDS_ARCHIVE)
    cmd += [
        "-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
        "-Dderby.system.home=" + tmp,
        "-cp", os.path.join(BUILD_DIR, "perfbench.jar") + ":" + SPARK_JARS + "/*",
        "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), str(cores), work, out,
    ]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=ARCHIVING_TIMEOUT_S if archiving
                           else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail("benchmark JVM failed (%s)" % rc)


def load_digests():
    path = os.path.join(HERE, "digests.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec):
    ops = rec["ops"]
    primary = [o["ns"] / 1e6 for o in ops if o["kind"] == PRIMARY[rec["workload"]]]
    values = {
        "setup_s": statistics.median(rec["setup_s"]),
        "latency_p50_ms": stats.percentile(primary, 50),
        "ops_per_s": (sum(1 for o in ops if not o["problems"])
                      / (sum(o["ns"] for o in ops) / 1e9)),
    }
    return {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}


def spark_counters(ops, cores):
    if not ops:
        return {n: 0.0 for n, _, _ in SPARK_COUNTERS}
    sp = [o["spark"] for o in ops]
    wall_ms = sum(o["ns"] for o in ops) / 1e6
    return {
        "jobs_per_op": mean([s["jobs"] for s in sp]),
        "stages_per_op": mean([s["stages"] for s in sp]),
        "tasks_per_op": mean([s["tasks"] for s in sp]),
        "driver_only_ms_per_op": mean([
            stats.driver_only_ms(o["start_ms"], o["end_ms"], o["spark"]["job_spans"])
            for o in ops]),
        "task_ms_per_op": mean([s["task_ms"] for s in sp]),
        "shuffle_bytes_per_op": mean([s["shuffle_bytes"] for s in sp]),
        "core_busy_frac": sum(s["task_ms"] for s in sp) / (wall_ms * cores),
    }


def per_layer(rec):
    ops = rec["ops"]
    values = {}
    kinds = {"spark.": PRIMARY[rec["workload"]], "spark.chain.": "chain"}
    for prefix, kind in kinds.items():
        c = spark_counters([o for o in ops if o["kind"] == kind], rec["cores"])
        values.update({prefix + k: v for k, v in c.items()})
    values["spark.stored_mb"] = rec["stored_mb"]
    chains = [o["ns"] / 1e6 for o in ops if o["kind"] == "chain"]
    values["retrieve.chain_call_ms"] = (
        stats.percentile(chains, 50) if chains else 0.0)

    self_ns = stats.self_times_ns(rec["spans"])
    total, seen_in = {}, {}
    for s in rec["spans"]:
        total[s["name"]] = total.get(s["name"], 0) + self_ns[(s["op"], s["id"])]
        seen_in.setdefault(s["name"], set()).add(s["op"])
    for name in SPANS:
        values[name + "_ms"] = (total.get(name, 0) / 1e6 /
                                len(seen_in[name]) if name in seen_in else 0.0)

    counts = [o["counts"] for o in ops] + [rec["setup_check"]["counts"]]
    for c in MEAN_COUNTS:
        values[c] = mean([x[c] for x in counts if c in x])
    for name, num, den, _ in RATIOS:
        d = sum(x.get(den, 0) for x in counts)
        values[name] = sum(x.get(num, 0) for x in counts) / d if d else 0.0
    # the set-up's GraphTables.write, one SQL execution per table
    written = {os.path.basename(w["path"].rstrip("/")): w["ms"]
               for w in rec["writes"]}
    for t in GRAPH_TABLES:
        values["index.write.%s_ms" % t] = float(written.get(t, 0))
    values["bench.trace_overhead_frac"] = stats.trace_overhead(
        [o for o in ops if o["kind"] != "chain"], rec["spans"], "ops.seed_topk")
    return {n: {"value": values[n], "unit": u} for n, u, _ in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources under %s/src/main/scala" % ROOT)
    if not glob.glob(os.path.join(SPARK_JARS, "spark-core_*.jar")):
        fail("no Spark jars in " + SPARK_JARS)
    build()

    cores = len(os.sched_getaffinity(0))
    name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(WORK_DIR, "run-" + name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = os.path.join(WORK_DIR, "records")
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, name + ".json")
    if os.path.exists(out):
        os.remove(out)
    try:
        run_jvm(args, cores, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as fh:
        rec = json.load(fh)

    ops = rec["ops"]
    setup_problems = list(rec["setup_check"]["problems"])
    bad = {o["id"]: list(o["problems"]) for o in ops if o["problems"]}
    # the recorded seeds' digests: the set-up's output, then the check set's
    stored = load_digests().get(args.workload, {}).get(str(args.seed))
    if stored is not None:
        if rec["setup_check"]["digest"] != stored["setup"]:
            setup_problems.append("output digest differs from the stored one")
        check = ops[:rec["check_ops"]]
        for i in stats.digest_mismatches([o["digest"] for o in check],
                                         stored["ops"]):
            bad.setdefault(check[i]["id"], []).append(
                "output digest differs from the stored one")
    for p in setup_problems:
        print("perfbench: set-up: " + p, file=sys.stderr)
    for o in ops:
        for p in bad.get(o["id"], []):
            print("perfbench: op %d (%s): %s" % (o["id"], o["kind"], p),
                  file=sys.stderr)
    metrics = per_layer(rec) if args.trace else end_to_end(rec)
    print(json.dumps({
        "correct": not bad and not setup_problems,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
