#!/usr/bin/env python3
"""Flow benchmark: runs one named workload of Cascading-style flows
(`graft.SparkEntry.queries` bodies → `graft.pipes` → `graft.exec`
lowering → sink) in one JVM, checks every output against stored digests,
and prints the metrics as the last line of stdout.

    python3 perfbench/run.py --workload flows_sf0.001 --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the program and the
harness from source into .bench_build/perfbench. With --trace 0 the last
line carries the end-to-end metrics, with --trace 1 the per-layer ones; the
line before it is a summary with the run's attributes (box context,
error rate, sample counts). Per-flow records go to
.bench_work/<run>/records.jsonl as soon as each flow is measured; a run
stopped by SIGTERM prints the summary of what it finished, marked aborted.
See perfbench/LAYERS.md for the layers, metrics and workloads.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")

# a run is kept under three minutes: the JVM gets this long before it is
# stopped (--deadline overrides it for sizing runs)
JVM_DEADLINE_S = 160
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of the Spark distribution the program builds and runs
    against: $SPARK_HOME/jars, else the jars beside the first spark-submit
    on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and any(f.startswith("spark-core") for f in
                        (os.listdir(jars) if os.path.isdir(jars) else [])):
            return jars
    fail("no Spark distribution found: set SPARK_HOME")


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile the program and the harness unless the classes on disk were
    built from the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources under src/main/scala; run from the repository root")
    digest = source_hash()
    stamp = os.path.join(BUILD_DIR, "stamp")
    classes = os.path.join(BUILD_DIR, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), classes, jars],
                             stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (rc=%d)" % rc)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def load_jsonl(path):
    out = []
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        out.append(json.loads(line))
                    except ValueError:
                        pass  # a line cut by a kill
    return out


def check_outputs(records, expected):
    """Digest check of the warm-up pass. Returns the names of flows whose
    output differs from the stored expectation."""
    bad = []
    for r in records:
        if r["type"] != "flow" or r["phase"] != "warm" or not r["ok"]:
            continue
        exp = expected.get(r["flow"])
        if exp is None or r.get("rows") != exp["rows"] or (
                "digest" in exp and r.get("digest") != exp["digest"]):
            bad.append(r["flow"])
    return bad


def cpu_ticks():
    """(steal, total) CPU ticks of the box so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def summarize(args, wl, records, spans, aborted, steal_share):
    with open(os.path.join(HERE, "expected_digests.json")) as fh:
        expected = json.load(fh)[wl["sf"]]
    flows = [r for r in records if r["type"] == "flow"]
    mismatched = check_outputs(records, expected)
    threw = [r for r in flows if not r["ok"]]
    warm_done = {r["flow"] for r in flows if r["phase"] == "warm"}
    failed = len(threw) + len(mismatched)
    attempted = max(1, len(flows))
    complete = not aborted and set(wl["flows"]) <= warm_done and any(
        r["type"] == "end" for r in records)
    e2e = metrics.end_to_end(records, {f: e.get("input_rows") for f, e in expected.items()})
    boxes = [r for r in records if r["type"] == "box"]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "aborted": aborted, "error_rate": failed / attempted,
        "failed_flows": sorted({r["flow"] for r in threw} | set(mismatched)),
        "digests_checked": len(warm_done), "box": boxes,
        "cpu_steal_share": steal_share,
        "end_to_end": e2e,
    }
    if args.trace:
        spans_by_flow = {(s["pass"], s["flow"]): s["spans"] for s in spans}
        layer = metrics.per_layer(records, spans_by_flow)
        summary["per_layer"] = layer
    print(json.dumps({"summary": summary}, sort_keys=True))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = summary.get("per_layer", {}) if args.trace else e2e
    out = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            complete = False
            continue
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": complete and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--flows", help="comma-separated subset of the workload's flows")
    ap.add_argument("--passes", type=int, help="minimum timed passes")
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--dump", help="write every output as parquet under DUMP, with "
                    "the flows' oracle SQL in DUMP/oracle_sql.json")
    ap.add_argument("--data", help="read the input tables from DATA instead of "
                    "perfbench/data/<sf> (sizing runs over flows that need other tables)")
    ap.add_argument("--deadline", type=float, default=JVM_DEADLINE_S,
                    help="seconds the JVM may run before it is stopped")
    args = ap.parse_args()
    wl = dict(WORKLOADS[args.workload])
    if args.flows:
        wl["flows"] = [f for f in args.flows.split(",") if f]
    jars = spark_jars()
    classes = build(jars)
    data = os.path.abspath(args.data) if args.data else os.path.join(HERE, "data", wl["sf"])
    if not os.path.isdir(data):
        fail("input tables missing: " + data)

    # one work directory per run; earlier runs' directories are removed
    os.makedirs(WORK_ROOT, exist_ok=True)
    for d in os.listdir(WORK_ROOT):
        if d.startswith("run-"):
            shutil.rmtree(os.path.join(WORK_ROOT, d), ignore_errors=True)
    work = os.path.join(WORK_ROOT, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    records_path = os.path.join(work, "records.jsonl")
    spans_path = os.path.join(work, "spans.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--flows", ",".join(wl["flows"]), "--data", data, "--sink", wl["sink"],
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(args.cpus),
            "--records", records_path, "--spans", spans_path]
    if args.passes is not None:
        cmd += ["--passes", str(args.passes)]
    if args.dump:
        dump = os.path.abspath(args.dump)
        os.makedirs(dump, exist_ok=True)
        cmd[cmd.index("--sink") + 1] = "parquet"
        cmd += ["--out", dump, "--oracle", os.path.join(dump, "oracle_sql.json")]
    ticks0 = cpu_ticks()
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    stopped = {"signal": False}

    def on_term(signum, frame):
        stopped["signal"] = True
        proc.terminate()
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    deadline = time.time() + args.deadline
    while proc.poll() is None and not stopped["signal"] and time.time() < deadline:
        try:
            proc.wait(timeout=0.5)
        except subprocess.TimeoutExpired:
            pass
    if proc.poll() is None:
        stopped["signal"] = True
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    log.close()
    aborted = stopped["signal"] or proc.returncode != 0
    if aborted and not stopped["signal"]:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
    records = load_jsonl(records_path)
    try:
        with open(spans_path) as fh:
            spans = json.load(fh)
    except (OSError, ValueError):
        spans = []  # untraced, or the spans file was cut by a kill
    for d in ("out", "local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    summarize(args, wl, records, spans, aborted, steal / total if total else None)
    return 0 if not aborted else 1


if __name__ == "__main__":
    sys.exit(main())
