#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload clv_daily --seed 1 --seconds 25 --trace 0

Builds the harness and the repository from source on first use (sbt, cached
under .bench_build/), makes the workload's inputs from the seed, runs it in
one JVM, checks every op's output with DuckDB, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. The line before it is
the full record: environment, every metric with its sample count, and the
reason for each failed op. --trace 1 reports the per-layer metrics instead
of the end-to-end ones. Exits 1 when an op or an output check failed, 2 when
the benchmark cannot run at all. See perfbench/README.md.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import stats  # noqa: E402

# A run measures whole passes: max(1, round(seconds / pass_s)) of them,
# where pass_s is a pass's nominal length on a 4-core box. The op count is
# therefore fixed by --seconds, not by how fast the code is.
WORKLOADS = {
    "clv_daily": {"pass_s": 25, "days": 6, "setup_reps": 2},
    "query_mix": {"pass_s": 25, "setup_reps": 2},
}
# the repository's sf0.01 test corpus (TESTDATA.md), copied unchanged
CORPUS = os.path.join(HERE, "corpus")
GRAPH_QUERIES = {"q_pagerank", "q_closeness", "q_sssp", "q_kcore", "q_hits", "q_communities"}
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# the end-to-end metrics BENCHMARK.json lists; the record line has more
END_TO_END = ["setup_s", "op_p50_cpu_s", "op_tail_cpu_s", "pass_cpu_s"]
SPANS = ["pipeline.day", "io.max_id", "sim", "io.append", "io.read_snapshot", "rfm",
         "firewall", "clv.fit", "clv.score", "entry.build", "entry.action", "blocks.release"]
ROOT_SPANS = {"pipeline.day", "entry.query"}
# counter name in the harness -> (metric name, unit, divisor)
COUNTERS = {
    "sql.actions": ("sql.actions", "count", 1), "spark.jobs": ("spark.jobs", "count", 1),
    "spark.stages": ("spark.stages", "count", 1), "spark.tasks": ("spark.tasks", "count", 1),
    "spark.failed_tasks": ("spark.failed_tasks", "count", 1),
    "spark.task_run.ms": ("spark.task_run.s", "s", 1e3),
    "spark.task_cpu.ns": ("spark.task_cpu.s", "s", 1e9),
    "spark.gc.ms": ("spark.gc.s", "s", 1e3),
    "spark.sched_delay.ms": ("spark.sched_delay.s", "s", 1e3),
    "spark.input.bytes": ("spark.input.mb", "MB", 2**20),
    "spark.output.bytes": ("spark.output.mb", "MB", 2**20),
    "spark.shuffle_read.bytes": ("spark.shuffle_read.mb", "MB", 2**20),
    "spark.shuffle_write.bytes": ("spark.shuffle_write.mb", "MB", 2**20),
    "spark.spill.bytes": ("spark.spill.mb", "MB", 2**20),
    "catalyst.analysis.ms": ("catalyst.analysis.s", "s", 1e3),
    "catalyst.optimization.ms": ("catalyst.optimization.s", "s", 1e3),
    "catalyst.planning.ms": ("catalyst.planning.s", "s", 1e3),
    "codegen.compile.ns": ("codegen.compile.s", "s", 1e9),
    "codegen.classes": ("codegen.classes", "count", 1),
    "aqe.replans": ("aqe.replans", "count", 1),
    "bucket_cap.dropped_rows": ("bucket_cap.dropped_rows", "count", 1),
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def _sources():
    for base, rel in ((ROOT, "src/main"), (HERE, "src")):
        for d, _, files in os.walk(os.path.join(base, rel)):
            for f in files:
                yield os.path.join(d, f)
    for p in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        yield os.path.join(ROOT, p)


def fingerprint():
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """The runtime classpath, compiling with sbt when the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the repository sources are not next to perfbench/; run from a full checkout")
    fp = fingerprint()
    cache_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cache = os.path.join(cache_dir, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["fingerprint"] == fp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"], fp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die("sbt build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath, fp


# ---- one run ---------------------------------------------------------------

def run_jvm(classpath, work, args, cpus):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-cp", os.pathsep.join(classpath), "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    started = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno())
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"the harness JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    raw_path = os.path.join(work, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        die(f"the harness JVM exited with code {code}")
    with open(raw_path) as f:
        raw = json.load(f)
    raw["jvm_start_s"] = raw["session_ready_ms"] / 1e3 - started
    return raw


def pass_sums(ops, key="seconds"):
    sums = {}
    for o in ops:
        sums[o["pass"]] = sums.get(o["pass"], 0.0) + o[key]
    return [sums[p] for p in sorted(sums)]


def end_to_end(raw):
    ops = [o for o in raw["ops"] if not o["traced"]]
    reps = raw["setup_reps"]
    m = {}
    for suffix, key, start in (("_s", "seconds", raw["jvm_start_s"]),
                               ("_cpu_s", "cpu_seconds", raw["session_ready_cpu_s"])):
        lat = [o[key] for o in ops]
        tail, level = stats.tail(lat)
        m["setup" + suffix] = (start + statistics.median([r[key] for r in reps]), 1 + len(reps))
        m["op_p50" + suffix] = (statistics.median(lat), len(lat))
        m["op_tail" + suffix] = (tail, len(lat))
        m["pass" + suffix] = (statistics.median(pass_sums(ops, key)), len({o["pass"] for o in ops}))
    # set-up is reported in CPU seconds like the other end-to-end times
    m["setup_wall_s"], m["setup_s"] = m["setup_s"], m.pop("setup_cpu_s")
    # heap in use after each of the collector's own collections
    heap = raw["heap_after_gc_mb"]
    m["peak_heap_mb"] = (max(heap, default=0.0), len(heap))
    return {k: {"value": v, "unit": "MB" if k.endswith("_mb") else "s", "samples": n}
            for k, (v, n) in m.items()}, level


def per_layer(raw):
    """Per-pass sums over the first traced pass, which is as cold as an
    untraced run's first pass; the overhead compares the two warm passes
    after it (untraced, then traced)."""
    traced_passes = sorted({o["pass"] for o in raw["ops"] if o["traced"]})
    first = traced_passes[0]
    ops = {i: o for i, o in enumerate(raw["ops"]) if o["pass"] == first}
    spans = raw.get("spans", [])
    self_t = stats.self_times(spans)
    jobs = [(s / 1e3, e / 1e3) for s, e in raw.get("jobs", [])]
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v
    for i, o in ops.items():
        mine = [s for s in spans if s["op"] == i]
        for s in mine:
            add(f"{s['name']}.s", s["seconds"] if s["name"] in ROOT_SPANS else self_t[s["id"]])
        # op wall time that no layer span covers
        add("trace.residual.s", o["seconds"] - sum(self_t[s["id"]] for s in mine
                                                   if s["name"] not in ROOT_SPANS))
        for k, (name, _, div) in COUNTERS.items():
            add(name, o["counters"].get(k, 0) / div)
        add("driver_gap.s", stats.driver_gap(o["start_ms"] / 1e3, o["end_ms"] / 1e3, jobs))
        if o["name"] in GRAPH_QUERIES:
            add("graph.build.s", sum(self_t[s["id"]] for s in mine if s["name"] == "entry.build"))
            add("graph.jobs", o["counters"].get("spark.jobs", 0))
    by_pass = {p: sum(o["seconds"] for o in raw["ops"] if o["pass"] == p)
               for p in {o["pass"] for o in raw["ops"]}}
    plain = [v for p, v in by_pass.items() if p not in traced_passes]
    add("trace.overhead.s", statistics.median([by_pass[p] for p in traced_passes[1:]]) - statistics.median(plain))
    acc["jvm.live_heap.mb"] = max(o["counters"]["jvm.live_heap.bytes"] for o in ops.values()) / 2**20
    units = {f"{s}.s": "s" for s in SPANS}
    units.update({name: unit for name, unit, _ in COUNTERS.values()})
    units.update({"trace.residual.s": "s", "trace.overhead.s": "s", "driver_gap.s": "s",
                  "graph.build.s": "s", "graph.jobs": "count", "jvm.live_heap.mb": "MB"})
    return {k: {"value": acc.get(k, 0.0), "unit": u, "samples": len(ops)} for k, u in units.items()}


def cpu_ticks():
    """(all, steal) CPU ticks of the box so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full record (and spans, when traced) here")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    classpath, fp = build()
    cpus = len(os.sched_getaffinity(0))
    passes = max(1, round(a.seconds / w["pass_s"]))
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--work", work,
                "--setup-reps", str(w["setup_reps"]), "--trace", str(a.trace),
                "--passes", str(passes)]
        data = ""
        if a.workload == "clv_daily":
            args += ["--days", str(w["days"])]
        else:
            data = CORPUS
            args += ["--data", data, "--queries", os.path.join(HERE, "query_mix.txt")]
        steal0 = cpu_ticks()
        raw = run_jvm(classpath, work, args, cpus)
        steal1 = cpu_ticks()
        failures = {i: o["error"] for i, o in enumerate(raw["ops"]) if o["error"]}
        t0 = time.perf_counter()
        for i, reason in checks.run_all(raw, data).items():
            failures.setdefault(i, reason)
        checks_s = time.perf_counter() - t0
        if a.trace:
            metrics, level = per_layer(raw), None
        else:
            metrics, level = end_to_end(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "env": {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cpus,
                "heap_max_mb": raw["heap_max_mb"], "spark_version": raw["spark_version"],
                "spark_cores": raw["cpus"], "git_commit": git_commit(), "source_fingerprint": fp,
                "sizes": ({"days": w["days"]} if a.workload == "clv_daily" else
                          {"corpus": "sf0.01", "queries": len({o["name"] for o in raw["ops"]})}),
                "passes": passes, "ops": len(raw["ops"]), "tail_level": level,
                # share of the box's CPU time taken by the hypervisor while the JVM ran
                "cpu_steal_share": (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0])},
        "setup": {"jvm_start_s": raw["jvm_start_s"], "jvm_start_cpu_s": raw["session_ready_cpu_s"],
                  "reps": raw["setup_reps"]},
        "checks_s": checks_s,
        "metrics": metrics,
        "failures": {raw["ops"][i]["name"] + f"#{i}": r for i, r in sorted(failures.items())},
    }
    if a.out:
        with open(a.out, "w") as f:
            json.dump(dict(record, run_id=raw.get("run_id"), spans=raw.get("spans", []),
                           ops=raw["ops"]), f, indent=1)
    print(json.dumps(record))
    shown = list(metrics) if a.trace else END_TO_END
    result = {"correct": not failures, "attempted": len(raw["ops"]), "failed": len(failures),
              "metrics": {k: {"value": metrics[k]["value"], "unit": metrics[k]["unit"]} for k in shown}}
    print(json.dumps(result))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
