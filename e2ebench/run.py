#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 e2ebench/run.py --workload NAME --seed N --seconds S --trace 0|1
                            [--out FILE]

Builds the benchmark program (e2ebench/build.sbt, which compiles graft
from the repository root) when its sources changed, runs one workload
in one fresh JVM, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics of a traced run. --out
appends the full record of the run (raw measurements, every metric) as
one JSON line to FILE, the input of diff.py. The work of a run is fixed
per workload, sized for --seconds 8; --seconds is recorded, not used to
scale the work, so all runs of a workload are comparable. All generated inputs and outputs live under .bench_work/ in the checkout
and are removed when the run ends. See README.md for the metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ref_pipeline", "ann_serve", "corpus_curation")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# name -> (unit, better); the order is the order of the output.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "retained_heap_mb": ("MB", "lower"),
    "recall": ("ratio", "higher"),
}


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------- build

def build_inputs():
    """Files whose content decides the build."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile graft and the benchmark if needed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("e2ebench: graft sources not found next to the benchmark; "
                         "run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp_path = os.path.join(HERE, "target", "build-stamp")
    cp_path = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_path) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building (sbt writeClasspath)")
    t0 = time.time()
    run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], HERE, env,
              BUILD_LIMIT_S, "sbt build")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_path, "w") as fh:
        fh.write(h.hexdigest())
    with open(cp_path) as fh:
        return fh.read().strip()


def run_child(cmd, cwd, env, limit, what):
    """Run cmd with its output on our stderr; kill its process group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1, limit))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"e2ebench: {what} did not finish within {limit:.0f} s")
    if rc != 0:
        raise SystemExit(f"e2ebench: {what} failed with exit code {rc}")


# ------------------------------------------------------------------ host size

def host_sizing():
    """local[nproc], heap = half of MemTotal capped to [2, 8] GiB."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    heap = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    heap = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cpus, heap


# ------------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples):
    """The highest whole percentile with at least 10 samples beyond it.

    Returns (percentile, value) by the nearest-rank rule, or None when
    there are 10 samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None
    p = math.floor(100 * (n - 10) / n)
    i = max(0, math.ceil(p * n / 100) - 1)
    return p, sorted(samples)[i]


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_table(trace):
    """Per-span self time, job coverage and attributed queries."""
    spans = trace.get("spans", [])
    groups = trace.get("groups", {})
    jobs = trace.get("jobs", [])
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p in by_id:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    jobs_of = {}
    for g, a, b, _ok in jobs:
        if a is not None and b is not None:
            jobs_of.setdefault(g, []).append((a, b))
    rows = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        dur = b - a
        self_ms = dur - union_ms([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])], a, b)
        in_jobs = union_ms(jobs_of.get(s["group"], []), a, b)
        rows[s["id"]] = {
            "span": s, "dur_ms": dur, "self_ms": self_ms,
            "outside_jobs_ms": max(0.0, self_ms - in_jobs),
            "c": groups.get(s["group"], {}), "planning_ms": 0.0, "files_read": 0.0,
        }
    for start, planning_ms, files in trace.get("queries", []):
        if start is None:
            continue
        inside = [s for s in spans if s["start_ms"] <= start <= s["end_ms"]]
        if inside:
            s = max(inside, key=lambda x: depth[x["id"]])
            rows[s["id"]]["planning_ms"] += planning_ms
            rows[s["id"]]["files_read"] += files
    return rows


# name -> unit, in output order.
PER_LAYER = dict([
    ("scan.self_s", "s"), ("scan.input_bytes", "bytes"),
    ("functions.dot.ns_per_pair", "ns"), ("functions.nearest_centroid.ns_per_dist", "ns"),
    ("functions.bpe.ns_per_byte", "ns"),
    ("Ivf.save.self_s", "s"), ("Ivf.save.files_written", "count"),
    ("Ivf.save.output_bytes", "bytes"), ("Ivf.save.shuffle_bytes", "bytes"),
    ("Ivf.load.self_s", "s"),
    ("Ivf.search.self_s", "s"), ("Ivf.search.planning_s", "s"), ("Ivf.search.outside_jobs_s", "s"),
    ("Ivf.search.jobs", "count"), ("Ivf.search.tasks", "count"), ("Ivf.search.files_read", "count"),
    ("Ivf.search.rows_examined_per_result", "ratio"),
    ("Ivf.searchBatch.self_s", "s"), ("Ivf.searchBatch.rows_examined_per_result", "ratio"),
    ("Ivf.searchBatch.shuffle_records_per_result", "ratio"),
    ("Ivf.appendWith.self_s", "s"), ("Ivf.appendWith.files_written", "count"),
    ("Ivf.appendWith.bytes_written_per_input_byte", "ratio"),
    ("Knn.topKDotBatch.self_s", "s"), ("Scan.globalIndex.self_s", "s"),
    ("Scan.globalIndex.shuffle_bytes", "bytes"), ("Scan.exportJson.self_s", "s"),
    ("Metadata.describeFiles.self_s", "s"), ("TextAnalysis.tokenCount.self_s", "s"),
    ("TextAnalysis.tokenCost.self_s", "s"), ("TextAnalysis.chunkPack.self_s", "s"),
    ("CorpusPipeline.prepare.self_s", "s"), ("CorpusPipeline.prepare.exec_cpu_s", "s"),
    ("CorpusPipeline.prepare.shuffle_bytes", "bytes"), ("CorpusPipeline.prepare.spill_bytes", "bytes"),
    ("CorpusPipeline.prepare.peak_exec_mem_bytes", "bytes"),
    ("CorpusPipeline.prepare.shuffle_records_per_doc", "ratio"),
    ("Clusters.dupClusters.self_s", "s"), ("Clusters.dupClusters.jobs", "count"),
    ("Clusters.dupClusters.pinned_rdds_after", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_failures", "count"),
    ("spark.exec_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.sched_wait_s", "s"),
    ("spark.planning_s", "s"), ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.cpu_utilization", "ratio"),
    ("serve.search_p50_ms", "ms"), ("serve.search_tail_ms", "ms"), ("serve.search_tail_pct", "%"),
    ("serve.append_p50_ms", "ms"), ("serve.batch_qps", "1/s"),
    ("ref.index_bytes_per_input_byte", "ratio"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace.unattributed_s", "s"), ("trace.overhead_s", "s"),
])


def serve_metrics(raw):
    """ann_serve's request-level figures and ref_pipeline's index size,
    from an untraced run."""
    lat = raw.get("latency_ms", {})
    out = {}
    search = lat.get("search", [])
    if search:
        out["serve.search_p50_ms"] = median(search)
        tail = tail_percentile(search)
        if tail:
            out["serve.search_tail_pct"], out["serve.search_tail_ms"] = tail
    if lat.get("append"):
        out["serve.append_p50_ms"] = median(lat["append"])
    if lat.get("batch"):
        out["serve.batch_qps"] = raw["sizes"]["panel"] / (median(lat["batch"]) / 1e3)
    ratio = raw.get("extra", {}).get("index_bytes_per_input_byte")
    if ratio is not None:
        out["ref.index_bytes_per_input_byte"] = ratio
    return out


def layer_metrics(raw, plain):
    """Every per-layer metric of a traced run; 0 for a layer the workload
    never calls. `plain` is the untraced run of the same seed."""
    trace = raw.get("trace") or {}
    rows = list(span_table(trace).values())
    ps = raw["pass"]

    def calls(name):
        return [r for r in rows if r["span"]["name"] == name]

    def med(name, f):
        return median([f(r) for r in calls(name)])

    def tot(name, f):
        return sum(f(r) for r in calls(name))

    def ctr(k):
        return lambda r: r["c"].get(k, 0.0)

    def attr(k):
        return lambda r: r["span"]["attrs"].get(k, 0.0)

    def ratio(a, b):
        return a / b if b else 0.0

    m = {k: 0.0 for k in PER_LAYER}
    for name in ("Ivf.save", "Ivf.load", "Ivf.search", "Ivf.searchBatch", "Ivf.appendWith",
                 "Knn.topKDotBatch", "Scan.globalIndex", "Scan.exportJson", "Metadata.describeFiles",
                 "TextAnalysis.tokenCount", "TextAnalysis.tokenCost", "TextAnalysis.chunkPack",
                 "CorpusPipeline.prepare", "Clusters.dupClusters"):
        m[f"{name}.self_s"] = med(name, lambda r: r["self_ms"] / 1e3)
    m["scan.self_s"] = med("scan", lambda r: r["self_ms"] / 1e3)
    m["scan.input_bytes"] = sum(r["c"].get("input_bytes", 0.0) for r in rows)

    m["functions.dot.ns_per_pair"] = ratio(tot("Knn.topKDotBatch", ctr("exec_cpu_ns")),
                                           tot("Knn.topKDotBatch", lambda r: attr("queries")(r) * attr("rows")(r)))
    m["functions.nearest_centroid.ns_per_dist"] = ratio(tot("Ivf.save", ctr("exec_cpu_ns")),
                                                        tot("Ivf.save", lambda r: attr("rows")(r) * attr("cells")(r)))
    m["functions.bpe.ns_per_byte"] = ratio(tot("TextAnalysis.tokenCount", ctr("exec_cpu_ns")),
                                           tot("TextAnalysis.tokenCount", attr("text_bytes")))

    m["Ivf.save.files_written"] = med("Ivf.save", attr("files_written"))
    m["Ivf.save.output_bytes"] = med("Ivf.save", attr("output_bytes"))
    m["Ivf.save.shuffle_bytes"] = med("Ivf.save", ctr("shuffle_write_bytes"))
    m["Ivf.search.planning_s"] = med("Ivf.search", lambda r: r["planning_ms"] / 1e3)
    m["Ivf.search.outside_jobs_s"] = med("Ivf.search", lambda r: r["outside_jobs_ms"] / 1e3)
    m["Ivf.search.jobs"] = med("Ivf.search", ctr("jobs"))
    m["Ivf.search.tasks"] = med("Ivf.search", ctr("tasks"))
    m["Ivf.search.files_read"] = med("Ivf.search", lambda r: r["files_read"])
    m["Ivf.search.rows_examined_per_result"] = ratio(tot("Ivf.search", ctr("input_records")),
                                                     tot("Ivf.search", attr("results")))
    m["Ivf.searchBatch.rows_examined_per_result"] = ratio(tot("Ivf.searchBatch", ctr("input_records")),
                                                          tot("Ivf.searchBatch", attr("results")))
    m["Ivf.searchBatch.shuffle_records_per_result"] = ratio(
        tot("Ivf.searchBatch", ctr("shuffle_write_records")), tot("Ivf.searchBatch", attr("results")))
    m["Ivf.appendWith.files_written"] = med("Ivf.appendWith", attr("files_written"))
    m["Ivf.appendWith.bytes_written_per_input_byte"] = ratio(tot("Ivf.appendWith", attr("output_bytes")),
                                                             tot("Ivf.appendWith", attr("input_bytes")))
    m["Scan.globalIndex.shuffle_bytes"] = med("Scan.globalIndex", ctr("shuffle_write_bytes"))
    p = "CorpusPipeline.prepare"
    m[f"{p}.exec_cpu_s"] = med(p, lambda r: ctr("exec_cpu_ns")(r) / 1e9)
    m[f"{p}.shuffle_bytes"] = med(p, ctr("shuffle_write_bytes"))
    m[f"{p}.spill_bytes"] = med(p, ctr("disk_spill_bytes"))
    m[f"{p}.peak_exec_mem_bytes"] = max([ctr("peak_exec_mem_bytes")(r) for r in calls(p)] or [0.0])
    m[f"{p}.shuffle_records_per_doc"] = ratio(tot(p, ctr("shuffle_write_records")), tot(p, attr("docs")))
    m["Clusters.dupClusters.jobs"] = med("Clusters.dupClusters", ctr("jobs"))
    m["Clusters.dupClusters.pinned_rdds_after"] = med("Clusters.dupClusters", attr("pinned_rdds_after"))

    def all_spans(k):
        return sum(r["c"].get(k, 0.0) for r in rows)

    m["spark.jobs"] = all_spans("jobs")
    m["spark.tasks"] = all_spans("tasks")
    m["spark.task_failures"] = all_spans("task_failures")
    m["spark.exec_cpu_s"] = all_spans("exec_cpu_ns") / 1e9
    m["spark.gc_s"] = ps["gc_s"]
    m["spark.sched_wait_s"] = all_spans("sched_wait_ms") / 1e3
    m["spark.planning_s"] = sum(r["planning_ms"] for r in rows) / 1e3
    m["spark.shuffle_write_bytes"] = all_spans("shuffle_write_bytes")
    m["spark.spill_bytes"] = all_spans("disk_spill_bytes")
    m["spark.cpu_utilization"] = ratio(m["spark.exec_cpu_s"], ps["wall_s"] * raw["cpus"])

    top = [(r["span"]["start_ms"], r["span"]["end_ms"]) for r in rows if r["span"]["parent"] == -1]
    covered = union_ms(top, ps["start_ms"], ps["end_ms"])
    m["trace.unattributed_s"] = max(0.0, ps["wall_s"] - covered / 1e3)
    m["trace.overhead_s"] = end_to_end(raw)["wall_s"] - end_to_end(plain)["wall_s"]
    m["jvm.peak_rss_mb"] = plain["peak_rss_mb"]
    m.update(serve_metrics(plain))
    return m


def end_to_end(raw):
    return {
        "setup_s": median(raw["setup_s"]),
        "wall_s": raw["pass"]["wall_s"],
        "cpu_s": raw["pass"]["cpu_s"],
        "retained_heap_mb": raw["retained_heap_mb"],
        "recall": raw["recall"],
    }


def contention(raw):
    c = raw["contention"]
    share = c["other_cpu_s"] / max(1e-9, c["region_wall_s"] * c["host_cpus"])
    return {"other_cpu_s": c["other_cpu_s"], "other_cpu_share": share, "contended": share > 0.10}


def result_line(runs, values, units):
    return {
        "correct": all(r["failed"] == 0 for r in runs),
        "attempted": max(1, sum(int(r["attempted"]) for r in runs)),
        "failed": sum(int(r["failed"]) for r in runs),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


# ---------------------------------------------------------------------- main

def run_jvm(a, cp, traced, t0):
    """One run of the workload in a fresh JVM; returns its raw record."""
    cpus, heap = host_sizing()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = [java, "-XX:-UsePerfData", f"-Xmx{heap}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "e2ebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--trace", "1" if traced else "0", "--cpus", str(cpus), "--work", work, "--result", raw_path]
    try:
        log(f"{a.workload} seed={a.seed} seconds={a.seconds} traced={traced} "
            f"local[{cpus}] heap={heap}g")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        run_child(cmd, work, env, RUN_LIMIT_S - (time.time() - t0), "benchmark JVM")
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    guard = contention(raw)
    log(f"checksums {json.dumps(raw['checksums'], sort_keys=True)}")
    log(f"contention: other processes used {guard['other_cpu_s']:.2f} CPU s "
        f"({100 * guard['other_cpu_share']:.1f}% of the host) during the timed region"
        + (" -- CONTENDED" if guard["contended"] else ""))
    for f in raw["failures"]:
        log(f"FAILED {f}")
    return raw


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--out", help="append the full record of this run to this JSON-lines file")
    a = ap.parse_args(argv)
    cp = build()
    t0 = time.time()
    # A traced run is the untraced run followed by a traced run of the
    # same seed; the untraced one gives the overhead and serving figures.
    plain = run_jvm(a, cp, False, t0)
    record = dict(plain, seconds=a.seconds, end_to_end=end_to_end(plain), contention_guard=contention(plain))
    if a.trace:
        traced = run_jvm(a, cp, True, t0)
        metrics = layer_metrics(traced, plain)
        line = result_line([plain, traced], metrics, PER_LAYER)
        record.update(traced_run=traced, per_layer=metrics)
    else:
        units = {k: u for k, (u, _) in END_TO_END.items()}
        line = result_line([plain], record["end_to_end"], units)
        record["per_layer"] = serve_metrics(plain)
    if a.out:
        with open(a.out, "a") as fh:
            fh.write(json.dumps(dict(record, result=line)) + "\n")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
