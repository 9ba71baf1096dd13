"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <lineage_build|query_suite>
        --seed <n> --seconds <s> --trace <0|1> [--record]

Run from the root of a graft checkout. The first run builds the repo's
sources together with the JVM side of the benchmark (perfbench/src) and
generates the base tables, all under .bench_build/; later runs reuse them
while the sources are unchanged. Every run then generates its workload from
the seed, prints the workload's properties, runs one JVM (Spark local[4],
one closed-loop client), checks the answers, and prints a detail line and,
last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. --record runs the workload's
reference inputs and stores the answers in perfbench/expected.json instead.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
EXPECTED = os.path.join(HERE, "expected.json")
CORES = 4
JVM_TIMEOUT_S = 165
SCALES = {"lineage_build": "0.001", "query_suite": "0.01"}
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars}")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        sys.exit("perfbench: run from the root of a graft checkout (no src/main/scala/graft)")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile the repo's sources and the harness into .bench_build/classes,
    list the query registry and generate the base tables, unless the stamp of
    every input is unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha1()
    for p in srcs + [os.path.join(HERE, "datagen.py")]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp, stamp_file = h.hexdigest(), os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building (sources changed or first run)")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    subprocess.run([java(), "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
                    "-usejavacp", "-nowarn", "-d", CLASSES] + srcs, check=True,
                   stdout=sys.stderr)
    subprocess.run(jvm_cmd(["--registry", os.path.join(BUILD, "registry.tsv")], BUILD),
                   check=True, stdout=sys.stderr, stderr=sys.stderr)
    import datagen
    for sf in sorted(set(SCALES.values())):
        datagen.write(os.path.join(BUILD, "data", f"sf{sf}"), float(sf))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def jvm_cmd(args, tmp):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ([java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m"] + opens +
            [f"-Djava.io.tmpdir={tmp}", "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}",
             "perfbench.Harness"] + args)


def load_expected():
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            return json.load(f)
    return {}


# ---------------------------------------------------------------- host load

def _busy_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4]  # everything but idle and iowait


def _proc_jiffies(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return int(rest[11]) + int(rest[12])  # utime + stime
    except (OSError, IndexError):
        return None


class HostLoad:
    """Samples busy cores of the whole host minus this process tree's own
    (the JVM's and this script's) once a second while the JVM runs."""

    def __init__(self, pid):
        self.pid, self.samples, self.stop = pid, [], threading.Event()
        self.load_before = os.getloadavg()[0]
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _own(self):
        child = _proc_jiffies(self.pid)
        return None if child is None else child + _proc_jiffies(os.getpid())

    def _loop(self):
        hz = os.sysconf("SC_CLK_TCK")
        t0, b0, o0 = time.monotonic(), _busy_jiffies(), self._own()
        while not self.stop.wait(1.0):
            t1, b1, o1 = time.monotonic(), _busy_jiffies(), self._own()
            if o0 is not None and o1 is not None:
                self.samples.append(max(0.0, ((b1 - b0) - (o1 - o0)) / hz / (t1 - t0)))
            t0, b0, o0 = t1, b1, o1

    def finish(self):
        self.stop.set()
        self.thread.join()
        s = self.samples
        return {"external_busy_cores_mean": round(statistics.fmean(s), 3) if s else None,
                "external_busy_cores_max": round(max(s), 3) if s else None,
                "samples": len(s), "loadavg1_before": self.load_before,
                "loadavg1_after": os.getloadavg()[0]}


# ---------------------------------------------------------------- one run

def run_jvm(inp, work, timeout):
    in_path, out_path = os.path.join(work, "input.json"), os.path.join(work, "out.json")
    os.makedirs(os.path.join(work, "tmp"))
    inp["launch_ms"] = int(time.time() * 1000)
    with open(in_path, "w") as f:
        json.dump(inp, f)
    log_path = os.path.join(BUILD, f"{inp['workload']}.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(jvm_cmd([in_path, out_path], os.path.join(work, "tmp")),
                                stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        load = HostLoad(proc.pid)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            host = load.finish()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: JVM failed ({rc}); log in {log_path}")
    # keep the last run's raw output and spans beside its log
    shutil.copy(out_path, os.path.join(BUILD, f"{inp['workload']}.out.json"))
    if inp["trace"]:
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(BUILD, f"{inp['workload']}.spans.json"))
    with open(out_path) as f:
        return json.load(f), host


def pct(values, q):
    """Nearest-rank percentile of a non-empty list."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


# ---------------------------------------------------------------- checks

def check_query_suite(out, expected, checks):
    rec = expected.get("query_suite", {}).get("queries", {})
    bad = []
    for name, w in out["warm"].items():
        r = rec.get(name)
        if "error" in w or r is None or (w["rows"], w["hash"]) != (r["rows"], r["hash"]):
            bad.append(name)
    checks["query_answers"] = {"rule": "warm-pass rows and content hash equal recorded",
                               "checked": len(out["warm"]), "failed": bad}
    return len(bad)


def check_lineage_build(out, expected, checks, replicas):
    single = expected["lineage_build"]["single"]
    want = {k: replicas * single[k] for k in ("edges", "links", "docs")}
    bad = [i for i, b in enumerate(out["builds"])
           if any(b[k] != v for k, v in want.items()) or b["closure_mismatch"]]
    checks["lineage"] = {"rule": "edges, links, docs = K x single replica; closures = own BFS",
                         "expected": want, "builds": len(out["builds"]), "failed": bad}
    return len(bad)


# ---------------------------------------------------------------- metrics

def end_to_end(out, ops):
    lat = [o["s"] for o in ops]
    wall = sum(lat)
    return {"setup_s": (out["setup_s"], "s"),
            "op_p50_ms": (1e3 * statistics.median(lat), "ms"),
            "ops_per_s": (len(ops) / wall, "1/s"),
            "peak_rss_mb": (out["peak_rss_mb"], "MB")}


def workload_figures(workload, out, ops, attempted, failed):
    """Per-workload figures for the detail line (see README.md)."""
    m = {"error_rate": failed / attempted, "peak_rss_mb": out["peak_rss_mb"],
         "setup_s": out["setup_s"], "ops": len(ops)}
    if workload == "lineage_build":
        m["build_s"] = statistics.median(o["s"] for o in ops)
    if workload == "query_suite":
        v = [o["s"] for o in ops]
        m["suite_s"] = sum(v) / out["passes"]
        m["query_p50_s"], m["query_p90_s"] = pct(v, 0.5), pct(v, 0.9)
        m["cache_storage_mb"] = out["cache_storage_b"] / 2**20
    return m


LAYER_METRICS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.idle_core_s",
              "spark.task_run_s", "spark.task_cpu_s", "spark.shuffle_read_mb",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.peak_exec_mem_mb",
              "jvm.gc_s", "query.build_s", "query.build_jobs", "query.plan_s",
              "query.exec_s", "plancache.selfheals", "plancache.rewarm_s",
              "extract.s", "lineage.edges_s", "lineage.stitch_s", "lineage.closure_s",
              "qa.corpus_s", "qa.embed_s", "render.html_s", "artifacts.write_s",
              "lineage.edges", "lineage.links", "qa.docs", "render.html_bytes",
              "cache.storage_mb", "setup.materialize_s", "setup.warm_s",
              "unattributed_s", "trace.overhead_pct"]
SPAN_METRIC = {"query.build": "query.build_s", "query.plan": "query.plan_s",
               "query.exec": "query.exec_s", "extract": "extract.s",
               "lineage.edges": "lineage.edges_s", "lineage.stitch": "lineage.stitch_s",
               "lineage.closure": "lineage.closure_s", "qa.corpus": "qa.corpus_s",
               "qa.embed": "qa.embed_s", "render.html": "render.html_s",
               "artifacts.write": "artifacts.write_s"}
MB = 2**20


def per_layer(workload, out, ops, modules):
    """Per-layer figures of a traced run. Times and counts are per build on
    lineage_build and per pass over the subset on query_suite."""
    tr = out["trace"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    n = len(traced)
    if workload == "query_suite":
        n = n / len({o["name"] for o in ops})  # traced share of one pass
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update({f"module.{mod}.wall_s": 0.0 for mod in sorted(set(modules.values()))})
    ph = tr["phases"].values()
    tot = lambda k: sum(p[k] for p in ph)
    m["spark.jobs"], m["spark.stages"], m["spark.tasks"] = (tot(k) / n for k in
                                                          ("jobs", "stages", "tasks"))
    m["spark.task_run_s"], m["spark.task_cpu_s"] = tot("task_run_s") / n, tot("task_cpu_s") / n
    m["spark.idle_core_s"] = (tr["exec_wall_s"] * CORES - tot("task_run_s")) / n
    m["spark.shuffle_read_mb"] = tot("shuffle_read_b") / MB / n
    m["spark.shuffle_write_mb"] = tot("shuffle_write_b") / MB / n
    m["spark.spill_mb"] = tot("spill_b") / MB / n
    m["spark.peak_exec_mem_mb"] = max([p["peak_exec_mem_b"] for p in ph] or [0]) / MB
    m["jvm.gc_s"] = out["timed_gc_s"] / (len(ops) if workload != "query_suite"
                                         else out["passes"])
    for span, metric in SPAN_METRIC.items():
        m[metric] = tr["self_s"].get(span, 0.0) / n
    m["unattributed_s"] = sum(v for k, v in tr["self_s"].items()
                              if k in ("query", "build")) / n
    m["setup.materialize_s"] = out["setup"].get("materialize_s", 0.0)
    m["setup.warm_s"] = out["setup"].get("warm_s", 0.0)
    m["cache.storage_mb"] = out.get("cache_storage_b", 0) / MB
    if workload == "query_suite":
        m["query.build_jobs"] = tr["phases"].get("query.build", {}).get("jobs", 0) / n
        m["plancache.selfheals"] = out["selfheals"]
        m["plancache.rewarm_s"] = out["setup"]["rewarm_s"]
        for o in ops:
            m[f"module.{modules[o['name']]}.wall_s"] += o["s"] / out["passes"]
        paired = {o["name"]: o["s"] for o in untraced}
        both = [o for o in traced if o["name"] in paired]
        base = sum(paired[o["name"]] for o in both)
        m["trace.overhead_pct"] = 100 * (sum(o["s"] for o in both) - base) / base
    else:
        if untraced:
            base = statistics.median(o["s"] for o in untraced)
            m["trace.overhead_pct"] = 100 * (statistics.median(o["s"] for o in traced)
                                             - base) / base
    if workload == "lineage_build":
        b = out["builds"][-1]
        m["lineage.edges"], m["lineage.links"] = b["edges"], b["links"]
        m["qa.docs"], m["render.html_bytes"] = b["docs"], b["html_bytes"]
    units = {"count": ("jobs", "stages", "tasks", "edges", "links", "docs", "selfheals"),
             "MB": ("_mb",), "bytes": ("_bytes",), "%": ("_pct",)}
    def unit(k):
        for u, keys in units.items():
            if any(k.endswith(x) for x in keys):
                return u
        return "s"
    return {k: (v, unit(k)) for k, v in m.items()}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    build()
    expected = load_expected()
    registry = [tuple(l.rstrip("\n").split("\t"))
                for l in open(os.path.join(BUILD, "registry.tsv"))]
    modules = {name: mod for mod, name in registry}

    w = a.workload
    if w == "lineage_build":
        gen, props = workloads.lineage_build(
            a.seed, expected.get("lineage_build", {}).get("single",
                                                          {"edges": 0, "links": 0, "docs": 0}))
    else:
        gen, props = workloads.query_suite(
            a.seed, registry, expected.get("query_suite", {}).get("queries", {}))
        if a.record:
            gen["queries"] = [n for _, n in registry]
    if a.record and w == "lineage_build":
        gen["replicas"] = 1
    print(json.dumps({"workload": w, "seed": a.seed, "properties": props}), flush=True)

    work = os.path.join(BUILD, "run", f"{w}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inp = dict(gen, workload=w, seconds=a.seconds, trace=bool(a.trace), cores=CORES,
                   work_dir=work, data_dir=os.path.join(BUILD, "data", f"sf{SCALES[w]}"))
        out, host = run_jvm(inp, work, 3600 if a.record else JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.record:
        record(w, out, expected)
        return
    ops = out["ops"]
    checks = {"warm_failures": out["warm_failures"]}
    failed = sum(not o["ok"] for o in ops) + len(out["warm_failures"])
    if w == "query_suite":
        failed += check_query_suite(out, expected, checks)
    else:
        failed += check_lineage_build(out, expected, checks, gen["replicas"])
    attempted = max(1, len(ops))
    metrics = (per_layer(w, out, ops, modules) if a.trace else end_to_end(out, ops))
    print(json.dumps({"workload": w, "seed": a.seed, "host": host, "checks": checks,
                      "setup": out["setup"],
                      "figures": workload_figures(w, out, ops, attempted, failed)}), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}), flush=True)


def record(w, out, expected):
    """Store the reference answers of workload `w` in expected.json."""
    if w == "query_suite":
        bad = {n: v["error"] for n, v in out["warm"].items() if "error" in v}
        if bad:
            sys.exit(f"perfbench: cannot record, queries failed: {bad}")
        expected["query_suite"] = {"scale": SCALES[w], "queries": {
            n: {"rows": v["rows"], "hash": v["hash"]} for n, v in sorted(out["warm"].items())}}
    else:
        b = out["builds"][0]
        expected["lineage_build"] = {"scale": SCALES[w], "single": {
            k: b[k] for k in ("edges", "links", "docs")}}
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {w} into {EXPECTED}")


if __name__ == "__main__":
    main()
