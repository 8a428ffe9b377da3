#!/usr/bin/env python3
"""perfbench: the graph-ETL engine's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. builds the program (`src/main/scala`) and the harness (`perfbench/harness`)
   with the Scala compiler shipped in Spark's jars, into `.bench_build/`
   (skipped when the sources are unchanged);
2. generates the workload's input from the seed (`gen.py`) into a fresh
   directory, so staged artifacts keyed on the input path are rebuilt;
3. runs the harness JVM once: one cold pass, warm passes for S seconds,
   then an untimed output dump. The JVM gets a private /tmp (a bind mount
   of the run directory) so the program's /tmp staging stays in the run;
4. checks every op's output in DuckDB (`check.py`), derives the metrics
   and prints them; the last stdout line is one JSON object with
   `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
   `--trace 0`, per-layer metrics with `--trace 1`);
5. deletes everything the run wrote except the build, the oracle cache and,
   for a traced run, its spans and job records in `.perfbench_traces/`.

Workloads, metric definitions and the host baseline: `perfbench/README.md`.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")
TRACES = os.path.join(ROOT, ".perfbench_traces")
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if shutil.which("spark-submit") else "")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
JVM_TIMEOUT_S = 160
MIB = 1024 * 1024

# registry ops by the layer (package) whose operators they exercise
REGISTRY_MIX = {
    "ext": ["q_prefix_join", "q_bm25"],
    "operators": ["q1_pricing_summary", "q3_shipping", "q_cube", "q_mapping_join", "q_auto_map",
                  "q_sanitize"],
}
WORKLOADS = ["etl_pipeline", "registry_mix"]
LAYERS = ["etl", "graph", "ext", "operators"]
LAYER_FIELDS = ["wall_ms", "cold_ms", "jobs", "tasks", "task_ms", "cpu_ms", "gc_ms",
                "parallelism", "driver_ms", "shuffle_bytes", "spill_bytes", "scan_bytes"]

JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- build ---------------------------------------------------------------

def _sources(pattern):
    return sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(srcs, out, classpath):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join(classpath)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", cp, "-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")


def build():
    """Compile the program and the harness unless both are up to date."""
    program = _sources("src/main/scala/**/*.scala")
    harness = _sources("perfbench/harness/*.scala")
    if not program:
        fail("no program sources under src/main/scala (run from the repository root)")
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {SPARK_JARS}")
    stamp = os.path.join(BUILD, "stamp")
    want = _digest(program + harness)
    classes, hclasses = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        os.makedirs(BUILD, exist_ok=True)
        _scalac(program, classes, jars)
        _scalac(harness, hclasses, [classes] + jars)
        with open(stamp, "w") as f:
            f.write(want)
    return [hclasses, classes, os.path.join(SPARK_JARS, "*")]


# -- one JVM run -----------------------------------------------------------

def _check_private_tmp():
    try:
        ok = subprocess.run(["unshare", "-m", "--propagation", "private", "true"],
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0
    except OSError:
        ok = False
    if not ok:
        fail("needs `unshare -m` (a private mount namespace) to give the JVM its own /tmp")


def run_jvm(classpath, args, work):
    """Run the harness; returns its result.json. The program stages under
    /tmp, so the JVM runs in a private mount namespace whose /tmp is the
    run's own directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", ":".join(classpath), "perfbench.Harness"] + args
    cmd = ["unshare", "-m", "--propagation", "private", "sh", "-c",
           'mount --bind "$0" /tmp && exec "$@"', tmp] + java
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}")
    return json.load(open(result))


# -- metrics ---------------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_s(p):
    return (p["end_ms"] - p["start_ms"] - p["gc_ms"]) / 1000.0


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def end_to_end(res, input_bytes):
    return {
        "setup_s": ((res["cold_end_ms"] - res["jvm_start_ms"]) / 1000.0, "s"),
        # a typical warm pass: each op's median over the measured passes, summed
        "pass_s": (sum(w for _, w in op_times(res).values()) / 1000.0, "s"),
        "retained_heap_mb": (res["retained_bytes"] / MIB, "MiB"),
        "disk_bytes_per_input_byte": (res["stored_bytes"] / input_bytes, "ratio"),
    }


def measured(res):
    """The warm passes the metrics use: the second half. The first half
    still carries JIT and codegen warm-up; over nine registry_mix warm
    passes the op times kept falling through pass 4 and varied most from
    run to run in passes 1-3."""
    n = max(p["index"] for p in res["passes"])
    return {p["index"] for p in res["passes"] if p["index"] > n / 2}


def op_times(res):
    """{op: (cold ms, median ms over the measured warm passes)} in pass order."""
    warm = measured(res)
    out = {}
    for s in res["spans"]:
        if s["name"].startswith("op:") and (s["pass"] == 0 or s["pass"] in warm):
            out.setdefault(s["name"][3:], ([], []))[s["pass"] > 0].append(s["end_ms"] - s["start_ms"])
    return {op: (sum(c), _median(w)) for op, (c, w) in out.items()}


def per_layer(res):
    spans = {s["id"]: s for s in res["spans"]}
    passes = {p["index"]: p for p in res["passes"]}
    warm = measured(res)
    traced = [p["index"] for p in res["passes"] if p["index"] in warm and p["traced"]]
    untraced = [p["index"] for p in res["passes"] if p["index"] in warm and not p["traced"]]

    def op_of(sid):
        while sid in spans and not spans[sid]["name"].startswith("op:"):
            sid = spans[sid]["parent"]
        return spans.get(sid)

    jobs_by_op = {}
    unattributed = {}
    intervals = [(j["start_ms"], j["end_ms"]) for j in res["jobs"] if j["end_ms"] >= 0]
    for j in res["jobs"]:
        op = op_of(j["span"]) if j["span"] else None
        if op is None:
            for i in traced:
                p = passes[i]
                if p["start_ms"] <= j["start_ms"] <= p["end_ms"]:
                    unattributed[i] = unattributed.get(i, 0) + j["task_ms"]
        else:
            jobs_by_op.setdefault(op["id"], []).append(j)

    ops = [s for s in res["spans"] if s["name"].startswith("op:")]

    def attributed(i):
        return sum(j["task_ms"] for s in ops if s["pass"] == i for j in jobs_by_op.get(s["id"], []))

    def layer_pass(layer, i):
        mine = [s for s in ops if s["layer"] == layer and s["pass"] == i]
        wall = sum(s["end_ms"] - s["start_ms"] for s in mine)
        js = [j for s in mine for j in jobs_by_op.get(s["id"], [])]
        tot = lambda k: sum(j[k] for j in js)  # noqa: E731
        task_ms = tot("task_ms")
        return {
            "wall_ms": wall,
            "jobs": len(js), "tasks": tot("tasks"), "task_ms": task_ms, "cpu_ms": tot("cpu_ms"),
            "gc_ms": tot("gc_ms"),
            "parallelism": task_ms / wall if wall > 0 else 0.0,
            "driver_ms": sum((s["end_ms"] - s["start_ms"])
                             - _union_ms(intervals, s["start_ms"], s["end_ms"]) for s in mine),
            "shuffle_bytes": tot("shuffle_bytes"), "spill_bytes": tot("spill_bytes"),
            "scan_bytes": tot("scan_bytes"),
        }

    def span_ms(name, i):
        return sum(s["end_ms"] - s["start_ms"] for s in res["spans"]
                   if s["name"] == name and s["pass"] == i)

    def med(f):
        return _median([f(i) for i in traced])

    out = {}
    for layer in LAYERS:
        per = [layer_pass(layer, i) for i in traced]
        for field in LAYER_FIELDS:
            if field == "cold_ms":
                out[f"{layer}.cold_ms"] = (layer_pass(layer, 0)["wall_ms"], "ms")
                continue
            unit = ("ms" if field.endswith("_ms") else "bytes" if field.endswith("_bytes")
                    else "ratio" if field == "parallelism" else "count")
            out[f"{layer}.{field}"] = (_median([d[field] for d in per]), unit)
    counts = res["counts"]

    def scanned(i):
        return sum(j["scan_bytes"] for s in res["spans"] if s["pass"] == i
                   and s["name"] in ("etl.load", "graph.materialize")
                   for j in res["jobs"] if j["span"] and _under(spans, j["span"], s["id"]))

    staged = counts.get("final_staged_bytes", 0)
    out.update({
        "session.start_ms": (span_ms("session.start", -1), "ms"),
        "registry.build_ms": (med(lambda i: span_ms("registry.build", i)), "ms"),
        "planner.plan_ms": (med(lambda i: span_ms("planner.plan", i)), "ms"),
        "etl.save_nodes_ms": (med(lambda i: span_ms("etl.save_nodes", i)), "ms"),
        "etl.save_edges_ms": (med(lambda i: span_ms("etl.save_edges", i)), "ms"),
        "etl.map_properties_ms": (med(lambda i: span_ms("etl.map_properties", i)), "ms"),
        "etl.load_ms": (med(lambda i: span_ms("etl.load", i)), "ms"),
        "graph.materialize_ms": (med(lambda i: span_ms("graph.materialize", i)), "ms"),
        "etl.staged_bytes": (counts.get("staged_bytes", 0), "bytes"),
        "etl.rewrite_bytes": (counts.get("rewrite_bytes", 0), "bytes"),
        "etl.read_amplification": (med(scanned) / staged if staged else 0.0, "ratio"),
        "spark.cached_mb": (med(lambda i: passes[i]["cached_bytes"]) / MIB, "MiB"),
        "spark.unattributed_task_ms": (med(lambda i: unattributed.get(i, 0)), "ms"),
        # share of the traced passes' task time that the spans attribute; the
        # rest ran in jobs that carry no span id
        "trace.job_coverage": (med(lambda i: attributed(i) / max(attributed(i) + unattributed.get(i, 0), 1)),
                               "ratio"),
        "trace.pass_s": (med(lambda i: _pass_s(passes[i])), "s"),
        "trace.overhead_ratio": (med(lambda i: _pass_s(passes[i]))
                                 / _median([_pass_s(passes[i]) for i in untraced]), "ratio"),
    })
    return out


def op_coverage(res):
    """Op span time / pass wall time over the traced warm passes. The pass
    wall time minus the untimed GC between ops is the op spans, so this is
    about 1 by construction; it shows only that no pass time escapes the
    op spans."""
    return _median([sum(_ms(s) for s in res["spans"] if s["name"].startswith("op:") and s["pass"] == p["index"])
                    / 1000.0 / _pass_s(p) for p in res["passes"] if p["index"] >= 1 and p["traced"]])


def _ms(span):
    return span["end_ms"] - span["start_ms"]


def _under(spans, sid, ancestor):
    while sid in spans:
        if sid == ancestor:
            return True
        sid = spans[sid]["parent"]
    return False


# -- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    try:
        cpus = int(cpus_env)
        assert cpus > 0
    except (ValueError, AssertionError):
        fail(f"SPARK_GRAFT_CPUS must be a positive integer, got '{cpus_env}'")

    _check_private_tmp()
    classpath = build()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}")
    try:
        in_dir = os.path.join(work, "input")
        if a.workload == "etl_pipeline":
            rows = gen.etl_inputs(a.seed, in_dir)
        else:
            rows = gen.registry_inputs(a.seed, in_dir)
        in_bytes = gen.input_bytes(in_dir)
        args = ["--workload", a.workload, "--input", in_dir, "--work", work, "--cpus", str(cpus),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--run-id", os.path.basename(work)]
        if a.workload == "registry_mix":
            args += ["--ops", ",".join(f"{layer}:{op}" for layer, ops in REGISTRY_MIX.items()
                                       for op in ops)]
        t_jvm = time.time()
        res = run_jvm(classpath, args, work)
        t_check = time.time()

        out_dir = os.path.join(work, "out")
        if a.workload == "etl_pipeline":
            errors = check.check_etl(in_dir, out_dir)
        else:
            ops = [op for ops in REGISTRY_MIX.values() for op in ops]
            errors = check.check_registry(in_dir, out_dir, res["oracle"], ops,
                                          os.path.join(CACHE, "oracle"))
        t_done = time.time()
        bad_checks = {k: v for k, v in errors.items() if v}
        threw = res["failures"]
        executions = [(s["name"][3:], s["pass"]) for s in res["spans"] if s["name"].startswith("op:")]
        failed_exec = {(f["op"], f["pass"]) for f in threw if f["pass"] >= 0}
        if a.workload == "etl_pipeline":
            wrong = set(executions) if bad_checks else set()
        else:
            wrong = {e for e in executions if e[0] in bad_checks}
        attempted = res["attempted"]
        failed = len(failed_exec | wrong)
        dump_failed = [f for f in threw if f["pass"] < 0]
        correct = failed == 0 and not bad_checks and not dump_failed

        for f in threw:
            print(f"FAILED op={f['op']} pass={f['pass']}: {f['error']}")
        for k, v in sorted(bad_checks.items()):
            print(f"MISMATCH {k}: {v}")
        e2e = end_to_end(res, in_bytes)
        ratio = failed / attempted if attempted else 1.0
        print(f"# workload={a.workload} seed={a.seed} cpus={cpus} input_rows={sum(rows.values())} "
              f"input_bytes={in_bytes} ops={len({op for op, _ in executions})} passes={len(res['passes'])} "
              + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items())
              + f" op_failure_ratio={ratio:.4f}"
              + f" jvm_wall_s={t_check - t_jvm:.1f} check_wall_s={t_done - t_check:.1f}")
        print("# op cold_ms/warm_ms: " + " ".join(
            f"{op}={c:.0f}/{w:.0f}" for op, (c, w) in op_times(res).items()))
        metrics = per_layer(res) if a.trace else e2e
        if a.trace:
            print("# " + " ".join(f"{k}={v:.4g}" for k, (v, _) in metrics.items())
                  + f" op_coverage={op_coverage(res):.4f}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        result = os.path.join(work, "result.json")
        if a.trace and os.path.exists(result):
            os.makedirs(TRACES, exist_ok=True)
            shutil.copy(result, os.path.join(TRACES, os.path.basename(work) + ".json"))
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)


if __name__ == "__main__":
    main()
