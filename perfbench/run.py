#!/usr/bin/env python3
"""Product-path benchmark: the delta-driven import service and the corpus operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload delta_stream|corpus_ops \\
        --seed N --seconds S --trace 0|1

Builds the program and the JVM harness from source (once per source
state), generates the workload's inputs from the seed, runs the harness,
checks every output against counts the generator derived (import
workloads) or the queries' DuckDB oracles (corpus_ops), and prints one
JSON object as the last line of standard output.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans with per-layer self times are written under
``.bench_work/traces/``.  Exits non-zero when a build, a run or an output
check fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("delta_stream", "corpus_ops")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# class-data sharing needs jars on the class path, not directories
JAR = os.path.join(BUILD_DIR, "harness.jar")
WORK_DIR = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build forks its JVMs with the same list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HARNESS, "build.sbt")


def build(home):
    """Compile the program's sources with the harness, unless the classes
    on disk were built from exactly the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to the benchmark")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                           cwd=HARNESS, stdout=log, stderr=subprocess.STDOUT,
                           env=dict(os.environ, SPARK_HOME=home), timeout=840)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(BUILD_DIR, 'build.log')}")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, dirs, files in os.walk(CLASSES):
            dirs.sort()
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_harness(home, workload, spec, work, seconds, trace, cores, deadline):
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    out_path = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # class-data sharing: a workload's first run after a build archives the
    # classes it loaded, later runs map the archive instead of loading and
    # verifying Spark's classes again (the JVM ignores an archive that does
    # not match the class path)
    archive = os.path.join(BUILD_DIR, f"classes-{workload}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java", "-Xms2g", "-Xmx2g", cds, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
           ADD_OPENS + ["-cp", f"{JAR}{os.pathsep}{os.path.join(home, 'jars', '*')}", "perfbench.Main",
            "--workload", workload, "--spec", spec_path, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--out", out_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the time limit, see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {code}, see {log_path}")
    with open(out_path) as f:
        return json.load(f)


# ------------------------------------------------------------ checks

def check_import(spec, checks):
    """Compare each task's outputs with the generator's expected counts."""
    bad = []
    for c in checks:
        e = spec["expected"][c["task"]]
        got = {"ttl_lines": c["ttl_lines"], "html_files": c["html_files"],
               "registered_files": c["registered_files"], "status": c["state_status"]}
        want = {"ttl_lines": e["ttl_lines"], "html_files": e["html_files"],
                "registered_files": e["registered_files"], "status": "success"}
        if c.get("status", "success") != "success" or got != want:
            bad.append({"task": c["task"], "got": got, "want": want})
    return bad


def check_corpus(res):
    """Each query's full output against its DuckDB oracle, by the
    repository's oracle self-check; returns its failure lines."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"),
                        res["outputs_dir"], res["oracle_corpus_dir"]],
                       capture_output=True, text=True, timeout=120)
    bad = [line for line in r.stdout.splitlines() if line.startswith("FAIL")]
    if r.returncode != 0 and not bad:
        bad = [f"oracle self-check exited with {r.returncode}: {r.stderr.strip()[-500:]}"]
    return bad


# ------------------------------------------------------------ metrics

def declared(kind):
    """Metric names and units of ``kind`` ("end_to_end" or "per_layer") as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def layer_metrics(workload, spec, res, summary):
    """Per-layer metrics of a traced run; a layer the workload does not
    call reports 0."""
    m = dict.fromkeys(declared("per_layer"), 0.0)
    st = stats.self_by_name(res.get("spans", []))
    m["jvm.gc_s"] = res["jvm"]["gc_s"]
    m["jvm.heap_after_gc_mb"] = res["jvm"]["heap_after_gc_mb"]
    m["trace.overhead_ratio"] = res["trace_overhead_ratio"]
    if workload == "delta_stream":
        hd = res["html_direct"]
        m["html.parse_ms_per_page"] = hd["parse_ms_per_page"]
        m["html.extract_ms_per_page"] = hd["extract_ms_per_page"]
        m["html.quads_per_page"] = hd["quads_per_page"]
        for key, span in (("sources.read_pages_s", "sources.read_pages"),
                          ("extract.self_s", "extract"), ("externalize.self_s", "externalize"),
                          ("provenance.self_s", "provenance"),
                          ("rdf.validate_repair_s", "rdf.validate_repair"),
                          ("rdf.serialize_s", "rdf.serialize"), ("sink.ttl_s", "sink.ttl"),
                          ("sink.html_s", "sink.html"), ("registry.s", "registry"),
                          ("taskstore.load_s", "taskstore.load"),
                          ("taskstore.input_pages_s", "taskstore.input_pages"),
                          ("taskstore.transition_s", "taskstore.transition"),
                          ("service.write_state_s", "service.write_state")):
            m[key] = st.get(span, 0.0)
        dec = res["decomposed"]
        rdf_s = m["rdf.validate_repair_s"] + m["rdf.serialize_s"]
        m["rdf.quads_per_s"] = dec["quads"] / rdf_s if rdf_s > 0 else 0.0
        m["registry.quads_minted"] = dec["minted"]
        m["sink.html_files"] = dec["html_files"]
        m["sink.ttl_mb"] = res["ttl_mb"]
        m["sink.html_write_tasks"] = res["bulk_engine"]["html_write_tasks"]
        m["bulk.speedup_1core"] = res["bulk_wall_1core_s"] / res["bulk_wall_s"]

        eng, n = res["engine_total"], len(res["deltas"])
        pages = sum(spec["expected"][d["task"]]["pages"] for d in res["deltas"])
        m["sources.page_rows_read_per_task_page"] = eng["page_rows"] / pages
        m["spark.jobs_per_task"] = eng["jobs"] / n
        m["spark.stages_per_task"] = eng["stages"] / n
        m["spark.job_busy_s_per_task"] = eng["busy_s"] / n
        m["spark.driver_gap_s_per_task"] = eng["gap_s"] / n
        m["spark.shuffle_mb_per_task"] = eng["shuffle_mb"] / n
        m["spark.spill_mb"] = eng["spill_mb"]
        m["spark.plan_ms"] = eng["plan_ms"] / n

        m["service.state_rows"] = res["state_rows"]
        m["service.batches"] = summary["batches"]
        m["service.tasks_per_batch"] = summary["tasks_per_batch"]
        m["service.cached_rdds_end"] = res["cached_rdds_end"]
        m["service.cached_mb_end"] = res["cached_mb_end"]
        m["streaming.generator_late_ms"] = summary["generator_late_ms_max"]
        batches = res["stream_batches"]
        if batches:
            m["streaming.trigger_ms_p50"] = stats.median([b["trigger_ms"] for b in batches])
            start = {b["batch"]: b["start_ms"] for b in batches}
            waits = [max(0.0, start[d["batch"]] - d["drop_ms"]) / 1000
                     for d in res["deltas"] if d["batch"] in start]
            m["streaming.queue_wait_s_p50"] = stats.median(waits) if waits else 0.0
    else:
        for q, s in res["traced_query_s"].items():
            m[f"ops.{q}.s"] = s
        m["ops.index_build_s"] = res["warm_cold_pass_s"] - summary["corpus_pass_s"]
        eng = res["engine_per_pass"]
        m["ops.jobs_per_pass"] = stats.median([e["jobs"] for e in eng])
        m["ops.shuffle_mb_per_pass"] = stats.median([e["shuffle_mb"] for e in eng])
    if set(m) != set(declared("per_layer")):
        raise KeyError(f"undeclared metrics: {sorted(set(m) - set(declared('per_layer')))}")
    return m, st


def summarize(workload, spec, res):
    """Workload figures under their own names, and the end-to-end
    metrics every workload reports: set-up time, throughput, median
    latency and peak memory."""
    s = {"setup_s": res["jvm_boot_s"] + stats.median(res["setup_reps_s"]),
         "peak_rss_mb": res["peak_rss_mb"]}
    if workload == "delta_stream":
        deltas = res["deltas"]
        lat = [(d["commit_ms"] - d["due_ms"]) / 1000 for d in deltas]
        s["task_latency_p50_s"] = stats.median(lat)
        t = stats.tail(lat)
        s["task_latency_tail_s"] = t and {"value": t[0], "percentile": t[1], "samples": t[2]}
        s["warmup_s"] = res["warmup_s"]
        # one client, one task at a time: tasks committed per second of the trickle
        span_s = (max(d["commit_ms"] for d in deltas) - min(d["due_ms"] for d in deltas)) / 1000
        s["trickle_tasks_per_s"] = len(deltas) / span_s
        s["batches"] = len({d["batch"] for d in deltas})
        s["tasks_per_batch"] = len(deltas) / s["batches"]
        s["generator_late_ms_max"] = max(d["drop_ms"] - d["due_ms"] for d in deltas)
        if "bulk_wall_s" in res:  # traced run: the bulk task, tracing on
            s["bulk_pages_per_s"] = spec["expected"][spec["bulk_task"]]["pages"] / res["bulk_wall_s"]
        throughput, latency = s["trickle_tasks_per_s"], s["task_latency_p50_s"]
    else:
        # a steady pass: each query's median over the run's steady passes,
        # which drops a one-off stall from the run's figure
        passes = res["pass_query_s"]
        s["corpus_pass_s"] = sum(stats.median(times) for times in zip(*passes[1:]))
        s["corpus_cold_pass_s"] = sum(passes[0])
        throughput = len(res["queries"]) / s["corpus_pass_s"]
        latency = s["corpus_cold_pass_s"]
    s["end_to_end"] = {"setup_s": s["setup_s"], "throughput_per_s": throughput,
                       "latency_p50_s": latency, "peak_rss_mb": s["peak_rss_mb"]}
    return s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    home = spark_home()
    build(home)
    deadline = max(deadline, time.monotonic() + 150)  # a first build is not run time
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    work = os.path.join(WORK_DIR, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    if a.workload == "delta_stream":
        spec = gen.gen_delta(a.seed, inputs)
        shutil.copy(os.path.join(inputs, "state.jsonl"), os.path.join(work, "state.jsonl"))
    else:
        spec = gen.gen_corpus(a.seed, inputs)

    res = run_harness(home, a.workload, spec, work, a.seconds, a.trace, cores, deadline)
    if a.workload == "corpus_ops":
        bad = check_corpus(res)
        attempted, failed = len(res["queries"]), len(bad)
    else:
        checks = res["checks"] + res.get("bulk_checks", [])
        bad = check_import(spec, checks)
        if res["stale_status"] != "failed":
            bad.append({"task": spec["stale_task"], "got": res["stale_status"], "want": "failed"})
        bad += [{"task": d["task"], "error": "never committed"}
                for d in res["deltas"] if d["batch"] < 0]
        attempted, failed = len(checks) + 1, len(bad)

    summary = summarize(a.workload, spec, res) if not bad else {}
    report = {"workload": a.workload, "seed": a.seed, "cores": cores,
              "summary": summary, "failures": bad}
    values = {}
    if a.trace and not bad:
        layers, self_s = layer_metrics(a.workload, spec, res, summary)
        trace_dir = os.path.join(WORK_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"report": report, "self_s": self_s, "per_layer": layers,
                       "bulk_task_engine": res.get("bulk_engine"),
                       "spans": res.get("spans", [])}, f, indent=1)
        values = layers
    elif not bad:
        values = summary["end_to_end"]
    units = declared("per_layer" if a.trace else "end_to_end")
    metrics = {} if bad else {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps(report))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
