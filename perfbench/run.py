#!/usr/bin/env python3
"""Benchmark of the graft catalog: three workloads drawn from SparkEntry.catalog.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload catalog_floor --seed 1 --seconds 15 --trace 0
  python3 perfbench/run.py --make-reference [--dump DIR]

--trace 0 measures the end-to-end metrics; --trace 1 is a separate traced
run that reports the per-layer metrics. The last stdout line is one JSON
object {correct, attempted, failed, metrics}. The full record of a run
(sitting, per-query numbers, spans) is written under perfbench/.work/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
MANIFEST = os.path.join(HERE, "workloads.json")
REFERENCE = os.path.join(HERE, "reference.json")

# JVM start -> session ready is measured this many times per run (the run's
# own JVM plus set-up-only JVMs); setup_s is their median.
SETUPS = 3
HEAP = ["-Xms4g", "-Xmx4g"]
JVM_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail("set SPARK_HOME (or install pyspark): the build and runs need Spark's jars")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compile the program's sources and the harness into one class dir,
    unless a build of exactly these sources is already there."""
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    if not os.path.isdir(DATA):
        fail(f"no input tables under {DATA}")
    srcs = main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes, stamp = os.path.join(BUILD, "classes"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes, digest.hexdigest()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", classes, "-classpath", ":".join(jars), "-nowarn"] + srcs))
    t0 = time.perf_counter()
    r = subprocess.run([java(), "-Xmx3g", "-Xss8m", "-cp", ":".join(jars), "scala.tools.nsc.Main",
                        "@" + argfile], capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compile failed")
    print(f"perfbench: built {len(srcs)} sources in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes, digest.hexdigest()


def jvm(classes, args, log, timeout=JVM_TIMEOUT_S, kill_at_ready=False):
    """Run the harness; return seconds from launch to its READY line (None
    if it never printed one). Raises on a non-zero exit or a timeout. With
    kill_at_ready the JVM is killed (and waited for) once it is ready."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), *HEAP, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", classes + ":" + os.path.join(spark_jars(), "*"), "perfbench.Harness", *args]
    with open(log, "a") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=tmp, text=True)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        ready = None
        try:
            for line in p.stdout:
                if ready is None and line.startswith("PERFBENCH READY"):
                    ready = time.perf_counter() - t0
                    if kill_at_ready:
                        p.kill()
        finally:
            rc = p.wait()
            timer.cancel()
    if rc != 0 and not (kill_at_ready and ready is not None):
        raise RuntimeError(f"harness {args[0]} exited with {rc} (log: {log})")
    return ready


def manifest():
    with open(MANIFEST) as f:
        return json.load(f)


def percentile(sorted_vals, p):
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[max(0, math.ceil(p / 100 * len(sorted_vals)) - 1)]


def source_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------------ metrics

def latency(i, bad):
    """Seconds of one issue; a failed issue or a wrong output is infinite."""
    return math.inf if "error" in i or i["query"] in bad else (i["build_ns"] + i["exec_ns"]) / 1e9


def round_estimate(issues, bad):
    """Wall to run every query once: the sum of each query's median latency
    over the given issues (the last timed round may be partial)."""
    by_q = {}
    for i in issues:
        by_q.setdefault(i["query"], []).append(latency(i, bad))
    return sum(statistics.median(v) for v in by_q.values())


def end_to_end(res, setups, tail_pct):
    bad = {q for q, ok in res["checked"].items() if not ok}
    cold = [i for i in res["issues"] if i["round"] == 0]
    timed = [i for i in res["issues"] if i["round"] > 0]
    lat = sorted(latency(i, bad) for i in timed)
    beyond = len(lat) - math.ceil(tail_pct / 100 * len(lat))
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_round_s": (sum(latency(i, bad) for i in cold), "s"),
        "round_s": (round_estimate(timed, bad), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (percentile(lat, tail_pct), "s"),
        "live_heap_peak_mb": (res["live_heap_peak_bytes"] / 1048576, "MB"),
    }, {"tail_percentile": tail_pct, "timed_issues": len(lat), "issues_beyond_tail": beyond,
        "timed_rounds": max(i["round"] for i in timed)}


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def spans_and_layers(res):
    """Build the span tree workload -> query -> build|execute -> [batch ->]
    job -> stage from the traced rounds, and sum the per-layer metrics per
    traced issue. Returns (spans, {query: [layer dict per traced issue]})."""
    tr = res["trace"]
    stages_by_id = {}
    for s in tr["stages"]:
        if s["submit_ms"]:
            stages_by_id.setdefault(s["stage"], []).append(s)
    spans, per_query = [], {}
    nid = iter(range(1, 1 << 30))

    def span(name, kind, s, e, parent, **attrs):
        sid = next(nid)
        spans.append({"id": sid, "name": name, "kind": kind, "start_ms": s, "end_ms": e, "parent": parent, **attrs})
        return sid

    root = span(res["workload"], "workload", None, None, None)
    for i in res["issues"]:
        if not (i["traced"] and i["round"] > 0):
            continue
        lo, mid, hi = i["start_ms"], i["build_end_ms"], i["end_ms"]
        inside = lambda t: lo <= t <= hi
        jobs = [j for j in tr["jobs"] if inside(j["start_ms"])]
        sql = [q for q in tr["sql"] if inside(q["start_ms"])]
        batches = [b for b in tr["batches"] if inside(b["start_ms"])]
        stages = [s for ss in stages_by_id.values() for s in ss if inside(s["submit_ms"])]
        qs = span(i["query"], "query", lo, hi, root, round=i["round"])
        bs = span("build", "build", lo, mid, qs)
        es = span("execute", "execute", mid, hi, qs)
        batch_ids = []
        for b in batches:
            batch_ids.append((b, span(f"batch {b['batch']}", "batch", b["start_ms"], b["end_ms"], bs, run=b["run"])))
        for j in jobs:
            parent = bs if j["start_ms"] < mid else es
            for b, bid in batch_ids:
                if j["group"] == b["run"] and b["start_ms"] <= j["start_ms"] <= b["end_ms"]:
                    parent = bid
            jid = span(f"job {j['job']}", "job", j["start_ms"], j["end_ms"], parent)
            for sid in j["stages"]:
                for s in stages_by_id.get(sid, []):
                    if inside(s["submit_ms"]):
                        span(f"stage {sid}", "stage", s["submit_ms"], s["end_ms"] or j["end_ms"], jid)
        job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
        batch_iv = [(b["start_ms"], b["end_ms"]) for b in batches]
        stage_iv = lambda js, je: [(s["submit_ms"], s["end_ms"] or je) for s in stages if js <= s["submit_ms"] <= je]
        tasks = sum(s["tasks"] for s in stages)
        skews = [s["task_read_max_b"] / s["task_read_median_b"] for s in stages
                 if s["tasks"] > 1 and s["task_read_median_b"] > 0]
        L = {
            "build.ms": i["build_ns"] / 1e6,
            "build.jobs": sum(1 for j in jobs if j["start_ms"] < mid),
            "plan.analysis_ms": sum(q["analysis_ms"] for q in sql),
            "plan.optimization_ms": sum(q["optimization_ms"] for q in sql),
            "plan.physical_ms": sum(q["physical_ms"] for q in sql),
            "plan.exchanges": sum(q["exchanges"] for q in sql),
            "plan.operators": sum(q["operators"] for q in sql),
            "sched.jobs": len(jobs),
            "sched.stages": len(stages),
            "sched.tasks": tasks,
            "sched.delay_ms": sum(s["delay_ms"] for s in stages),
            "sched.empty_tasks": sum(s["empty_tasks"] for s in stages),
            "driver.outside_jobs_ms": (hi - lo) - union_ms(job_iv, lo, hi),
            "task.run_ms": sum(s["run_ms"] for s in stages),
            "task.cpu_ms": sum(s["cpu_ns"] for s in stages) / 1e6,
            "task.deserialize_ms": sum(s["deserialize_ms"] for s in stages),
            "task.gc_ms": sum(s["gc_ms"] for s in stages),
            "shuffle.write_mb": sum(s["shuffle_write_b"] for s in stages) / 1048576,
            "shuffle.read_mb": sum(s["shuffle_read_b"] for s in stages) / 1048576,
            "shuffle.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stages),
            "spill.mb": sum(s["spill_b"] for s in stages) / 1048576,
            "shuffle.skew": max(skews, default=1.0),
            "stream.batches": len(batches),
            "stream.empty_batches": sum(1 for b in batches if b["input_rows"] == 0),
            "stream.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "stream.query_planning_ms": sum(b["query_planning_ms"] for b in batches),
            "stream.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
            "stream.commit_offsets_ms": sum(b["commit_offsets_ms"] for b in batches),
            "stream.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
            # state size as the last batch of each stream run left it
            "stream.state_rows": sum(last_per_run(batches, "state_rows")),
            "stream.state_mb": sum(last_per_run(batches, "state_bytes")) / 1048576,
            # self time per span kind: a span's duration minus what its children cover
            "self.build_ms": (mid - lo) - union_ms(job_iv + batch_iv, lo, mid),
            "self.execute_ms": (hi - mid) - union_ms(job_iv, mid, hi),
            "self.batch_ms": sum((b["end_ms"] - b["start_ms"]) - union_ms(
                [(j["start_ms"], j["end_ms"]) for j in jobs if j["group"] == b["run"]], b["start_ms"], b["end_ms"])
                for b in batches),
            "self.job_ms": sum((j["end_ms"] - j["start_ms"]) - union_ms(
                stage_iv(j["start_ms"], j["end_ms"]), j["start_ms"], j["end_ms"]) for j in jobs),
            "jvm.jit_ms": i["jit_ms"],
            "jvm.gc_ms": i["gc_ms"],
        }
        per_query.setdefault(i["query"], []).append(L)
    return spans, per_query


def last_per_run(batches, key):
    last = {}
    for b in sorted(batches, key=lambda b: b["batch"]):
        last[b["run"]] = b[key]
    return last.values()


def per_layer(res):
    """Per-layer metrics for one round: each query's mean over its traced
    timed issues, summed over the queries (shuffle.skew: the worst stage;
    the fractions: over all traced tasks and batches)."""
    spans, per_query = spans_and_layers(res)
    if not per_query:
        fail("the traced run recorded no traced issue")
    per_q = {q: {k: statistics.mean(L[k] for L in rows) for k in rows[0]} for q, rows in per_query.items()}
    layers = {k: sum(L[k] for L in per_q.values()) for k in next(iter(per_q.values()))}
    layers["shuffle.skew"] = max(L["shuffle.skew"] for L in per_q.values())
    rows = [L for rs in per_query.values() for L in rs]
    total = lambda k: sum(L[k] for L in rows)
    layers["sched.empty_task_frac"] = total("sched.empty_tasks") / max(total("sched.tasks"), 1)
    layers["stream.empty_batch_frac"] = total("stream.empty_batches") / max(total("stream.batches"), 1)
    for k in ("sched.empty_tasks", "stream.empty_batches"):
        del layers[k]
    cold = [i for i in res["issues"] if i["round"] == 0]
    layers["jvm.cold_jit_ms"] = sum(i["jit_ms"] for i in cold)
    traced = [i for i in res["issues"] if i["round"] > 0 and i["traced"]]
    untraced = [i for i in res["issues"] if i["round"] > 0 and not i["traced"]]
    layers["round_s.traced"] = round_estimate(traced, set())
    if {i["query"] for i in untraced} == {i["query"] for i in traced}:
        layers["trace.overhead_s"] = layers["round_s.traced"] - round_estimate(untraced, set())
    return layers, per_q, spans


def layer_unit(name):
    suffix = name.replace(".", "_").rsplit("_", 1)[-1]
    return {"ms": "ms", "mb": "MB", "s": "s", "traced": "s", "frac": "ratio", "skew": "ratio"}.get(suffix, "count")


# --------------------------------------------------------------------- main

def check_outputs(res, reference):
    """True per query when its fingerprint equals the reference."""
    out = {}
    for q, fp in res["fingerprints"].items():
        ok = "error" not in fp and fp == reference.get(q)
        out[q] = ok
        if not ok:
            print(f"perfbench: wrong output for {q}: {fp} != reference {reference.get(q)}", file=sys.stderr)
    return out


def write_reference(made_at, prints):
    """reference.json: where the references were made, then one line per query."""
    lines = ",\n".join(f"{json.dumps(q)}: {json.dumps(fp)}" for q, fp in sorted(prints.items()))
    with open(REFERENCE, "w") as f:
        f.write(f'{{"made_at": {json.dumps(made_at)},\n"fingerprints": {{\n{lines}\n}}}}\n')


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-reference", action="store_true",
                    help="regenerate reference.json from the current program")
    ap.add_argument("--dump", help="with --make-reference: also write each output for scripts/check.py")
    a = ap.parse_args()

    classes, digest = build()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "harness.log")
    open(log, "w").close()
    cpus = nproc()
    man = manifest()

    if a.make_reference:
        names = sorted(q for w in man["workloads"].values() for q in w["members"])
        raw = os.path.join(WORK, "reference.raw.json")
        args = ["reference", "--data", DATA, "--queries", ",".join(names), "--cpus", str(cpus), "--out", raw]
        if a.dump:
            args += ["--dump", os.path.abspath(a.dump)]
        jvm(classes, args, log, timeout=3600)
        with open(raw) as f:
            prints = json.load(f)
        write_reference({"nproc": cpus, "master": f"local[{cpus}]", "git_commit": source_commit()}, prints)
        print(f"perfbench: wrote {REFERENCE}", file=sys.stderr)
        return

    if a.workload not in man["workloads"]:
        fail(f"--workload must be one of {sorted(man['workloads'])}")
    w = man["workloads"][a.workload]
    queries = w["panel"]
    with open(REFERENCE) as f:
        reference = json.load(f)["fingerprints"]

    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    load0 = os.getloadavg()[0]
    setups = [jvm(classes, ["setup", "--cpus", str(cpus)], log, kill_at_ready=True) for _ in range(SETUPS - 1)]
    out = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}.raw.json")
    # A fixed number of timed rounds per --seconds: the work of a run does not
    # depend on how fast the sitting is, so runs of different speed stay
    # comparable. round_s_est was sized so that a whole run, set-ups included,
    # takes 35-48 s at --seconds 15 on the 4-core calibration machine.
    rounds = max(1, round(a.seconds / w["round_s_est"]))
    args = ["run", "--data", DATA, "--queries", ",".join(queries), "--seed", str(a.seed),
            "--rounds", str(rounds), "--trace", str(a.trace), "--cpus", str(cpus), "--out", out]
    setups.append(jvm(classes, args, log))
    if None in setups:
        fail("a harness JVM never reported READY")
    with open(out) as f:
        res = json.load(f)
    res["workload"] = a.workload
    res["checked"] = check_outputs(res, reference)

    e2e, tail = end_to_end(res, setups, w["tail_percentile"])
    timed = [i for i in res["issues"] if i["round"] > 0]
    failed = sum(1 for i in timed if "error" in i or not res["checked"][i["query"]])
    record = {
        "workload": a.workload, "queries": queries, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "sitting": {**res["sitting"], "load_start_host": load0, "load_end_host": os.getloadavg()[0],
                    "git_commit": source_commit(), "source_sha256": digest, "setups_s": setups, **tail},
        "failed_frac": failed / len(timed),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_query_latency_s": {q: statistics.median((i["build_ns"] + i["exec_ns"]) / 1e9
                                                     for i in timed if i["query"] == q) for q in queries},
        "outputs_checked": res["checked"],
    }
    if a.trace:
        layers, per_q, spans = per_layer(res)
        layers["cold_round_s"] = e2e["cold_round_s"][0]
        record.update(per_layer=layers, per_query_layers=per_q, spans=spans)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        # cold_round_s is printed and recorded but not bounded: one cold round
        # per run spread up to 0.26 (IQR / median) over ten runs on stream_gates
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k != "cold_round_s"}
    with open(os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    shown = metrics if a.trace else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in shown.items():
        print(f"{a.workload:15s} {k:28s} {m['value']:14.4f} {m['unit']}")
    print(f"{a.workload:15s} {'failed_frac':28s} {record['failed_frac']:14.4f} ratio  "
          f"(tail = p{tail['tail_percentile']} of {tail['timed_issues']} timed issues)")
    print(json.dumps({"correct": all(res["checked"].values()), "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
