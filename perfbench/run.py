#!/usr/bin/env python3
"""The repo benchmark: one command runs one workload for a seed, checks its
outputs and prints every metric by name with its unit.

    python3 perfbench/run.py --workload olap_cached --seed 1 --seconds 11 --trace 0

Run it from the repository root. It compiles the engine (src/main/scala)
and the benchmark's JVM side (perfbench/src) with the Scala compiler that
ships in the Spark jars, caching the classes in .bench_build/ by source
hash. Inputs are generated from the seed into a per-run scratch dir under
.bench_runs/, which is removed at exit. The last line of stdout is one
JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). The exit code is
non-zero when any output is wrong. See perfbench/BENCHMARK.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("olap_cached", "olap_scaled", "landing_mixed")
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase that build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
# A fixed, pre-touched heap keeps peak RSS from following GC timing.
HEAP = "2560m"
PLAN_OPS = 1400
# Spark on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {
    "setup_s": "s", "op_ms_p50": "ms", "op_ms_p75": "ms", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "read_ms_p50": "ms", "read_ms_p75": "ms", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "agg.build_ms": "ms/op", "window.build_ms": "ms/op", "join.build_ms": "ms/op",
    "plans.build_ms": "ms/op", "dedup.build_ms": "ms/op", "sim.build_ms": "ms/op",
    "plan.analysis_ms": "ms/op", "plan.optimizer_ms": "ms/op", "plan.physical_ms": "ms/op",
    "plan.exchanges": "count/op", "plan.codegen_stages": "count/op",
    "exec.jobs": "count/op", "exec.stages": "count/op", "exec.tasks": "count/op",
    "exec.sched_delay_ms": "ms/op", "exec.driver_ms": "ms/op",
    "exec.task_run_ms": "ms/op", "exec.task_cpu_ms": "ms/op", "exec.task_gc_ms": "ms/op",
    "exec.busy_share": "ratio",
    "io.read_build_ms": "ms/op", "scan.files_read": "count/op", "scan.files_pruned": "count/op",
    "scan.bytes_read": "B/op", "scan.rows_read": "rows/op", "scan.rows_per_result_row": "ratio",
    "cache.inmem_scan_share": "ratio",
    "shuffle.write_bytes": "B/op", "shuffle.read_bytes": "B/op", "shuffle.skew": "ratio",
    "streaming.land_ms": "ms/batch", "streaming.jobs_per_batch": "count/batch",
    "streaming.probe_files_read": "count/batch", "streaming.drop_share": "ratio",
    "streaming.dedup_recall": "ratio",
    "io.compact_ms": "ms/batch", "io.fs_meta_ops_per_batch": "count/batch",
    "io.fs_opens_per_batch": "count/batch", "io.bytes_written_per_batch": "B/batch",
    "io.files_live": "count", "io.state_bytes": "B", "io.write_amp": "B/B",
    "io.space_amp": "B/B",
    "jvm.gc_ms": "ms/op", "jvm.heap_peak_mb": "MB",
    "trace.op_ms_p50": "ms", "trace.self_op_ms": "ms/op", "trace.self_build_ms": "ms/op",
    "trace.self_read_ms": "ms/op", "trace.self_action_ms": "ms/op", "trace.self_job_ms": "ms/op",
    "trace.self_stage_ms": "ms/op", "trace.self_ingest_ms": "ms/op",
    "trace.self_compact_ms": "ms/op",
}

_jvm = None
_run_dir = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    cleanup()
    sys.exit(code)


def cleanup(*_):
    global _jvm
    if _jvm is not None and _jvm.poll() is None:
        try:
            os.killpg(_jvm.pid, signal.SIGKILL)
        except OSError:
            pass
        _jvm.wait()
    _jvm = None
    if _run_dir and os.path.isdir(_run_dir):
        shutil.rmtree(_run_dir, ignore_errors=True)


def _on_signal(signum, _frame):
    cleanup()
    sys.exit(128 + signum)


def _alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_stale_runs():
    """Removes run dirs left by a killed run (its driver pid is gone)."""
    for d in glob.glob(os.path.join(RUNS, "run-*")):
        try:
            pid = int(os.path.basename(d).split("-")[1])
        except (IndexError, ValueError):
            continue
        if pid != os.getpid() and not _alive(pid):
            shutil.rmtree(d, ignore_errors=True)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    return engine, bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(out_dir, classpath, files):
    os.makedirs(out_dir)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def build():
    """Compiles engine and benchmark classes unless the cached build
    matches the sources. Returns (classpath entries, source hash)."""
    engine, bench = sources()
    stamp = source_hash(engine + bench)
    stamp_file = os.path.join(BUILD, "stamp")
    cp = [os.path.join(BUILD, "engine"), os.path.join(BUILD, "bench")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(os.path.join(tmp, "engine"), f"{SPARK_JARS}/*", engine)
    scalac(os.path.join(tmp, "bench"), f"{tmp}/engine:{SPARK_JARS}/*", bench)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(stamp)
    os.rename(tmp, BUILD)
    return cp, stamp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, workload, data_dir, plan_file, seconds, trace, cores):
    global _jvm
    conf = os.path.join(_run_dir, "conf")
    os.makedirs(conf)
    if trace:
        # every Hadoop Configuration in the JVM resolves file: to the counting FS
        with open(os.path.join(conf, "core-site.xml"), "w") as f:
            f.write("<configuration><property><name>fs.file.impl</name>"
                    "<value>perfbench.CountingLocalFs</value></property></configuration>\n")
    tmp = os.path.join(_run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(_run_dir, "result.json")
    log = os.path.join(_run_dir, "jvm.log")
    cmd = (["java"] + ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.scale={datagen.SCALE_N}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join([conf] + cp + [f"{SPARK_JARS}/*"]), "perfbench.Main",
            workload, data_dir, plan_file, _run_dir, str(seconds), "1" if trace else "0",
            str(cores), out])
    with open(log, "w") as lf:
        _jvm = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=_run_dir)
        try:
            code = _jvm.wait(timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            fail("JVM run exceeded its time limit")
    _jvm = None
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        fail(f"JVM run failed (exit {code}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def latencies(ops, miss_ms):
    """Latency of each op; a failed op misses every latency limit."""
    return [o["ms"] if o["ok"] else miss_ms for o in ops]


def per_kind(ops):
    """Median latency and count of each op kind (query shape, write, read)."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    return {k: [round(stats.percentile(v, 0.5), 3), len(v)] for k, v in sorted(kinds.items())}


def throughput(ops, elapsed_s, deck):
    """(ops/s, rows/s) of the ops that succeeded. With a deck size, the
    median of the per-deck rates (each deck holds every shape once), so one
    deck slowed by the host moves it less; else over the whole window."""
    def rate(xs, span_s):
        ok = [o for o in xs if o["ok"]]
        span_s = max(span_s, 1e-9)
        return len(ok) / span_s, sum(o["rows_covered"] for o in ok) / span_s
    if not deck:
        return rate(ops, elapsed_s)
    per = [rate(d, (d[-1]["start_ns"] - d[0]["start_ns"]) / 1e9 + d[-1]["ms"] / 1e3)
           for d in (ops[i:i + deck] for i in range(0, len(ops) - deck + 1, deck))]
    return statistics.median(r[0] for r in per), statistics.median(r[1] for r in per)


def end_to_end(workload, rec, seconds):
    ops = rec["ops"]
    if workload == "landing_mixed":
        timed = [o for o in ops if o["kind"].startswith("write")]
        reads = [o for o in ops if o["kind"] == "read"]
    else:
        timed = reads = ops
    if not timed or not reads:
        fail("the run completed no ops")
    miss = seconds * 1000.0
    lat, rlat = latencies(timed, miss), latencies(reads, miss)
    deck = 0 if workload == "landing_mixed" else len(rec["inputs"]["shapes"])
    ops_s, rows_s = throughput(timed, rec["elapsed_s"], deck)
    m = {
        "setup_s": rec["setup_s"],
        "op_ms_p50": stats.percentile(lat, 0.5),
        "op_ms_p75": stats.percentile(lat, 0.75),
        "ops_per_s": ops_s,
        "rows_per_s": rows_s,
        "read_ms_p50": stats.percentile(rlat, 0.5),
        "read_ms_p75": stats.percentile(rlat, 0.75),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    support = {"op_ms_p75": stats.supported(len(lat), 0.75),
               "read_ms_p75": stats.supported(len(rlat), 0.75),
               "op_ms_p50": stats.supported(len(lat), 0.5),
               "read_ms_p50": stats.supported(len(rlat), 0.5)}
    return m, {"op_samples": len(lat), "read_samples": len(rlat), "supported": support}


def per_layer(rec, seconds, land):
    t = rec["trace"]
    c, fs, span, self_ms = t["counters"], t["fs"], t["span_ms"], t["self_ms"]
    ops = rec["ops"]
    n = max(len(ops), 1)
    writes = [o for o in ops if o["kind"].startswith("write")]
    nb = len(writes)
    g = lambda d, k: d.get(k, 0.0)  # noqa: E731
    per_b = lambda v: v / nb if nb else 0.0  # noqa: E731
    L = {f"{m}.build_ms": g(span, f"build:{m}") / n
         for m in ("agg", "window", "join", "plans", "dedup", "sim")}
    L.update({
        "plan.analysis_ms": g(c, "plan.analysis_ms") / n,
        "plan.optimizer_ms": g(c, "plan.optimizer_ms") / n,
        "plan.physical_ms": g(c, "plan.physical_ms") / n,
        "plan.exchanges": g(c, "plan.exchanges") / n,
        "plan.codegen_stages": g(c, "plan.codegen_stages") / n,
        "exec.jobs": g(c, "exec.jobs") / n, "exec.stages": g(c, "exec.stages") / n,
        "exec.tasks": g(c, "exec.tasks") / n,
        "exec.sched_delay_ms": g(c, "exec.sched_delay_ms") / n,
        "exec.driver_ms": t["driver_ms"] / n,
        "exec.task_run_ms": g(c, "exec.task_run_ms") / n,
        "exec.task_cpu_ms": g(c, "exec.task_cpu_ms") / n,
        "exec.task_gc_ms": g(c, "exec.task_gc_ms") / n,
        "exec.busy_share": g(c, "exec.task_run_ms") / (rec["elapsed_s"] * 1000.0 * rec["cores"]),
        "io.read_build_ms": sum(v for k, v in span.items() if k.startswith("read:")) / n,
        "scan.files_read": g(c, "scan.files_read") / n,
        "scan.files_pruned": g(c, "scan.files_pruned") / n,
        "scan.bytes_read": g(c, "scan.bytes_read") / n,
        "scan.rows_read": g(c, "scan.rows_read") / n,
        "scan.rows_per_result_row": g(c, "scan.rows_read") / max(1, sum(o["rows_out"] for o in ops)),
        "cache.inmem_scan_share": (g(c, "scan.inmem_scans") /
                                   max(1.0, g(c, "scan.inmem_scans") + g(c, "scan.file_scans"))),
        "shuffle.write_bytes": g(c, "shuffle.write_bytes") / n,
        "shuffle.read_bytes": g(c, "shuffle.read_bytes") / n,
        "shuffle.skew": g(c, "shuffle.skew_sum") / max(1.0, g(c, "shuffle.skew_n")),
        "streaming.land_ms": per_b(g(span, "ingest")),
        "streaming.jobs_per_batch": per_b(t["ingest_jobs"]),
        "streaming.probe_files_read": per_b(g(c, "streaming.probe_files_read")),
        "streaming.drop_share": land.get("drop_share", 0.0),
        "streaming.dedup_recall": land.get("dedup_recall", 0.0),
        "io.compact_ms": per_b(g(span, "compact")),
        "io.fs_meta_ops_per_batch": per_b(sum(g(fs, f"writer.fs.{k}") for k in
                                              ("create", "rename", "delete", "mkdirs", "list", "status"))),
        "io.fs_opens_per_batch": per_b(g(fs, "writer.fs.open")),
        "io.bytes_written_per_batch": per_b(g(fs, "writer.bytes_written")),
        "jvm.gc_ms": t["gc_ms"] / n,
        "jvm.heap_peak_mb": t["heap_peak_mb"],
        "trace.op_ms_p50": stats.percentile(latencies(writes or ops, seconds * 1000.0), 0.5),
    })
    st = rec.get("storage")
    L["io.files_live"] = st["files_live"] if st else 0
    L["io.state_bytes"] = st["state_bytes"] if st else 0
    L["io.write_amp"] = g(fs, "writer.bytes_written") / land["user_bytes"] if land.get("user_bytes") else 0.0
    L["io.space_amp"] = st["disk_bytes"] / st["live_user_bytes"] if st and st["live_user_bytes"] else 0.0
    for k in ("op", "action", "job", "stage", "ingest", "compact"):
        L[f"trace.self_{k}_ms"] = g(self_ms, k) / n
    L["trace.self_build_ms"] = sum(v for k, v in self_ms.items() if k.startswith("build:")) / n
    L["trace.self_read_ms"] = sum(v for k, v in self_ms.items() if k.startswith("read:")) / n
    assert set(L) == set(PER_LAYER), set(L) ^ set(PER_LAYER)
    return L


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    global _run_dir
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)
    load_start = os.getloadavg()
    cp, src_hash = build()
    t_start = time.time()
    os.makedirs(RUNS, exist_ok=True)
    sweep_stale_runs()
    _run_dir = os.path.join(RUNS, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(_run_dir)
    cores = len(os.sched_getaffinity(0))
    try:
        import duckdb
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.execute("SET threads = 4")
        data = os.path.join(_run_dir, "data")
        os.makedirs(data)
        plan_file = os.path.join(_run_dir, "plan.jsonl")
        plan = []
        if a.workload == "landing_mixed":
            datagen.write_landing(con, a.seed, data)
        else:
            datagen.write_tables(con, a.seed, data)
            plan = datagen.olap_plan(a.seed, a.workload, PLAN_OPS)
        datagen.write_plan(plan_file, plan)
        t_gen = time.time()

        rec = run_jvm(cp, a.workload, data, plan_file, a.seconds, a.trace, cores)
        t_jvm = time.time()

        wrong, land = [], {}
        if a.workload == "landing_mixed":
            lp = oracle.landing_plan(con, data)
            for rc in rec["reader_checks"]:
                why = oracle.check_reader(lp, rc)
                if why:
                    wrong.append(why)
            bad, kept, recall, drop = oracle.check_landing(
                lp, rec["final_ids"], rec["first_batch"], rec["committed_batch"])
            wrong += bad
            measured = [o for o in rec["ops"] if o["kind"].startswith("write") and o["ok"]]
            first_b = rec["first_batch"]
            last_b = first_b + len(measured) - 1
            ub = datagen.read_landing(con, data).filter(
                f"kind = 'new' AND batch BETWEEN {first_b} AND {last_b}").aggregate(
                "sum(16 + length(text))").fetchone()[0]
            land = {"dedup_recall": recall, "drop_share": drop, "retained_batches": kept,
                    "user_bytes": ub or 0}
        else:
            scale = datagen.SCALE_N if a.workload == "olap_scaled" else 1
            oracle.make_views(con, data, scale)
            wrong = oracle.check_olap(con, rec["checks"], {op["id"]: op for op in plan})
        t_check = time.time()
        n_checked = (len(rec.get("checks", [])) + len(rec.get("reader_checks", []))
                     + (1 if a.workload == "landing_mixed" else 0))

        if a.trace:
            # the spans outlive the run dir: id, parent, name, op, start ms, duration ms
            with open(os.path.join(RUNS, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(rec["trace"]["spans"], f)
        e2e, sample = end_to_end(a.workload, rec, a.seconds)
        metrics = per_layer(rec, a.seconds, land) if a.trace else e2e
        units = PER_LAYER if a.trace else END_TO_END
        failed = sum(1 for o in rec["ops"] if not o["ok"])
        info = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
            "commit": git_commit(), "source_hash": src_hash, "nproc": cores,
            "versions": rec["versions"],
            "loadavg_start": list(load_start), "loadavg_end": list(os.getloadavg()),
            "inputs": rec["inputs"], "samples": sample,
            "failed_op_share": failed / len(rec["ops"]), "wrong_results": len(wrong),
            "checked": n_checked, "load_s": rec["load_s"],
            "session_s": rec["session_s"], "warmup_s": rec["warmup_s"],
            "end_to_end": e2e, "per_kind_ms": per_kind(rec["ops"]),
            "wall_s": {"inputs": t_gen - t_start, "jvm": t_jvm - t_gen, "check": t_check - t_jvm,
                       "jvm_measure_start": rec["measured_start_s"],
                       "jvm_measure_end": rec["measured_end_s"]},
        }
        if land:
            info["landing"] = {k: v for k, v in land.items() if k != "user_bytes"}
        for w in wrong[:20]:
            print(f"WRONG: {w}", file=sys.stderr)
        for o in rec["ops"]:
            if not o["ok"]:
                print(f"FAILED op {o['id']} ({o['kind']}): {o['err']}", file=sys.stderr)
                break
        for k, v in metrics.items():
            flag = "" if a.trace or sample["supported"].get(k, True) else "  (sample too small)"
            print(f"{k:28s} {v:16.4f} {units[k]}{flag}")
        print(json.dumps({"info": info}, sort_keys=True))
        result = {"correct": not wrong, "attempted": len(rec["ops"]), "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        print(json.dumps(result))
        sys.stdout.flush()
    finally:
        cleanup()
    return 0 if not wrong else 1


if __name__ == "__main__":
    sys.exit(main())
