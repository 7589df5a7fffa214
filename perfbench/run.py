#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload pos_daily --seed 1 --seconds 10 --trace 0

`--workload all` runs the three workloads in turn. The first run in a
checkout compiles the engine and the benchmark program (perfbench/build.sbt)
into `.bench_build/`. Each run then generates its inputs from the seed,
starts one benchmark JVM (`local[4]`, one client on Spark's driver thread),
checks the engine's outputs against independent computations, prints
every metric by name with its unit and sample count, and ends with one
JSON line. With `--trace 1` the JSON carries the per-layer metrics and
the full span report is written to `.bench_build/perfbench/trace-*.json`.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
RECALL_FLOOR = 0.8
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

WORKLOADS = ["pos_daily", "table_churn", "llm_curation"]

# The end-to-end metrics every workload reports (BENCHMARK.json): one
# name per role, with a per-workload meaning (README.md). A role's
# timing is the mean over its calls: at a handful of calls per run the
# mean is steadier across runs than the median.
#   primary:   pos_daily batch (one daily ingest), table_churn write
#              statement, llm_curation indexTopK probe batch
#   secondary: pos_daily fact upsert, table_churn read (to the count),
#              llm_curation PQ index build
#   throughput: pos_daily item rows landed/s, table_churn statements/s,
#              llm_curation curated docs/s
PRIMARY = {"pos_daily": "batch", "table_churn": "write", "llm_curation": "query"}
SECONDARY = {"pos_daily": "upsert", "table_churn": "read", "llm_curation": "pq_build"}

CORE = ["calls", "self_s", "jobs", "tasks", "driver_gap_s", "analysis_ms",
        "shuffle_mb", "fs_bytes_written"]


def _core(*drop):
    return [m for m in CORE if m not in drop]


# Per-layer metrics (trace runs): span -> metrics, at most 128 in all.
# Core metrics a span cannot move (shuffle and writes of read-only
# calls, tasks of maintenance calls) are left out to fit the extras.
# Hadoop's local filesystem counts bytes but not write operations, so
# bytes written stands in for write operations.
PER_LAYER = {
    "streaming.Ingest.ingestXlsxAvailableNow": CORE,
    "etl.Load.upsert": CORE + ["plan_ms"],
    "etl.Snapshots.merge": CORE + ["plan_ms", "rows_rewritten"],
    "etl.Snapshots.mergeClauses": CORE + ["plan_ms"],
    "etl.Snapshots.deleteWhere": _core("tasks") + ["plan_ms"],
    "etl.Snapshots.append": _core("tasks") + ["plan_ms"],
    "etl.Snapshots.readPruned": _core("shuffle_mb", "fs_bytes_written") + ["files_kept_ratio"],
    "etl.Snapshots.optimize": _core("tasks") + ["rows_rewritten"],
    "etl.Snapshots.vacuum": ["calls", "self_s", "jobs", "driver_gap_s"],
    "plans.SnapshotSql.sql": CORE + ["plan_ms"],
    "streaming.Ingest.snapshotCdcApplyAvailableNow": CORE + ["plan_ms"],
    "llm.QualityRules.report": _core("shuffle_mb", "fs_bytes_written"),
    "llm.Dedup.exactDedup": _core("fs_bytes_written") + ["spill_mb"],
    "llm.Dedup.minhashNearDups": _core("fs_bytes_written") + ["spill_mb"],
    "llm.SemDedup.semanticDups": _core("fs_bytes_written") + ["spill_mb"],
    "llm.Pq.indexTopK": _core("fs_bytes_written") + ["spill_mb"],
}
LAYER_UNITS = {"calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
               "driver_gap_s": "s", "analysis_ms": "ms", "plan_ms": "ms",
               "shuffle_mb": "MB", "spill_mb": "MB", "fs_bytes_written": "bytes", "rows_rewritten": "rows",
               "files_kept_ratio": "ratio"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----

def source_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build(root, build_dir):
    """Compile once per source state; returns the runtime classpath."""
    out = os.path.join(build_dir, "perfbench")
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    print("perfbench: compiling the engine and the benchmark program", file=sys.stderr)
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    if os.path.exists(class_archive(build_dir)):
        os.remove(class_archive(build_dir))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def class_archive(build_dir):
    """Application class-data archive: the first benchmark JVM after a
    build writes it at exit, later ones map it instead of loading and
    verifying Spark's classes again (about 6 s of every JVM start)."""
    return os.path.join(build_dir, "perfbench", "classes.jsa")


# ---- one workload run ----

def run_jvm(cp, workload, seed, seconds, trace, input_dir, work, deadline, build_dir):
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = class_archive(build_dir)
    dumping = not os.path.exists(jsa)
    cds = f"-XX:ArchiveClassesAtExit={jsa}" if dumping else f"-XX:SharedArchiveFile={jsa}"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", cds, "-Dspark.ui.enabled=false",
            # scratch space stays inside the checkout
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--input", input_dir, "--work", work,
            "--out", result])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: benchmark JVM timed out (log: {log})")
    if p.returncode != 0 and dumping and os.path.exists(result):
        # the run finished; only writing the class archive failed
        print(f"perfbench: class archive not written (exit {p.returncode})", file=sys.stderr)
        if os.path.exists(jsa):
            os.remove(jsa)
    elif p.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: benchmark JVM exited with {p.returncode}")
    with open(log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(result) as f:
        return json.load(f)


def tail_of(xs):
    """(percentile, value): the highest whole percentile with at least
    ten samples above its nearest rank; below 20 samples none above the
    median qualifies, so the tail is the median."""
    n = len(xs)
    for p in range(99, 50, -1):
        rank = max(1, -(-p * n // 100))
        if n - rank >= 10:
            return p, sorted(xs)[rank - 1]
    return 50, statistics.median(xs)


def summarize(workload, res, gen_s, derived):
    """Every end-to-end value by name: (value, unit, sample count, note)."""
    s = res["samples"]
    setup = statistics.median(gen_s) + statistics.median(res["setup_jvm_s"])
    failed = sum(res["failed"].values())
    out = {
        "setup_s": (setup, "s", SETUP_REPS, "median of the set-up repetitions"),
        "error_rate": (failed / max(1, res["attempted"]), "failed/attempted",
                       res["attempted"], ""),
        "peak_heap_mb": (res["peak_heap_mb"], "MB", sum(len(v) for v in s.values()),
                         "live heap after a full GC, max over calls"),
    }

    def lat(name, op):
        xs = s.get(op, [])
        if xs:
            p, v = tail_of(xs)
            out[f"{name}_p50_s"] = (statistics.median(xs), "s", len(xs), "")
            out[f"{name}_tail_s"] = (v, "s", len(xs), f"p{p}")

    c = res["counts"]
    if workload == "pos_daily":
        lat("batch", "batch")
        lat("upsert", "upsert")
        out["ingest_rows_per_s"] = (derived["landed_rows"] / sum(s["batch"]), "rows/s",
                                    len(s["batch"]), "fact + quarantine item rows")
        out["write_amp"] = (c["written_bytes"] / c["staged_bytes"], "ratio",
                            c["days_ingested"], "bytes under the fact and quarantine roots "
                            "/ staged workbook bytes")
    elif workload == "table_churn":
        lat("write", "write")
        lat("read", "read")
        cdc = s.get("cdc", [])
        if cdc:
            out["cdc_apply_p50_s"] = (statistics.median(cdc), "s", len(cdc), "")
        stm = s["write"] + s.get("read", [])
        out["statements_per_s"] = (len(stm) / sum(stm), "1/s", len(stm),
                                   "write and read statements")
        out["write_amp"] = (c["added_bytes"] / c["staged_bytes"], "ratio", c["executed"],
                            "bytes added under the table root / staged batch bytes")
        out["space_amp"] = (c["table_bytes"] / c["live_bytes"], "ratio", 1,
                            "table bytes after the final vacuum / live rows as parquet")
    else:
        lat("query", "query")
        chain = ["quality", "exact_dedup", "minhash", "semdedup"]
        out["curate_docs_per_s"] = (derived["docs"] / sum(s[k][0] for k in chain), "docs/s",
                                    1, "one pass of the four-call chain")
        out["pq_build_s"] = (s["pq_build"][0], "s", 1, "")
        out["recall_at_10"] = (derived["recall_at_10"], "ratio", c["batches_served"] * 8,
                               f"floor {RECALL_FLOOR}")
    prim, sec = s[PRIMARY[workload]], s[SECONDARY[workload]]
    thr = {"pos_daily": "ingest_rows_per_s", "table_churn": "statements_per_s",
           "llm_curation": "curate_docs_per_s"}[workload]
    gated = {
        "setup_s": out["setup_s"],
        "primary_mean_s": (statistics.mean(prim), "s", len(prim), PRIMARY[workload]),
        "secondary_mean_s": (statistics.mean(sec), "s", len(sec), SECONDARY[workload]),
        "throughput": (out[thr][0], "items/s", out[thr][2], thr),
        "peak_heap_mb": out["peak_heap_mb"],
    }
    return out, gated


def layer_metrics(res):
    spans = {sp["name"]: sp for sp in res.get("spans", [])}
    m = {}
    for name, keys in PER_LAYER.items():
        sp = spans.get(name)
        calls = sp["calls"] if sp else 0
        for k in keys:
            if not sp:
                v = 0
            elif k == "calls":
                v = calls
            elif k == "files_kept_ratio":
                e = sp["extras"]
                v = e.get("files_kept", 0) / e["files_total"] if e.get("files_total") else 0
            elif k == "rows_rewritten":
                v = sp["extras"].get(k, 0) / calls
            else:
                v = sp[k] / calls
            m[f"{name}.{k}"] = {"value": v, "unit": LAYER_UNITS[k]}
    return m


def run_one(root, cp, workload, seed, seconds, trace, build_dir, deadline):
    import check
    import gen
    work = os.path.join(build_dir, "work", f"{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    gen_s = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t0 = time.perf_counter()
        gen.generate(workload, seed, input_dir)
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    res = run_jvm(cp, workload, seed, seconds, trace, input_dir, work, deadline, build_dir)
    t1 = time.perf_counter()
    if workload == "pos_daily":
        problems, derived = check.check_pos(res, input_dir, work)
    elif workload == "table_churn":
        problems, derived = check.check_churn(res, input_dir, work)
    else:
        problems, derived = check.check_llm(res, input_dir, work, RECALL_FLOOR)
    problems += res["errors"]
    print(f"perfbench: {workload} benchmark JVM {t1 - t0:.1f} s, checks "
          f"{time.perf_counter() - t1:.1f} s", file=sys.stderr)
    everything, gated = summarize(workload, res, gen_s, derived)
    for name, (v, unit, n, note) in everything.items():
        print(f"{workload} {name} = {v:.6g} {unit} (n={n}{', ' + note if note else ''})")
    for p in problems:
        print(f"{workload} CHECK FAILED: {p}")
    print(f"{workload} checks: {'pass' if not problems else 'FAIL'}")
    results = os.path.join(build_dir, "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    e2e_file = os.path.join(results, f"{workload}-{seed}-trace{int(trace)}.json")
    with open(e2e_file, "w") as f:
        json.dump({k: v[0] for k, v in everything.items()}, f)
    metrics = {k: {"value": v[0], "unit": v[1]} for k, v in gated.items()}
    if trace:
        metrics = layer_metrics(res)
        timed_file = os.path.join(results, f"{workload}-{seed}-trace0.json")
        overhead = None
        if os.path.exists(timed_file):
            with open(timed_file) as f:
                timed = json.load(f)
            overhead = {k: everything[k][0] - timed[k] for k in timed
                        if k.endswith("_s") and not k.endswith("_per_s")
                        and k in everything and k != "setup_s"}
            for k, v in overhead.items():
                print(f"{workload} trace overhead {k} = {v:+.4f} s (traced - timed, seed {seed})")
        else:
            print(f"{workload} trace overhead: no timed run of seed {seed} to compare")
        trace_file = os.path.join(build_dir, "perfbench", f"trace-{workload}-{seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": workload, "seed": seed, "spans": res["spans"],
                       "timeline": res.get("timeline", []), "traced_end_to_end":
                       {k: v[0] for k, v in everything.items()}, "overhead_s": overhead}, f)
        print(f"{workload} trace written to {os.path.relpath(trace_file, root)}")
    shutil.rmtree(work, ignore_errors=True)
    return not problems, res["attempted"], sum(res["failed"].values()), metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) "
             "are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark installation whose jars the engine uses")
    build_dir = os.path.join(root, ".bench_build")
    cp = ensure_build(root, build_dir)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    ok, attempted, failed, metrics = True, 0, 0, {}
    for w in names:
        deadline = time.time() + 165
        o, at, fa, m = run_one(root, cp, w, a.seed, a.seconds, a.trace == 1, build_dir, deadline)
        ok, attempted, failed = ok and o, attempted + at, failed + fa
        metrics.update(m if len(names) == 1 else {f"{w}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
