#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <gates|curate> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. It builds graft and the benchmark driver
(perfbench/build.py), generates the seed's inputs (perfbench/gen.py), runs
the workload in one driver JVM on local[n] for the given seconds, checks
every operation's output (perfbench/checks.py) and prints one JSON object
as its last line. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the listeners are attached and the metrics are per layer. All
files go under .bench_build/perfbench/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Operation lists. Each workload is a fixed list, run in this order every
# round; the README says why each gate is in it. The curate operations are
# graft.Curate's stages, in the order it runs them.
WORKLOADS = {
    "gates": [
        # Supersonic-core operators: sub-second, fixed-cost dominated
        "q1_agg", "q_composite_q3", "q_sort_topk", "q_hash_join_inner",
        "q_group_distinct", "q_stateful_running", "q_rollup", "q_window_rank",
        "q_asof_join",
        # many jobs per query: checkpointed loops and a micro-batch stream
        "q_bfs", "q_kmeans", "q_stream_window",
    ],
    "curate": ["ingest", "quality_filter", "dedup_exact", "dedup_near",
               "decontaminate", "dsir_select", "mix_epochs", "pack", "manifest"],
}
CURATE_STAGES = WORKLOADS["curate"]
KERNELS = ["shingle_hash_ns_per_doc", "minhash_ns_per_doc", "sorted_intersect_ns_per_pair",
           "hashed_linear_ns_per_doc", "simhash_ns_per_doc"]

CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"
JVM_TIMEOUT_S = 150
ROOT = os.path.join(".bench_build", "perfbench")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
LISTENERS = {
    "spark.extraListeners": "perfbench.TraceListener",
    "spark.sql.queryExecutionListeners": "perfbench.TraceQueryListener",
    "spark.sql.streaming.streamingQueryListeners": "perfbench.TraceStreamListener",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def inputs(seed):
    """The seed's tables and corpus, generated once per seed and version of
    gen.py, and reused."""
    version = build.key([os.path.relpath(gen.__file__)])
    base = os.path.abspath(os.path.join(ROOT, "data", f"seed-{seed}-{version}"))
    if not os.path.isdir(base):
        tmp = f"{base}.tmp{os.getpid()}"
        gen.tables(seed, os.path.join(tmp, "tables"))
        gen.corpus(seed, os.path.join(tmp, "corpus"))
        gen.corpus(seed + 1_000_003, os.path.join(tmp, "corpus", "warmup"), gen.WARMUP_DOCS)
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(base):
                raise
    return os.path.join(base, "tables"), os.path.join(base, "corpus")


def run_driver(classpath, workload, tables, corpus, work, seconds, trace):
    """Start the driver JVM, wait for it, return (result, peak RSS MB, launch µs)."""
    result_path = os.path.join(work, "result.json")
    props = [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
             f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false"]
    if trace:
        props += [f"-D{k}={v}" for k, v in LISTENERS.items()]
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + props + ["-cp", classpath, "perfbench.Driver", workload, tables, corpus, work,
                      str(seconds), "1" if trace else "0", str(CPUS), result_path]
           + WORKLOADS[workload])
    # MALLOC_ARENA_MAX bounds glibc's per-thread arenas, whose count
    # otherwise makes the JVM's resident size vary from run to run.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), MALLOC_ARENA_MAX="2")
    log_path = os.path.join(work, "driver.log")
    os.makedirs(os.path.join(work, "tmp"))
    with open(log_path, "w") as log:
        launch_us = time.time_ns() // 1000
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                p.kill()
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"driver JVM exited with {code}"
             + (f" after {JVM_TIMEOUT_S} s" if time.monotonic() > deadline else ""))
    with open(result_path) as f:
        return json.load(f), usage.ru_maxrss / 1024.0, launch_us


def check(workload, res, tables, corpus, work, seed):
    """Check every operation that did not fail; return (errors, output rows)."""
    import checks
    ops = [o for o in res["ops"] if o["ok"]]
    errors, rows = [], 0
    if workload == "curate":
        fp_path = os.path.join(os.path.dirname(corpus), "manifest.json")
        first = None
        for r in sorted({o["round"] for o in ops}):
            if sum(o["round"] == r for o in ops) < len(CURATE_STAGES):
                continue
            st = checks.load_curate(os.path.join(work, "curate", f"r{r}"), CURATE_STAGES)
            errors += [f"round {r}: {e}" for e in checks.check_curate(corpus, st)]
            fp = checks.manifest_fingerprint(st["manifest"])
            if not os.path.exists(fp_path):
                with open(fp_path, "w") as f:
                    json.dump(fp, f)
            with open(fp_path) as f:
                if json.load(f) != fp:
                    errors.append(f"round {r}: manifest fingerprints differ from earlier runs of seed {seed}")
            if first is None:
                first = st
        missed = checks.self_test({}, corpus, first) if first else []
    else:
        outs = [(o["name"], os.path.join(work, "out", f"r{o['round']}", o["name"])) for o in ops]
        expected, errors = checks.check_gates(tables, res["oracle"], outs)
        rows = sum(len(expected[g]) for g, _ in outs)
        missed = checks.self_test(expected, corpus, None)
    if missed:
        errors.append(f"check self-test did not report: {missed}")
    return errors, rows


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_median(xs, steps=200):
    """Harrell-Davis estimate of the median: a mean of all the sorted
    values, the i-th of n weighted by the Beta((n+1)/2, (n+1)/2) mass on
    [i/n, (i+1)/n]. The plain median of a few operations of different
    lengths is one operation's time, and it jumps when two operations
    swap places; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    a = (n + 1) / 2

    def mass(i):  # midpoint rule; the Beta function cancels in the ratio
        ts = ((i + (k + 0.5) / steps) / n for k in range(steps))
        return sum((t * (1 - t)) ** (a - 1) for t in ts)
    w = [mass(i) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def end_to_end(workload, res, rss_mb, launch_us, out_rows, corpus_docs):
    ops = [o for o in res["ops"] if o["ok"]]
    wall = median(res["round_wall_s"])
    if workload == "curate":
        rows_per_s = corpus_docs / wall
    else:
        busy = sum(o["build_s"] + o["action_s"] for o in ops)
        rows_per_s = out_rows / busy if busy else 0.0
    return {
        "setup_s": ((res["setup_done_us"] - launch_us) / 1e6, "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (hd_median([o["build_s"] + o["action_s"] for o in ops]), "s"),
        "rows_per_s": (rows_per_s, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(workload, res):
    ops = [o for o in res["ops"] if o["ok"]]
    # curate never calls SparkEntry: its operations are Curate stages
    entry = [] if workload == "curate" else ops
    n = max(1, res["rounds"])
    m = {
        "Sessions.session_ms": (res["session_ms"], "ms"),
        "Sessions.warmup_ms": (res["warmup_ms"], "ms"),
        "SparkEntry.build_ms": (1000 * sum(o["build_s"] for o in entry) / n, "ms"),
        "SparkEntry.action_ms": (1000 * sum(o["action_s"] for o in entry) / n, "ms"),
    }
    units = {"_ms": "ms", "_mb": "MB"}
    for k, v in res["layers"].items():
        m[k] = (v, next((u for s, u in units.items() if k.endswith(s)), "count"))
    for s in CURATE_STAGES:
        xs = [o["build_s"] for o in ops if o["name"] == s] if workload == "curate" else []
        m[f"pipeline.curate.{s}_s"] = (median(xs), "s")
    trigger_s = sum(o["stream_trigger_ms"] for o in ops) / 1000.0
    m["streaming.input_rows_per_s"] = (
        sum(o["stream_rows"] for o in ops) / trigger_s if trigger_s else 0.0, "1/s")
    fn = res.get("functions", {})
    for k in KERNELS:
        m[f"functions.{k}"] = (fn.get(k, 0.0), "ns")
    m["trace.wall_s"] = (median(res["round_wall_s"]), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildFailed as e:
        fail(str(e))
    tables, corpus = inputs(a.seed)
    work = os.path.abspath(os.path.join(ROOT, "work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, rss_mb, launch_us = run_driver(classpath, a.workload, tables, corpus, work,
                                            a.seconds, a.trace == 1)
        errors, out_rows = check(a.workload, res, tables, corpus, work, a.seed)
        with open(os.path.join(ROOT, f"last-{a.workload}.json"), "w") as f:
            json.dump({k: v for k, v in res.items() if k != "oracle"}, f)
        if a.trace:
            spans = os.path.join(ROOT, "trace", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: {o['name']} round {o['round']} failed: {o['err']}", file=sys.stderr)
    if a.trace:
        metrics = per_layer(a.workload, res)
    else:
        import pyarrow.parquet as pq
        docs = pq.ParquetFile(os.path.join(corpus, "documents.parquet")).metadata.num_rows
        metrics = end_to_end(a.workload, res, rss_mb, launch_us, out_rows, docs)
    print(json.dumps({
        "correct": not errors,
        "attempted": len(res["ops"]),
        "failed": sum(not o["ok"] for o in res["ops"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
