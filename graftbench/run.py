"""graft benchmark: one workload, end to end, from a seed.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds graft and the benchmark from
source (``build.py``), generates the workload's inputs from the seed
(``gen.py``), runs the workload in a fresh JVM (``src/graftbench``), checks
every output against DuckDB over the same inputs, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is the run's context: the
environment stamp, per-pass plan counters and drift flags, and any
failure. A traced run also writes its spans to
``.bench_build/graftbench/work/<workload>/spans.jsonl``.
"""
import argparse
import json
import math
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

# Spark is pinned, not taken from the core count, so runs compare.
MASTER, PARTITIONS, HEAP = "local[2]", 2, "2g"
# Warm-up passes after the cold one. Passes keep getting a little faster
# for several more (JIT); the counts are what the total time budget of the
# benchmark allows, and a fixed count puts the timed passes at the same
# point in every run.
WARMUP = {"etl_flow": 2, "corpus_graph": 0}
# A warm pass's usual length on a 4-core box. The timed region is `--seconds`
# worth of passes at this length (at least two), counted in advance: a run
# that stopped on the clock would time more passes when the box is fast,
# and later passes are faster, which widens the spread between runs.
NOMINAL_PASS_S = {"etl_flow": 3.0, "corpus_graph": 12.0}
RECALL_FLOOR = 0.85
DEADLINE_S = 170.0

JVM_OPTS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

# Which end-to-end metric each layer's per-layer metrics should move, and
# on which workload that layer does most and least of the work. A traced
# run prints it with its context. At its size, etl_flow's source, sink and
# query calls spend more of their time on job dispatch (spark.driver_gap_s,
# jobs) than on scanning or writing bytes.
LAYERS = {
    "sources": ("pass_s, first_pass_s", "etl_flow, dispatch-bound", "corpus_graph"),
    "sinks": ("pass_s, write_amp", "etl_flow, dispatch-bound", "corpus_graph"),
    "queries": ("pass_s", "etl_flow, dispatch-bound", "corpus_graph"),
    "pipeline": ("pass_s; attempts -> failed", "corpus_graph", "etl_flow"),
    "similarity": ("pass_s", "corpus_graph", "etl_flow"),
    "graph": ("pass_s", "corpus_graph", "etl_flow"),
    "ckpt": ("retained_heap_mb when checkpoints outlive their pass; jvm.peak_heap_mb "
             "while a loop holds them", "corpus_graph", "etl_flow"),
    "spark": ("pass_s: jobs and driver gap in the loops and in etl_flow's calls, "
              "task CPU and shuffle in the corpus operators", "both", "-"),
    "jvm": ("first_pass_s everywhere; pass_s where codegen recompiles every pass",
            "corpus_graph", "etl_flow"),
}


def jvm(classpath, work, staged, args, deadline):
    """Runs one benchmark JVM; returns its result JSON."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    timed = max(2, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.trace:
        # traced passes go in ABBA order with the untraced ones
        timed = 4 * math.ceil(timed / 4)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp] + JVM_OPTS + [
        "-cp", classpath, "graftbench.Main",
        "--workload", args.workload, "--input", staged, "--work", work,
        "--result", result,
        "--timed-passes", str(timed),
        "--warmup-passes", str(WARMUP[args.workload]),
        "--master", MASTER, "--partitions", str(PARTITIONS),
        "--trace", str(args.trace)]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        t0_ms = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["--t0-ms", str(t0_ms)], stdout=log, stderr=log)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("graftbench: JVM passed the run deadline")
    if rc != 0 or not os.path.exists(result):
        raise SystemExit("graftbench: JVM exited with %d; see %s" % (rc, log.name))
    with open(result) as f:
        return json.load(f)


def _cell(v):
    return (0, v) if isinstance(v, (int, float)) else (1, str(v))


def same_rows(got, want):
    """Order-independent row equality, 1e-9 relative tolerance on numbers."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=lambda r: [_cell(v) for v in r]),
                    sorted(want, key=lambda r: [_cell(v) for v in r])):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif str(a) != str(b):
                return False
    return True


def oracle_failures(staged, oracle):
    """Ops whose first-pass output differs from DuckDB on the same inputs."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(staged)):
        name, ext = os.path.splitext(f)
        path = os.path.join(staged, f).replace("'", "''")
        if ext == ".parquet":
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, path))
        elif ext == ".csv":
            con.execute("CREATE VIEW %s AS SELECT * FROM read_csv('%s', header=true, "
                        "columns=%s)" % (name, path, gen.ORDERS_CSV_COLUMNS))
    bad = []
    for op, o in sorted(oracle.items()):
        want = [list(r) for r in con.execute(o["sql"]).fetchall()]
        if not same_rows(o["rows"], want):
            bad.append("%s: %d rows differ from DuckDB's %d" % (op, len(o["rows"]), len(want)))
    return bad


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(main):
    """The user-visible metrics."""
    timed = [p for p in main["passes"] if p["phase"] == "timed"]
    return {
        "setup_s": (main["setup_s"], "s"),
        "first_pass_s": (main["passes"][0]["wall_s"], "s"),
        "pass_s": (med([p["wall_s"] for p in timed]), "s"),
        # heap kept between passes; the cold pass is left out: its reading
        # includes one-off start-up state
        "retained_heap_mb": (max(p["retained_heap_mb"] for p in main["passes"][1:]), "MB"),
        "write_amp": (med([p["output_mb"] / p["input_mb"] for p in timed]), "ratio"),
    }


def span_total(p, name, key):
    return sum(s[key] for s in p["spans"] if s["name"] == name)


def per_layer(main):
    """Per-layer metrics: medians over the traced timed passes."""
    timed = [p for p in main["passes"] if p["phase"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    rows = []
    for p in traced:
        m = {}
        m["sources.ingest.s"] = span_total(p, "sources.ingest", "s")
        m["sources.input_mb"] = p["scan_mb"]
        m["sources.rows"] = p["scan_rows"]
        for sink in ("store_replace", "store_append", "gzip", "lake", "warehouse"):
            m["sinks.%s.s" % sink] = span_total(p, "sinks." + sink, "s")
        m["sinks.output_mb"] = p["output_mb"]
        m["sinks.files"] = p["output_files"]
        for q in ("count", "limit", "filter", "group_by", "month_rollup", "top_k", "dim_join"):
            m["queries.%s.s" % q] = span_total(p, "queries." + q, "s")
            m["queries.%s.jobs" % q] = span_total(p, "queries." + q, "jobs")
        calls = sum(t["calls"] for t in p["flow_tasks"].values())
        attempts = sum(t["attempts"] for t in p["flow_tasks"].values())
        m["pipeline.tasks"] = calls
        m["pipeline.attempts"] = attempts
        m["pipeline.attempts_per_task"] = attempts / calls if calls else 0.0
        m["pipeline.corpus.build_s"] = span_total(p, "pipeline.corpus.build", "s")
        m["pipeline.corpus.store_s"] = span_total(p, "pipeline.corpus.store", "s")
        for k in ("s", "jobs", "task_cpu_s", "shuffle_write_mb"):
            m["similarity.knn_lsh." + k] = span_total(p, "similarity.knn_lsh", k)
        for k in ("s", "jobs", "driver_gap_s", "shuffle_write_mb"):
            m["graph.pagerank." + k] = span_total(p, "graph.pagerank", k)
        m["ckpt.live_rdds"] = p["live_rdds"]
        m["ckpt.live_mb"] = p["live_mb"]
        for k in ("jobs", "stages", "tasks", "task_failures", "task_cpu_s", "sched_delay_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "codegen_compiles"):
            m["spark." + k] = p[k]
        m["spark.driver_gap_s"] = p["driver_gap_s"]
        m["jvm.jit_s"] = p["jit_s"]
        m["jvm.gc_s"] = p["gc_s"]
        m["jvm.peak_heap_mb"] = p["peak_heap_mb"]
        m["jvm.cpu_s"] = p["cpu_s"]
        m["driver.cpu_s"] = p["cpu_s"] - p["task_cpu_s"]
        pass_id = next(s["id"] for s in p["spans"] if s["name"] == "pass")
        top = [s for s in p["spans"] if s["parent"] == pass_id]
        m["trace.span_coverage"] = sum(s["s"] for s in top) / p["wall_s"]
        rows.append(m)
    out = {k: med([r[k] for r in rows]) for k in rows[0]}
    cold = main["passes"][0]
    out["jvm.first_pass_jit_s"] = cold["jit_s"]
    out["spark.first_pass_codegen_compiles"] = cold["codegen_compiles"]
    out["spark.plan_drift_passes"] = len(drift(main))
    out["trace.overhead"] = (med([p["wall_s"] for p in traced]) /
                             med([p["wall_s"] for p in untraced]))
    return out


def drift(main):
    """Warm passes whose job count differs from the first warm pass's."""
    warm = [p for p in main["passes"] if p["phase"] != "cold"]
    return [p["i"] for p in warm if warm and p["jobs"] != warm[0]["jobs"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    root = os.getcwd()

    classpath = build.build(root)
    work = os.path.join(root, ".bench_build", "graftbench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    staged = os.path.join(work, "staged")
    gen.generate(staged, args.workload, args.seed)

    main_run = jvm(classpath, work, staged, args, deadline)
    failures = main_run["failures"] + oracle_failures(staged, main_run["oracle"])
    if args.workload == "corpus_graph" and not main_run["recall"] >= RECALL_FLOOR:
        failures.append("knn recall %.4f below %.2f" % (main_run["recall"], RECALL_FLOOR))

    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in per_layer(main_run).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(main_run).items()}
    warm = [p for p in main_run["passes"] if p["phase"] != "cold"]
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": main_run["env"], "recall": main_run["recall"],
        "warm_passes": [{k: p[k] for k in ("i", "phase", "wall_s", "jobs", "stages",
                                           "shuffle_write_mb")} for p in warm],
        "plan_drift_passes": drift(main_run),
        "failures": failures,
    }
    if args.trace:
        context["layers"] = {k: dict(zip(("moves", "most_work", "least_work"), v))
                             for k, v in LAYERS.items()}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not failures,
        "attempted": main_run["ops"],
        "failed": len(failures),
        "metrics": metrics,
    }))


def _unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    if name in ("trace.overhead", "trace.span_coverage", "pipeline.attempts_per_task"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
