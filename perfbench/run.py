"""graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The command builds the program and the
harness (perfbench/build.py), generates the seed's inputs
(perfbench/datagen.py), sets up one Spark JVM with local[nproc], measures
the workload in a closed loop of whole passes for at least --seconds,
checks every result against the DuckDB oracle
(perfbench/oracle.py) and prints one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See perfbench/README.md.
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
import datagen  # noqa: E402
import oracle  # noqa: E402

HEAP = "2g"
# The untimed warm-up query of the set-up: small, and in no workload.
WARMUP = "q4_nation_count"
RUN_LIMIT_S = 160
MIN_FREE_BYTES = 2 << 30

WORKLOADS = {
    "sql_interactive": {
        "scale": "sf0.01",
        "queries": ["q1_filter_count", "q2_join_top20", "q5_agg_pricing", "q10_rollup",
                    "q34_partition_pruning", "q37_funnel", "io_format_roundtrip",
                    "stream_session_window"],
    },
    "graph_fixpoint": {
        "scale": "sf0.001",
        "queries": ["pagerank", "graph_sssp", "graph_components"],
    },
    "vector_dedup": {
        "scale": "sf0.1",
        "queries": ["dedup_embedding", "sim_ann_lsh", "ml_kmeans"],
    },
}

END_TO_END = [("wall_s", "s"), ("cpu_s", "s"), ("heap_peak_mb", "MB"), ("setup_s", "s")]

PER_LAYER = [
    ("operators.construct_s", "s"), ("operators.construct_self_s", "s"),
    ("operators.construct_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"), ("catalyst.planning_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
    ("exec.task_wait_s", "s"), ("exec.busy_frac", "ratio"), ("exec.driver_idle_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_mem_bytes", "bytes"),
    ("exec.spill_disk_bytes", "bytes"), ("exec.tasks_failed", "count"),
    ("sources.input_bytes", "bytes"), ("sources.input_records", "count"),
    ("sources.layout_write_bytes", "bytes"), ("sources.result_bytes", "bytes"),
    ("memo.entries_peak", "count"), ("memo.bytes_peak", "bytes"), ("memo.release_s", "s"),
    ("memo.persistent_rdds_after_release", "count"),
    ("functions.codegen_fallbacks", "count"),
    ("trace.wall_s", "s"), ("trace.overhead_frac", "ratio"),
]

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def find_testdata(root):
    """The source datasets (sf0.001, sf0.01, sf0.1): $GRAFT_TESTDATA, else
    a `testdata` directory beside the checkout or one of its parents, or
    in the home directory."""
    candidates = [os.environ.get("GRAFT_TESTDATA", "")]
    d = os.path.abspath(root)
    while True:
        candidates.append(os.path.join(d, "testdata"))
        parent = os.path.dirname(d)
        if parent == d:
            break
        d = parent
    candidates.append(os.path.join(os.path.expanduser("~"), "testdata"))
    for c in candidates:
        if c and os.path.isdir(os.path.join(c, "sf0.01")):
            return c
    raise SystemExit("perfbench: no testdata directory found (set GRAFT_TESTDATA)")


def run_jvm(classes, run_dir, args, deadline, log_name):
    """Run the harness with `args`; return the epoch time it was started."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] +
           [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(run_dir, log_name)
    started = time.time()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded the run's time limit ({log_name})")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with {code} ({log_name})")
    return started


def plan_string(families, queries):
    """fam:q1,q2/fam2:q3 in SparkEntry declaration order."""
    wanted = set(queries)
    parts = []
    for fam, names in families:
        chosen = [n for n in names if n in wanted]
        if chosen:
            parts.append(fam + ":" + ",".join(chosen))
            wanted -= set(chosen)
    if wanted:
        raise SystemExit(f"perfbench: unknown queries {sorted(wanted)}")
    return "/".join(parts)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    wl = WORKLOADS[a.workload]
    load_start, cpu_start = os.getloadavg(), cpu_ticks()

    classes, stamp = build.build(root)
    bdir = build.build_dir(root)
    if shutil.disk_usage(bdir).free < MIN_FREE_BYTES:
        raise SystemExit("perfbench: less than 2 GiB free disk")
    cores = len(os.sched_getaffinity(0))

    # inputs for this seed, generated once per (scale, seed)
    data = os.path.join(bdir, "data", wl["scale"], f"seed{a.seed}")
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        datagen.permute(os.path.join(find_testdata(root), wl["scale"]), data, a.seed)
        open(os.path.join(data, ".done"), "w").close()

    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # the families and oracle SQL of this build
        meta = os.path.join(bdir, f"oracle-{stamp[:16]}.json")
        if not os.path.exists(meta):
            run_jvm(classes, run_dir, {"mode": "oracle", "out": run_dir, "plan": "all:all"},
                    deadline, "oracle.log")
            os.replace(os.path.join(run_dir, "oracle.json"), meta)
        with open(meta) as f:
            spec = json.load(f)
        queries = wl["queries"]
        plan = plan_string(spec["families"], queries)
        oracle_sql = {q: spec["oracle"][q] for q in queries}
        exp = oracle.expected(data, oracle_sql,
                              os.path.join(data, f"expected-{stamp[:16]}.pkl"), cores)

        common = {"plan": plan, "data": data, "cores": cores, "seconds": a.seconds,
                  "warmup": WARMUP}
        out = os.path.join(run_dir, "main")
        t0 = run_jvm(classes, run_dir,
                     dict(common, mode="run", out=out, trace=a.trace,
                          run_id=f"{a.workload}-s{a.seed}-{int(time.time())}"),
                     deadline, "main.log")
        with open(os.path.join(out, "record.json")) as f:
            rec = json.load(f)
        setup_s = rec["warmup_done_epoch_s"] - t0
        attempted, failed, rows, failures = check_outputs(data, cores, out, rec, exp)

        passes = rec["passes"]
        lat = [q["latency_s"] for q in rec["queries"]]
        heap = [p["heap_peak_mb"] for p in passes if p["gcs"] > 0]
        e2e = {
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "heap_peak_mb": statistics.median(heap) if heap else 0.0,
            "setup_s": setup_s,
        }
        if a.trace:
            per_pass = rec["layers"]["per_pass"]
            layer = {name: statistics.median(p[name] for p in per_pass)
                     for name, _ in PER_LAYER if name in per_pass[0]}
            layer["functions.codegen_fallbacks"] = rec["codegen_fallbacks"]
            layer["trace.wall_s"] = e2e["wall_s"]
            base = untraced_wall(bdir, a.workload, stamp, plan)
            if base is None:
                # no untraced run of this workload yet: measure one now
                plain = os.path.join(run_dir, "untraced")
                run_jvm(classes, run_dir,
                        dict(common, mode="run", out=plain, trace=0), deadline, "untraced.log")
                with open(os.path.join(plain, "record.json")) as f:
                    base = statistics.median(p["wall_s"] for p in json.load(f)["passes"])
            layer["trace.overhead_frac"] = layer["trace.wall_s"] / base - 1
            metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

        louvain = max(rec["louvain_dispatches"], key=lambda d: d["m"], default=None)
        annotations = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "scale": wl["scale"], "plan": plan,
            "git_commit": git_commit(root), "source_sha256": stamp, "nproc": cores,
            "heap_max_mb": rec["heap_max_mb"], "spark_version": rec["spark_version"],
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": steal_frac(cpu_start, cpu_ticks()),
            "codegen_fallbacks": rec["codegen_fallbacks"],
            "louvain_arm": louvain["arm"] if louvain else "none",
            "passes": len(passes), "query_samples": len(lat),
            "query_p50_s": statistics.median(lat),
            "failed_frac": failed / attempted,
            "output_rows": rows, "failures": failures, "end_to_end": e2e,
        }
        if rec["codegen_fallbacks"]:
            log(f"WARNING: {rec['codegen_fallbacks']} codegen fallback(s); some plans ran interpreted")
        write_record(bdir, a, annotations, rec, out)
        summarize(annotations, rec, metrics)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def check_outputs(data, cores, out, rec, exp):
    """Every query of every pass against the oracle."""
    con = oracle.connect(data, cores)
    attempted = failed = 0
    rows, failures = {}, []
    for q in rec["queries"]:
        attempted += 1
        msg = q["error"]
        if msg is None:
            n, msg = oracle.check(con, os.path.join(out, "results", f"p{q['pass']}", q["name"]),
                                  exp[q["name"]])
            rows.setdefault(q["name"], n)
        if msg:
            failed += 1
            failures.append(f"{q['name']} (pass {q['pass']}): {msg}")
    con.close()
    for f in failures[:10]:
        log(f"FAILED {f}")
    return attempted, failed, rows, failures


def untraced_wall(bdir, workload, stamp, plan):
    """Median wall_s of the untraced runs of `workload` recorded so far
    with the same build and query plan."""
    walls = []
    rdir = os.path.join(bdir, "records")
    for name in os.listdir(rdir) if os.path.isdir(rdir) else []:
        if name.startswith(workload + "-") and "-trace0-" in name and name.endswith(".json"):
            with open(os.path.join(rdir, name)) as f:
                ann = json.load(f)["annotations"]
            if ann["source_sha256"] == stamp and ann["plan"] == plan:
                walls.append(ann["end_to_end"]["wall_s"])
    return statistics.median(walls) if walls else None


def cpu_ticks():
    """The host's aggregate CPU tick counters, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(start, end):
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    if not start or not end or len(start) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else None


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def write_record(bdir, a, annotations, rec, out):
    """Keep the run's record (and spans, when traced) under the build dir."""
    rdir = os.path.join(bdir, "records")
    os.makedirs(rdir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    with open(os.path.join(rdir, name + ".json"), "w") as f:
        json.dump({"annotations": annotations, "record": rec}, f)
    spans = os.path.join(out, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copyfile(spans, os.path.join(rdir, name + ".spans.jsonl"))
    log(f"record: {os.path.relpath(os.path.join(rdir, name + '.json'))}")


def summarize(ann, rec, metrics):
    log(f"{ann['workload']} seed={ann['seed']} passes={ann['passes']} "
        f"query samples={ann['query_samples']} query_p50_s={ann['query_p50_s']:.4f} "
        f"failed_frac={ann['failed_frac']:.4f} "
        f"louvain_arm={ann['louvain_arm']} codegen_fallbacks={ann['codegen_fallbacks']}")
    for n, m in metrics.items():
        log(f"  {n} = {m['value']:.6g} {m['unit']}")
    if "layers" in rec:
        log("  per query (traced, median pass): latency = construct (driver self + jobs) "
            "+ action catalyst + action exec + unattributed")
        by = {}
        for q in rec["layers"]["per_query"]:
            by.setdefault(q["name"], []).append(q)
        for name, qs in by.items():
            q = sorted(qs, key=lambda x: x["latency_s"])[len(qs) // 2]
            self_s = q["operators.construct_self_s"]
            log(f"    {name}: {q['latency_s']:.3f} = {q['construct_s']:.3f} "
                f"({self_s:.3f} + {q['construct_s'] - self_s:.3f}) + "
                f"{q['action_catalyst_s']:.3f} + {q['action_exec_s']:.3f} + "
                f"{q['unattributed_s']:.3f} s  (jobs {q['exec.jobs']:.0f})")


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(os.getcwd(), "src", "main", "scala")):
        sys.stderr.write("perfbench: run from the repository root (src/main/scala not found)\n")
        sys.exit(2)
    main()
