#!/usr/bin/env python3
"""Layered end-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline), the engine into target/ and the
harness into perfbench/target; a later run rebuilds only when a source or
build file changed. Each run
generates its inputs from the seed under .bench_build/, starts one JVM with a
local[nproc] Spark session and one client thread, warms up, runs whole cycles
of the workload's closed loop until the given seconds have passed (every
cycle is longer than a second, so --seconds 1 measures exactly one cycle),
checks every output, and prints one JSON line as the last line of stdout: the end-to-end
metrics with --trace 0, the per-layer metrics from the span tracer and the
Spark listener with --trace 1. A full artifact (environment, per-activity
metrics with tail percentiles and sample counts, check reports, tracing
overhead) is written to .bench_build/out/.

Workloads, one cycle each:
  batch       one dirty-CSV ETL batch (extract, buildStar, publish,
              preFlight, vacuum), then one curation pass (decontaminate,
              dedup, split, training order, parquet write)
  star_query  Q1-Q19 once in a seeded order, every result collected
Tests of the statistics and the run bookkeeping: python3 -m unittest discover perfbench
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SIZES = {
    "batch": {"etl_batches": 1, "etl_rows": 100000, "etl_warm_rows": 2000,
              "corpus_base_docs": 1500, "corpus_warm_docs": 100},
    "star_query": {"star_orders": 30000, "star_warm_orders": 1000},
}
SETUP_REPEATS = 3
RUN_TIMEOUT_S = 170
# Added after the engine build's own JVM options (its --add-opens, -D
# settings and -Xmx, which the fixed heap here overrides). With the engine's
# adaptive heap the same batch run's loop peak RSS ranged from 2.3 to 3.7 GB
# with when G1 chose to grow the heap. With a fixed heap the loop's peak is
# the young generation plus the most the old generation has held, so what
# an operation keeps live still shows. -XX:TieredStopAtLevel=1 (C1 only):
# with the default tiered compiler C2 was still compiling for 31-34 CPU
# seconds inside a 19-second Q1-Q19 pass after the warm-up, so the pass took
# 2.5 cores and its wall followed host load (cycle_s spread 0.31 over five
# seeds); under C1 the pass compiles for about 2 s and runs no slower. C2-only
# code-quality gains are therefore under-weighted. C1 only also shrinks the
# default code cache from 240 MB to 48 MB, which the engine's generated code
# fills within about one batch cycle (4-core VM); the JVM then flushes it and recompiles
# some 55,000 methods in five seconds, which made one cycle cost 50% more CPU
# than the next, so the cache keeps the tiered default. -XX:-UsePerfData
# keeps the JVM from writing hsperfdata outside the checkout.
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-Xmn512m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData"]
# op_geomean_s, not the median: the median of Q1-Q19 jumps between queries
# of different cost and spread 18% over ten seeds, the geometric mean 11%.
END_TO_END = [("setup_s", "s"), ("cycle_s", "s"), ("op_geomean_s", "s"), ("peak_rss_mb", "MB")]
# What the per-layer output holds, in order. Layer metrics a workload does
# not exercise read 0; spark.* are per operation over all of a run's ops.
PER_LAYER = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.task_busy_s", "s"),
    ("spark.busy_frac", "ratio"), ("spark.driver_gap_s", "s"),
    ("spark.driver_gap_frac", "ratio"), ("spark.sched_wait_s", "s"),
    ("spark.scan_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
    ("spark.peak_exec_mem_bytes", "bytes"), ("spark.failed_tasks", "count"),
    ("etl.extract_s", "s"), ("etl.build_star_s", "s"),
    ("warehouse.publish_s", "s"), ("warehouse.preflight_s", "s"),
    ("warehouse.vacuum_s", "s"), ("warehouse.files_written", "count"),
    ("warehouse.bytes_written", "bytes"),
    ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("queries.result_rows", "count"), ("queries.scan_rows_per_result_row", "ratio"),
    ("cli.recipe_plan_s", "s"), ("cli.curate_write_s", "s"),
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------------- build

def sources():
    """Every file the build reads: engine and harness sources, both builds."""
    return (glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
            + glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True)
            + [os.path.join(d, f) for d in (ROOT, HERE)
               for f in ("build.sbt", "project/build.properties")])


def digest(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath
    and the engine build's JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        die("engine sources not found under src/main/scala/graft; run from a full checkout")
    stamp = os.path.join(HERE, "target", "graftbench-build.json")
    key = digest(sources())
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done["sources_sha256"] == key:
            return done["classpath"], done["java_options"]
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "engineJavaOptions", "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    with open(os.path.join(HERE, "target", "engine-java-options.txt")) as f:
        java_options = [ln.strip() for ln in f if ln.strip()]
    done = {"sources_sha256": key, "classpath": lines[-1].strip(), "java_options": java_options}
    with open(stamp, "w") as f:
        json.dump(done, f)
    log(f"build done in {time.time() - t0:.1f} s")
    return done["classpath"], done["java_options"]


# ---------------------------------------------------------------------- inputs

def make_inputs(workload, seed, d):
    """Generate one workload's inputs under d; returns the ground truth per
    activity."""
    sz = SIZES[workload]
    if workload == "batch":
        os.makedirs(os.path.join(d, "etl"))
        batches = [gen.etl_batch(os.path.join(d, "etl", f"batch_{i}.csv"), seed, i, sz["etl_rows"])
                   for i in range(sz["etl_batches"])]
        gen.etl_batch(os.path.join(d, "etl", "warm.csv"), seed, 999, sz["etl_warm_rows"])
        curate = gen.corpus(os.path.join(d, "corpus"), seed, sz["corpus_base_docs"])
        gen.corpus(os.path.join(d, "corpus_warm"), seed + 1, sz["corpus_warm_docs"])
        return {"etl": {"batches": batches}, "curate": curate}
    rows = gen.star_tables(os.path.join(d, "star"), seed, sz["star_orders"])
    gen.star_tables(os.path.join(d, "star_warm"), seed + 1, sz["star_warm_orders"])
    return {"star": {"rows": rows}}


def input_bytes(d):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "**"), recursive=True)
               if os.path.isfile(f))


# ----------------------------------------------------------------------- run

def run_jvm(cp, java_opts, args, work, deadline):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *java_opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main", *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, env=env, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("engine run timed out")
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"engine run failed with exit code {p.returncode}")
    return int(cpus)


# --------------------------------------------------------------------- metrics

def walls(raw, kinds):
    return [(o["end"] - o["start"]) / 1e3 for o in raw["ops"] if o["kind"] in kinds]


def end_to_end(raw, setup_s):
    cycles = [(c[1] - c[0]) / 1e3 for c in raw["cycles"]]
    return {"setup_s": setup_s, "cycle_s": stats.median(cycles),
            "cycle_cpu_s": stats.median([c[2] for c in raw["cycles"]]),
            "op_geomean_s": stats.geomean(walls(raw, {o["kind"] for o in raw["ops"]})),
            "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
            "setup_peak_rss_mb": raw["setup_peak_rss_kb"] / 1024.0,
            "loop_start_rss_mb": raw["loop_start_rss_kb"] / 1024.0}


def named_metrics(raw, truth, e2e):
    """Per-activity throughputs, medians and tails (with their percentiles)."""
    named, tails = {}, {}

    def tailed(name, xs):
        v, pct, n = stats.tail(xs)
        named[name] = v
        tails[name] = {"percentile": pct, "samples": n, "beyond": stats.TAIL_BEYOND}

    fin = raw["finish"]
    ops = raw["ops"]
    if "etl" in fin:
        etl_ops = [o for o in ops if o["kind"] == "etl_batch"]
        t = walls(raw, {"etl_batch"})
        batches = truth["etl"]["batches"]
        named["etl_rows_per_s"] = sum(batches[o["batch"]]["rows"] for o in etl_ops) / sum(t)
        named["etl_batch_p50_s"] = stats.median(t)
        named["wh_bytes_per_input_byte"] = (etl_ops[-1]["bytes_written"]
                                            / batches[etl_ops[-1]["batch"]]["bytes"])
        t = walls(raw, {"curate"})
        named["curate_docs_per_s"] = truth["curate"]["docs"] * len(t) / sum(t)
        named["curate_pass_p50_s"] = stats.median(t)
    if "star" in fin:
        t = walls(raw, {"query"})
        named["star_queries_per_s"] = len(t) / sum(t)
        named["star_query_p50_s"] = stats.median(t)
        tailed("star_query_tail_s", t)
    named["setup_s"] = e2e["setup_s"]
    named["peak_rss_mb"] = e2e["peak_rss_mb"]
    return named, tails


def spark_metrics(raw, op_ids, cores):
    """spark.* per operation over the operations whose root span is in op_ids."""
    by_id = {s["id"]: s for s in raw["spans"]}
    op_of = {s["id"]: s["op"] for s in raw["spans"]}
    roots = sorted((by_id[i] for i in op_ids), key=lambda s: s["start"])
    n_ops = len(roots)
    wall_ms = sum(s["end"] - s["start"] for s in roots)

    def owner(job):
        if job["span"] in op_of:
            return op_of[job["span"]]
        for r in roots:  # a job submitted from a thread without the property
            if r["start"] <= job["submit"] <= r["end"]:
                return r["id"]
        return None

    lst = raw["listener"]
    jobs = [(j, owner(j)) for j in lst.get("jobs", [])]
    jobs = [(j, o) for j, o in jobs if o in op_ids]
    job_ids = {j["id"] for j, _ in jobs}
    stages = [s for s in lst.get("stages", []) if s["job"] in job_ids]

    def total(key):
        return sum(s[key] for s in stages)

    gap_ms = sum((r["end"] - r["start"]) - stats.union_length(
        [(j["submit"], j["end"]) for j, o in jobs if o == r["id"] and j["end"] >= 0],
        r["start"], r["end"]) for r in roots)
    wait_ms = sum(j["first_launch"] - j["submit"] for j, _ in jobs if j["first_launch"] >= 0)
    busy_ms = total("busy_ms")
    return {
        "spark.jobs_per_op": len(jobs) / n_ops,
        "spark.stages_per_op": len(stages) / n_ops,
        "spark.tasks_per_op": total("tasks") / n_ops,
        "spark.task_busy_s": busy_ms / 1e3 / n_ops,
        "spark.busy_frac": busy_ms / (wall_ms * cores),
        "spark.driver_gap_s": gap_ms / 1e3 / n_ops,
        "spark.driver_gap_frac": gap_ms / wall_ms,
        "spark.sched_wait_s": wait_ms / 1e3 / n_ops,
        "spark.scan_bytes": total("scan_bytes") / n_ops,
        "spark.scan_rows": total("scan_rows"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes") / n_ops,
        "spark.spill_bytes": total("spill_bytes") / n_ops,
        "spark.gc_s": total("gc_ms") / 1e3 / n_ops,
        "spark.peak_exec_mem_bytes": max([s["peak_mem"] for s in stages], default=0),
        "spark.failed_tasks": total("failed_tasks"),
    }


def self_time_by_name(raw):
    """Span name -> self times (s) of its spans inside measured operations."""
    op_ids = {o["span"] for o in raw["ops"]}
    spans = [s for s in raw["spans"] if s["op"] in op_ids]
    selfs = stats.self_times(spans)
    out = {}
    for s in spans:
        name = "op:" + s["name"] if s["parent"] < 0 else s["name"]
        out.setdefault(name, []).append(selfs[s["id"]] / 1e3)
    return out


def per_layer(raw, cores, layers):
    """The per-layer metrics, plus the same spark.* split by operation kind."""
    ops = raw["ops"]
    m = spark_metrics(raw, {o["span"] for o in ops}, cores)
    by_kind = {kind: spark_metrics(raw, {o["span"] for o in ops if o["kind"] == kind}, cores)
               for kind in sorted({o["kind"] for o in ops})}
    selfs = self_time_by_name(raw)
    for name, unit in layers:
        if unit == "s" and name[:-2] in selfs:
            m[name] = stats.mean(selfs[name[:-2]])
    etl = [o for o in ops if o["kind"] == "etl_batch"]
    if etl:
        m["warehouse.files_written"] = stats.mean([o["files_written"] for o in etl])
        m["warehouse.bytes_written"] = stats.mean([o["bytes_written"] for o in etl])
    queries = [o for o in ops if o["kind"] == "query"]
    if queries:
        result_rows = sum(o["rows"] for o in queries)
        m["queries.result_rows"] = result_rows / len(queries)
        m["queries.scan_rows_per_result_row"] = (by_kind["query"]["spark.scan_rows"]
                                                 / max(1, result_rows))
    layer = {name: {"value": m.get(name, 0), "unit": unit} for name, unit in layers}
    return layer, by_kind, {k: sum(v) for k, v in selfs.items()}


def tracing_overhead(out_dir, workload, traced_e2e, src_sha):
    """Traced minus untraced for each end-to-end metric, against the median
    of the untraced artifacts of the workload in out_dir that the same
    sources produced (out_dir outlives source changes)."""
    base = {}
    for f in glob.glob(os.path.join(out_dir, f"{workload}-seed*-trace0.json")):
        with open(f) as fh:
            art = json.load(fh)
        if art.get("env", {}).get("source_sha256") != src_sha:
            continue
        for k, v in art["metrics"].items():
            base.setdefault(k, []).append(v["value"])
    if not base:
        return {"note": "no baseline: no untraced run of this workload from these sources "
                        "in the output directory yet"}
    return {k: {"traced": v, "untraced_median": stats.median(base[k]),
                "delta": v - stats.median(base[k]),
                "delta_share": (v - stats.median(base[k])) / stats.median(base[k]),
                "untraced_runs": len(base[k])}
            for k, v in traced_e2e.items() if k in base}


def source_digest():
    """SHA-256 over the engine and benchmark sources, for checkouts without git."""
    return digest(sources() + glob.glob(os.path.join(HERE, "*.py")))


def git_commit():
    git_dir = os.path.join(ROOT, ".git")
    if not os.path.isdir(git_dir):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "--git-dir", git_dir, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (git unavailable)"


# ------------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description="Layered end-to-end benchmark of the graft engine.")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    cp, engine_opts = build()
    src_sha = source_digest()
    java_opts = engine_opts + JVM_OPTS
    deadline = time.time() + RUN_TIMEOUT_S
    base = os.path.join(ROOT, ".bench_build")
    out_dir = os.path.join(base, "out")
    work = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    try:
        # Input generation is set-up a user pays on every run: repeat it and
        # keep the median, so one slow repetition does not set the figure.
        gen_s = []
        for r in range(SETUP_REPEATS):
            d = os.path.join(work, f"inputs{r}")
            os.makedirs(d)
            t0 = time.perf_counter()
            truth = make_inputs(a.workload, a.seed, d)
            gen_s.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(d)
        inputs = os.path.join(work, "inputs0")
        engine = os.path.join(work, "engine")
        os.makedirs(engine)
        raw_path = os.path.join(work, "raw.json")
        cores = run_jvm(cp, java_opts, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                             inputs, engine, raw_path], engine, deadline)
        with open(raw_path) as f:
            raw = json.load(f)
        setup = {"input_gen_s": stats.median(gen_s), "input_gen_runs_s": gen_s,
                 "jvm_session_start_s": raw["session_start_s"], **raw["setup"]}
        setup_s = setup["input_gen_s"] + raw["session_start_s"] + sum(raw["setup"].values())
        t0 = time.perf_counter()
        failed, report = checks.run(raw, truth, inputs)
        checks_s = time.perf_counter() - t0
        attempted = len(raw["ops"])
        e2e = end_to_end(raw, setup_s)
        named, tails = named_metrics(raw, truth, e2e)
        named["ops_failed_frac"] = failed / attempted
        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "attempted": attempted, "failed": failed, "checks": report,
            "end_to_end": e2e, "named_metrics": named, "tails": tails, "setup": setup,
            "window_s": raw["window_s"], "cycles": len(raw["cycles"]),
            "cycle_walls_s": [(c[1] - c[0]) / 1e3 for c in raw["cycles"]],
            "cycle_cpus_s": [c[2] for c in raw["cycles"]],
            "teardown": {"finish_s": raw["finish_s"], "checks_s": checks_s},
            "op_walls_s": {k: walls(raw, {k}) for k in sorted({o["kind"] for o in raw["ops"]})},
            "jvm_gc": raw["jvm_gc"],
            "env": {**raw["env"], "jvm_options": java_opts,
                    "flush_policy": "local filesystem, no fsync (the same on every commit)",
                    "input_sizes": {**SIZES[a.workload], "input_bytes": input_bytes(inputs)},
                    "git_commit": git_commit(), "source_sha256": src_sha,
                    "client": "1 thread, closed loop"},
            "not_covered": "graft.streaming is not exercised by this benchmark",
        }
        if a.trace:
            metrics, by_kind, self_s = per_layer(raw, cores, PER_LAYER)
            artifact.update({
                "per_layer_by_kind": by_kind, "self_time_s": self_s,
                "wall_share": {k: {"driver_gap": v["spark.driver_gap_frac"],
                                   "task_busy_per_core": v["spark.busy_frac"]}
                               for k, v in by_kind.items()},
                "tracing_overhead": tracing_overhead(out_dir, a.workload, e2e, src_sha)})
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        artifact["metrics"] = metrics
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        log(f"{a.workload} seed={a.seed} trace={a.trace}: " + ", ".join(
            f"{k}={v:.4g}" for k, v in named.items() if isinstance(v, (int, float)))
            + f"; failed {failed}/{attempted}; total {time.time() - t_start:.1f} s")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        if failed:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
