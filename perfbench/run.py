#!/usr/bin/env python3
"""graft benchmark: one run of one workload, in a fresh JVM.

    python3 perfbench/run.py --workload elt_star --seed 1 --seconds 20 --trace 0

Workloads (BENCHMARK.json lists the gated ones and why each was chosen):

* ``elt_star``: ingest seeded monthly trip CSVs to month-partitioned
  parquet, then one cold pass over star-schema and events queries;
* ``corpus_memo``: one cold pass over LLM-data queries that build
  session memo tables on first use (the memo warm tier stays off);
* ``stream_mixed``: a closed-loop program of ``IvfIndex.admitBatch``
  batches, ``IvfIndex.topK`` panels and ``CdcStreams.applyBatch`` merges
  over a freshly seeded index and snapshot.

Each run builds the engine if its sources changed (perfbench/build.py),
generates every input from ``--seed`` (perfbench/gen.py) inside a per-run
directory under ``.bench_build/runs/``, runs the harness JVM there on
``local[N]`` (N = cores), one operation at a time, and checks every output
outside the timed window. A pass is fixed work, sized so that it takes
about ``--seconds`` (BENCHMARK.json's run_seconds) on a 4-core machine;
the value is recorded, not enforced.

``setup_s`` is the time from launching the harness JVM to a ready Spark
session, plus, on ``stream_mixed``, seeding the index and the snapshot.
Input generation is the benchmark's own work and is left out of it.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` registers the
harness's Spark listeners and reports the per-layer metrics, the span
self-time table and the tracing overhead against the last untraced run of
the workload. The last stdout line is the JSON result; the exit code is
non-zero when any output check fails. Records go to .bench_build/results/
and traced spans to .bench_build/traces/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

OUT = build.OUT
WORKLOADS = ("elt_star", "corpus_memo", "stream_mixed")
JVM_HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "retained_heap_mb": "MB"}


def run_jvm(args, cp, run_dir, data, cores, budget):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",  # no hsperfdata file outside the run directory
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if args.trace:
        # keep whole call stacks in stage details, so a job started under
        # graft.streaming is seen as such (Trace.streamingFrame)
        cmd.append("-Dspark.callstack.depth=400")
    cmd += ["-cp", cp, "graftbench.Harness",
            "--workload", args.workload,
            "--trace", str(args.trace), "--data", data, "--run", run_dir,
            "--out", os.path.join(run_dir, "result.json"), "--cores", str(cores)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(log) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")
    with open(res_path) as f:
        return t0, json.load(f)


def op_ms(res, kind):
    return [o["wall_s"] * 1000 for o in res["ops"] if o["kind"] == kind and "wall_s" in o]


def end_to_end(res, setup_s):
    """The gated metrics: set-up time, the wall time of the workload's
    operations (checks excluded) and the heap left after full GCs."""
    walls = [o["wall_s"] for o in res["ops"] if o["kind"] != "check" and "wall_s" in o]
    return {"setup_s": setup_s, "pass_s": sum(walls),
            "retained_heap_mb": res["retained_heap_mb"]}


def workload_detail(res, m, failed, attempted):
    """The workload-specific figures printed beside the gated metrics.
    Per-operation medians spread too widely between seeds on a shared
    4-core machine (quartile distance up to 0.22 of the median) to gate."""
    d = {}
    q = [o["wall_s"] for o in res["ops"] if o["kind"] == "query" and "wall_s" in o]
    if q:
        d["query_p50_s"] = (stats.median(q), "s")
    ing = [o for o in res["ops"] if o["kind"] == "ingest" and "wall_s" in o]
    if ing:
        d["ingest_rows_per_s"] = (ing[0]["rows"] / ing[0]["wall_s"], "1/s")
    if res["workload"] == "stream_mixed":
        tk = op_ms(res, "topk")
        d["topk_p50_ms"] = (stats.median(tk), "ms")
        v, p, n = stats.tail(tk)
        d["topk_tail_ms"] = (v, f"ms (p{p}, n={n})" if p else f"ms (n={n}: too few samples)")
        d["admit_p50_ms"] = (stats.median(op_ms(res, "admit")), "ms")
        d["cdc_p50_ms"] = (stats.median(op_ms(res, "cdc")), "ms")
        d["stream_ops_per_s"] = (len([o for o in res["ops"] if o["kind"] != "check"])
                                 / m["pass_s"], "1/s")
        d["topk_recall_at_10"] = (res["extra"]["recall_at_10"], "ratio")
    d["op_error_rate"] = (failed / attempted, "ratio")
    return d


# ---- traced run: per-layer metrics -------------------------------------

PER_LAYER = [
    ("sources.ingest_s", "s"), ("sources.scan_bytes", "bytes"),
    ("sources.scan_rows", "count"), ("sources.write_bytes", "bytes"),
    ("sources.files_written", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("memo.builds", "count"), ("memo.build_s", "s"),
    ("checkpoint.live_rdds", "count"), ("checkpoint.cached_mb", "MB"),
    ("checkpoint.sweep_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.executions", "count"),
    ("catalyst.exchanges", "count"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("codegen.bytecode_kb", "kB"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_busy_s", "s"),
    ("scheduler.driver_gap_s", "s"), ("scheduler.task_wait_s", "s"),
    ("scheduler.task_retries", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.core_util", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_bytes", "bytes"),
    ("streaming.topk_call_s", "s"), ("streaming.topk_exec_s", "s"),
    ("streaming.topk_jobs", "count"), ("streaming.admit_s", "s"),
    ("streaming.admit_jobs", "count"), ("streaming.admit_accept_ratio", "ratio"),
    ("streaming.rebuilds", "count"), ("streaming.cdc_s", "s"),
    ("streaming.cdc_jobs", "count"), ("streaming.store_files", "count"),
    ("streaming.stack_jobs", "count"),
    ("jvm.gc_s", "s"), ("jvm.code_cache_mb", "MB"),
]


def per_layer(res, cores):
    """Per-layer metrics of a traced run. Only work inside the timed
    phases counts: jobs started by set-up or by the output checks carry no
    phase span and are left out."""
    tr = res["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    phases = {i: s for i, s in spans.items() if s["kind"] == "phase"}
    op_kind = {i: s["name"].split(":", 1)[0] for i, s in spans.items() if s["kind"] == "op"}

    def phase_sum(kind, name=None):
        return sum(s["end"] - s["start"] for s in phases.values()
                   if op_kind.get(s["parent"]) == kind
                   and (name is None or s["name"] == name)) / 1000.0

    jobs = [j for j in tr["jobs"] if j["parent"] in phases]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in job_ids]

    def jobs_of(kind, name=None):
        return sum(1 for j in jobs if op_kind.get(phases[j["parent"]]["parent"]) == kind
                   and (name is None or phases[j["parent"]]["name"] == name))

    by_phase = {}
    for j in jobs:
        by_phase.setdefault(j["parent"], []).append((j["start"], j["end"]))
    busy = sum(stats.union_length(iv, phases[p]["start"], phases[p]["end"])
               for p, iv in by_phase.items()) / 1000.0
    phase_total = sum(s["end"] - s["start"] for s in phases.values()) / 1000.0

    execs = []
    for e in tr["executions"]:
        ph = e["phases"]
        at = (ph.get("planning") or ph.get("analysis") or [None])[0]
        if at is not None and any(s["start"] <= at <= s["end"] for s in phases.values()):
            execs.append(e)

    def cat(name):
        return sum(e["phases"][name][1] - e["phases"][name][0]
                   for e in execs if name in e["phases"]) / 1000.0

    def st(k):
        return sum(s[k] for s in stages)

    ex = res["extra"]
    run_s = st("run_ms") / 1000.0
    v = {
        "sources.ingest_s": phase_sum("ingest"),
        "sources.scan_bytes": st("scan_bytes"), "sources.scan_rows": st("scan_rows"),
        "sources.write_bytes": st("write_bytes"),
        "sources.files_written": sum(e["files_written"] for e in execs),
        "operators.build_s": phase_sum("query", "build"),
        "operators.build_jobs": jobs_of("query", "build"),
        "memo.builds": res["memo"]["builds"], "memo.build_s": res["memo"]["build_s"],
        "checkpoint.live_rdds": res["checkpoint"]["live_rdds"],
        "checkpoint.cached_mb": res["checkpoint"]["cached_mb"],
        "checkpoint.sweep_s": phase_sum("query", "sweep"),
        "catalyst.analysis_s": cat("analysis"),
        "catalyst.optimization_s": cat("optimization"),
        "catalyst.planning_s": cat("planning"), "catalyst.executions": len(execs),
        "catalyst.exchanges": sum(e["exchanges"] for e in execs),
        "codegen.compiles": res["codegen"]["compiles"],
        "codegen.compile_s": res["codegen"]["compile_s"],
        "codegen.bytecode_kb": res["codegen"]["bytecode_kb"],
        "scheduler.jobs": len(jobs), "scheduler.stages": len(stages),
        "scheduler.tasks": st("tasks"), "scheduler.job_busy_s": busy,
        "scheduler.driver_gap_s": phase_total - busy,
        "scheduler.task_wait_s": st("wait_ms") / 1000.0,
        "scheduler.task_retries": st("retries"),
        "executor.run_s": run_s, "executor.cpu_s": st("cpu_ns") / 1e9,
        "executor.gc_s": st("gc_ms") / 1000.0,
        "executor.core_util": run_s / (cores * busy) if busy else 0.0,
        "shuffle.write_bytes": st("shuffle_write_bytes"),
        "shuffle.read_bytes": st("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": st("fetch_wait_ms") / 1000.0,
        "shuffle.spill_bytes": st("spill_bytes"),
        "streaming.topk_call_s": phase_sum("topk", "build"),
        "streaming.topk_exec_s": phase_sum("topk", "execute"),
        "streaming.topk_jobs": jobs_of("topk"),
        "streaming.admit_s": phase_sum("admit"), "streaming.admit_jobs": jobs_of("admit"),
        "streaming.admit_accept_ratio": ex.get("admit_accept_ratio", 0.0),
        "streaming.rebuilds": ex.get("rebuilds", 0),
        "streaming.cdc_s": phase_sum("cdc"), "streaming.cdc_jobs": jobs_of("cdc"),
        "streaming.store_files": ex.get("store_files", 0),
        "streaming.stack_jobs": sum(1 for j in jobs if j.get("streaming_frame")),
        "jvm.gc_s": res["jvm"]["gc_s"], "jvm.code_cache_mb": res["jvm"]["code_cache_mb"],
    }
    return v, execs, jobs, stages


def bypass_violations(workload, layers, jobs):
    """The bypass invariants: only corpus_memo builds memo tables, and only
    stream_mixed touches the streaming layer. ``streaming.stack_jobs``
    counts the timed jobs whose call stack ran through graft.streaming,
    whichever operation started them, so a query that calls into the
    streaming layer breaks the invariant."""
    bad = []
    builds = layers["memo.builds"]
    if (builds > 0) != (workload == "corpus_memo"):
        bad.append(f"bypass: memo.builds = {builds} on {workload}")
    if workload == "stream_mixed":
        if not layers["streaming.stack_jobs"]:
            bad.append("bypass: no job ran through graft.streaming on stream_mixed")
    else:
        bad += [f"bypass: {k} = {v} on {workload}" for k, v in layers.items()
                if k.startswith("streaming.") and v != 0]
        bad += sorted({f"bypass: {j['streaming_frame']} ran on {workload}"
                       for j in jobs if j.get("streaming_frame")})
    return bad


def span_table(res, execs, jobs, stages):
    """Rows (layer, count, total s, self s) over the run's span tree:
    operation → phase → {catalyst phase, job → stage}."""
    tr = res["trace"]
    spans = {}
    layer = {}
    for s in tr["spans"]:
        sid = ("s", s["id"])
        spans[sid] = dict(parent=("s", s["parent"]) if s["parent"] else None,
                          start=s["start"], end=s["end"])
        layer[sid] = ("op:" + s["name"].split(":", 1)[0]) if s["kind"] == "op" \
            else "phase:" + s["name"]
    phase_ids = [k for k, s in spans.items() if layer[k].startswith("phase:")]
    for j in jobs:
        spans[("j", j["id"])] = dict(parent=("s", j["parent"]), start=j["start"], end=j["end"])
        layer[("j", j["id"])] = "scheduler:job"
    for s in stages:
        sid = ("t", s["id"], s["attempt"])
        spans[sid] = dict(parent=("j", s["job"]), start=s["start"], end=s["end"])
        layer[sid] = "executor:stage"
    for n, e in enumerate(execs):
        for name, (a, b) in e["phases"].items():
            home = next((p for p in phase_ids
                         if spans[p]["start"] <= a <= spans[p]["end"]), None)
            if home is not None:
                spans[("c", n, name)] = dict(parent=home, start=a, end=b)
                layer[("c", n, name)] = "catalyst:" + name
    selfs = stats.self_times(spans)
    rows = {}
    for sid, s in spans.items():
        r = rows.setdefault(layer[sid], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += (s["end"] - s["start"]) / 1000.0
        r[2] += selfs[sid] / 1000.0
    return sorted(((k,) + tuple(v) for k, v in rows.items()), key=lambda r: -r[3])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        cp = build.ensure()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    started = time.time()
    cores = os.cpu_count() or 1
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        t0 = time.perf_counter()
        gen.generate(args.seed, data)
        gen_s = time.perf_counter() - t0
        budget = DEADLINE_S - (time.time() - started)
        try:
            t_launch, res = run_jvm(args, cp, run_dir, data, cores, budget)
            print(f"perfbench: inputs {gen_s:.1f} s, harness JVM "
                  f"{time.time() - t_launch:.1f} s", file=sys.stderr)
        except RuntimeError as e:
            sys.exit(f"perfbench: {e}")
        setup_s = (res["session_ready_ms"] / 1000.0 - t_launch) + res.get("seed_s", 0.0)
        failures = list(res["failures"])
        oracle = res["extra"].get("oracle", {})
        if oracle:
            t0 = time.perf_counter()
            want = digest.oracle_digests(data, oracle)
            for o in res["ops"]:
                if o["kind"] == "query" and o["ok"] and o["name"] in want:
                    got = digest.parquet_digest(os.path.join(run_dir, "results", o["name"]))
                    if got != want[o["name"]]:
                        o["ok"] = False
                        failures.append(f"{o['name']}: spark digest {got} "
                                        f"!= duckdb oracle {want[o['name']]}")
            print(f"perfbench: oracle check {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        layers, execs, jobs, stages = per_layer(res, cores)
        invariants = bypass_violations(args.workload, layers, jobs)
        failures += invariants
    # the operations and, when traced, the bypass invariants
    attempted = len(res["ops"]) + (1 if args.trace else 0)
    failed = len([o for o in res["ops"] if not o["ok"]]) \
        + (1 if args.trace and invariants else 0)
    m = end_to_end(res, setup_s)
    detail = workload_detail(res, m, failed, attempted)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} N={cores} "
          f"spark={res['spark_version']} load1={res['load_avg'][0]:.2f}->"
          f"{res['load_avg'][1]:.2f}")
    for k, v in m.items():
        print(f"{k:24s} {v:12.4f} {E2E_UNITS[k]}")
    for k, (v, unit) in detail.items():
        print(f"{k:24s} {'n/a' if v is None else format(v, '12.4f'):>12s} {unit}")
    for f in failures:
        print(f"CHECK FAILED: {f}")

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    record = dict(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  cores=cores, spark_version=res["spark_version"],
                  load_avg=res["load_avg"], metrics=m,
                  detail={k: v[0] for k, v in detail.items()},
                  ops=[{k: o.get(k) for k in ("kind", "name", "wall_s", "ok", "memo_built")}
                       for o in res["ops"]], failures=failures)
    if args.trace:
        print(f"{'layer':24s} {'spans':>7s} {'total_s':>10s} {'self_s':>10s}")
        for name, n, total, own in span_table(res, execs, jobs, stages):
            print(f"{name:24s} {n:7d} {total:10.3f} {own:10.3f}")
        for k, unit in PER_LAYER:
            print(f"{k:32s} {layers[k]:14.4f} {unit}")
        if not res["codegen"]["exact"]:
            print("codegen.compile_s and codegen.bytecode_kb are estimates: more "
                  "compiles than Spark's metric reservoir holds (mean x count)")
        # the untraced run of the same seed, else the latest untraced run
        same = os.path.join(OUT, "results", f"{args.workload}-s{args.seed}-t0.json")
        untraced = [same] if os.path.exists(same) else sorted(
            glob.glob(os.path.join(OUT, "results", f"{args.workload}-s*-t0.json")),
            key=os.path.getmtime)[-1:]
        if untraced:
            u = json.load(open(untraced[0]))
            b = u["metrics"]["pass_s"]
            print(f"tracing overhead: traced pass_s {m['pass_s']:.3f} s vs untraced "
                  f"{b:.3f} s (seed {u['seed']}): {(m['pass_s'] / b - 1) * 100:+.1f}%")
        else:
            print("tracing overhead: no untraced run of this workload recorded yet")
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(OUT, "traces", f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(res["trace"], f)
        record["per_layer"] = layers
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}
    with open(os.path.join(OUT, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
