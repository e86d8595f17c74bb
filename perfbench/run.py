#!/usr/bin/env python3
"""graft's benchmark: one command for every workload, metric and check.

    python3 perfbench/run.py --workload board_small --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1

See perfbench/README.md for the workloads, the metrics and the regime.
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the exit code is non-zero when an
output check fails or the program could not run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import check  # noqa: E402
import spans as spanlib  # noqa: E402

WORKLOADS = ["capture_live", "board_small", "dedup_corpus"]

# capture_live's fixed open-loop rate (statements/s): about half the
# saturated_qps the seed code reached on a 4-core host. Fixed here so the
# parent and a change see the same load; never recomputed.
LIVE_RATE = 7.0

# board_small: a fixed slice of the board, module by module, sized to run
# in about run_seconds (README.md, "Why slices"). The three batch capture
# rows carry the capture pipeline and both sinks.
BOARD = [
    ("a11_retry_chains", "assessments"), ("a2_salted_rollup", "assessments"),
    ("a_recurring_jobs", "migration"), ("a_template_mining", "migration"),
    ("a_dq_audit", "audit"), ("q5_nation_revenue", "star"),
    ("q_cube_custnation", "star"), ("cap_stream_dedup", "streaming"),
    ("cap_pipeline", "capture"), ("cap_log_compact", "sink"),
    ("cap_avro_roundtrip", "sink"),
]
# dedup_corpus: ext.Dedup queries whose cost grows with the corpus (pair
# expansion, banding, recall against exact Jaccard) and whose DuckDB twins
# stay cheap enough to check in every run
DEDUP = ["x_multiband_recall", "x_repeated_spans", "x_edit_pairs"]
DEDUP_DOCS = 5000
DEDUP_DUP_SHARE = 0.2


def declared(key):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def pct(values, q):
    """Nearest-rank percentile; None for an empty sample."""
    v = sorted(values)
    if not v:
        return None
    k = max(0, min(len(v) - 1, int(round(q / 100.0 * len(v) + 0.5)) - 1))
    return v[k]


def jvm_options(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Djava.io.tmpdir={work}/tmp",
    ]


def inputs(workload, seed, seconds, base):
    """Generate the workload's inputs; return (params, manifest)."""
    d = os.path.join(base, "inputs")
    if workload in ("board_small", "dedup_corpus"):
        # the seed makes the data; the query order is fixed, because the
        # order decides which query pays the JVM's first-use costs
        if workload == "board_small":
            man, order = gen.tables(seed, d), [name for name, _ in BOARD]
        else:
            man, order = gen.corpus(seed, d, DEDUP_DOCS, DEDUP_DUP_SHARE), DEDUP
        q = os.path.join(base, "queries.txt")
        with open(q, "w") as f:
            f.write("\n".join(order) + "\n")
        man["order"] = order
        return {"tables": d, "queries_file": q}, man
    if workload == "capture_live":
        tables = os.path.join(d, "tables")
        man = {"tables": gen.tables(seed, tables)}
        # the warm-up (a closed-loop burst, then the steady rate) outlasts
        # the drainer's first 5 s tick, so the cold first sink write never
        # lands in the timed phase; the saturation phase is a short burst
        burst_s, warm_s = 0.2 * seconds, 0.3 * seconds
        steady_s, sat_s = 0.5 * seconds, 0.15 * seconds
        man["statements"] = gen.statements(seed, d, LIVE_RATE, warm_s, steady_s)
        man["statements"]["burst_seconds"] = burst_s
        return {"tables": tables, "warm_file": os.path.join(d, "warm.tsv"),
                "steady_file": os.path.join(d, "steady.tsv"),
                "sat_file": os.path.join(d, "sat.tsv"), "sat_seconds": sat_s,
                "burst_seconds": burst_s,
                "senders": os.cpu_count() or 1, "overhead_stmts": int(3 * LIVE_RATE)}, man
    raise SystemExit(f"unknown workload {workload}")


def launch(cp, work, params, timeout):
    for sub in ("warehouse", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    with open(os.path.join(work, "params.txt"), "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
    cmd = ["java"] + jvm_options(work) + ["-cp", cp, "graftbench.Main",
                                          os.path.join(work, "params.txt")]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {timeout} s")
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    res = json.load(open(os.path.join(work, "result.json")))
    calls = [json.loads(l) for l in open(os.path.join(work, "calls.jsonl")) if l.strip()]
    sp = [json.loads(l) for l in open(os.path.join(work, "spans.jsonl")) if l.strip()]
    return res, calls, sp


def one_pass(cp, workload, seed, seconds, traced, base):
    """Generate inputs, run the harness once, check its outputs."""
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    params, manifest = inputs(workload, seed, seconds, base)
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    params.update({"workload": workload, "work": base, "cpus": os.cpu_count() or 1,
                   "trace": int(traced), "setup_reps": 3})
    res, calls, sp = launch(cp, base, params, timeout=80)
    if workload in ("board_small", "dedup_corpus"):
        bad = check.board(base, params["tables"])
    else:
        bad = check.live(base, res, calls)
    return res, calls, sp, bad


def timed_calls(workload, calls):
    if workload == "capture_live":
        return [c for c in calls if c.get("phase") == "steady"]
    return calls


def end_to_end(workload, res, calls):
    tc = timed_calls(workload, calls)
    lat = [(c["t1"] - c["t0"]) / 1e6 for c in tc]
    if workload == "capture_live":
        wall = res["pass_ns"] / 1e9
    else:
        wall = (max(c["t1"] for c in tc) - min(c["t0"] for c in tc)) / 1e9
    return {"setup_s": statistics.median(res["setup_times_s"]), "wall_s": wall,
            "query_p50_ms": statistics.median(lat),
            "heap_retained_mb": res["heap_retained_mb"]}


def run(cp, workload, seed, seconds, trace):
    work_root = os.path.join(ROOT, ".bench_work")
    base = os.path.join(work_root, f"{workload}-{seed}-{os.getpid()}")
    try:
        res, calls, _, bad = one_pass(cp, workload, seed, seconds, False, base)
        e2e = end_to_end(workload, res, calls)
        tc = timed_calls(workload, calls)
        failed_ids = {c["id"] for c in tc if not c["ok"]} | set(bad.get("failed_calls", []))
        problems = bad.get("problems", [])
        if trace:
            res_t, calls_t, sp_t, bad_t = one_pass(cp, workload, seed, seconds, True, base)
            e2e_t = end_to_end(workload, res_t, calls_t)
            metrics = per_layer(workload, res_t, calls_t, sp_t, bad_t)
            metrics["trace.overhead_ratio"] = (e2e_t["wall_s"] / e2e["wall_s"] - 1, "ratio")
            problems += bad_t.get("problems", [])
            failed_ids |= ({c["id"] for c in timed_calls(workload, calls_t) if not c["ok"]} |
                           set(bad_t.get("failed_calls", [])))
        else:
            units = declared("end_to_end")
            metrics = {k: (v, units[k]) for k, v in e2e.items()}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    want = declared("per_layer" if trace else "end_to_end")
    got = {k: u for k, (_, u) in metrics.items()}
    if got != want:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(got.items()) ^ set(want.items()))}")
    for p in problems:
        print(f"[check] {workload}: {p}", file=sys.stderr)
    for c in tc:
        if not c["ok"]:
            print(f"[call] {workload}: {c['name']} failed: {c['error']}", file=sys.stderr)
    return {"correct": not problems and not failed_ids, "attempted": len(tc),
            "failed": len(failed_ids),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def per_layer(workload, res, calls, sp, bad):
    """Every per-layer metric; 0 where the workload does not exercise the
    layer."""
    m = {}

    def put(name, value, unit):
        m[name] = (float(value) if value is not None else 0.0, unit)

    g = lambda k: res.get(k, 0) or 0  # noqa: E731
    tc = timed_calls(workload, calls)
    by_name = {c["name"]: (c["t1"] - c["t0"]) / 1e6 for c in tc}
    # live capture hook
    live = workload == "capture_live"
    put("capture.seen", g("capture.seen"), "count")
    put("capture.dropped", g("capture.dropped") + g("capture.dropped_sat"), "count")
    put("capture.build_failed", g("capture.build_failed"), "count")
    put("capture.bus_lost", 2 * g("issued") - g("capture.seen") if live else 0, "count")
    put("capture.pending_max", g("capture.pending_max"), "count")
    put("capture.drain_batches", g("capture.drain_batches"), "count")
    put("capture.batch_events_p50", bad.get("batch_events_p50"), "count")
    put("capture.write_failed", g("capture.write_failed"), "count")
    put("capture.gen_late_p99_ms", pct(res.get("gen_late_ms", []), 99), "ms")
    if live:
        off = [(c["t1"] - c["t0"]) / 1e6 for c in calls if c.get("phase") == "off"]
        on = [(c["t1"] - c["t0"]) / 1e6 for c in tc]
        put("capture.overhead_p50_ms",
            statistics.median(on) - statistics.median(off) if off else None, "ms")
    else:
        put("capture.overhead_p50_ms", 0, "ms")
    put("query_p99_ms", pct([(c["t1"] - c["t0"]) / 1e6 for c in tc], 99) if live else 0, "ms")
    put("durable_p50_ms", bad.get("durable_p50_ms"), "ms")
    put("durable_p99_ms", bad.get("durable_p99_ms"), "ms")
    put("loss_ratio", bad.get("loss_ratio"), "ratio")
    put("saturated_qps", g("sat_done") / g("sat_elapsed_s") if live else 0, "1/s")
    failed = {c["id"] for c in tc if not c["ok"]} | set(bad.get("failed_calls", []))
    put("failed_ratio", len(failed) / max(1, len(tc)), "ratio")
    # batch capture and bulk sink, through the board's capture rows
    put("capture.pipeline_ms", by_name.get("cap_pipeline"), "ms")
    writes = [b[1] - b[0] for b in res.get("batches", [])]
    put("sink.write_p50_ms", pct(writes, 50), "ms")
    put("sink.write_p99_ms", pct(writes, 99), "ms")
    put("sink.retries", g("sink.retries"), "count")
    put("sink.files", bad.get("files"), "count")
    put("sink.bytes_per_event", bad.get("bytes_per_event"), "B")
    put("sink.compact_ms", by_name.get("cap_log_compact"), "ms")
    put("sink.avro_roundtrip_ms", by_name.get("cap_avro_roundtrip"), "ms")
    # assess: time per module on the board
    module = dict(BOARD) if workload == "board_small" else {}
    for mod in ("assessments", "migration", "audit", "star"):
        put(f"assess.{mod}_s", sum(v for k, v in by_name.items() if module.get(k) == mod) / 1e3,
            "s")
    # streaming
    for k in ("batches", "trigger_ms", "planning_ms", "commit_ms", "state_rows",
              "state_commit_ms", "state_stores"):
        put(f"streaming.{k}", g(f"streaming.{k}"),
            "ms" if k.endswith("_ms") else "count")
    # ext
    ext_rows = sum(c["rows"] for c in tc if c["layer"] == "ext")
    put("ext.generate_rows", g("ext.generate_rows"), "count")
    put("ext.result_rows", ext_rows, "count")
    put("ext.useful_ratio", ext_rows / g("ext.generate_rows") if g("ext.generate_rows") else 0,
        "ratio")
    # one board call, split
    boardish = workload in ("board_small", "dedup_corpus")
    put("op.build_ms", statistics.median([c["build_ns"] / 1e6 for c in tc]) if boardish else 0,
        "ms")
    put("op.run_ms", statistics.median([(c["t1"] - c["t0"] - c["build_ns"]) / 1e6 for c in tc])
        if boardish else 0, "ms")
    # spark
    t = spanlib.analyse(sp)
    for k in ("jobs", "stages", "tasks"):
        put(f"spark.{k}", g(f"spark.{k}"), "count")
    put("spark.jobs_per_call_p50", pct(t["jobs_per_call"], 50), "count")
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "executor_run_ms",
              "task_overhead_ms"):
        put(f"spark.{k}", g(f"spark.{k}"), "ms")
    put("spark.driver_only_ms", t["driver_only_ms"], "ms")
    put("spark.executor_cpu_ms", g("spark.executor_cpu_ns") / 1e6, "ms")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        put(f"spark.{k}", g(f"spark.{k}"), "B")
    put("spark.cached_bytes_peak", max([c["cached_bytes"] for c in calls] or [0]), "B")
    put("spark.residue_rdds", g("spark.residue_rdds"), "count")
    put("spark.residue_bytes", g("spark.residue_bytes"), "B")
    # jvm
    put("jvm.jit_ms", g("jvm.jit_ms"), "ms")
    put("jvm.gc_ms", g("jvm.gc_ms"), "ms")
    put("jvm.gc_count", g("jvm.gc_count"), "count")
    # trace: self time per layer over the traced pass; they add up to wall
    for layer in spanlib.LAYERS:
        put(f"self.{layer}_ms", t["self_ms"].get(layer, 0.0), "ms")
    put("trace.wall_s", t["wall_ms"] / 1e3, "s")
    put("trace.spans", t["spans"], "count")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    import build
    try:
        cp = build.build()
    except SystemExit as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        try:
            r = run(cp, w, a.seed, a.seconds, a.trace)
        except Exception as e:  # the program could not run: no result
            print(f"graftbench: {w}: {e}", file=sys.stderr)
            return 3
        for k, v in r["metrics"].items():
            print(f"{w:13s} {k:28s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
        if len(names) == 1:
            out = r
        else:
            out["correct"] &= r["correct"]
            out["attempted"] += r["attempted"]
            out["failed"] += r["failed"]
            out["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
