"""Turns the runner's records into the benchmark's metrics.

End-to-end metrics come from the untraced ("plain") passes; per-layer
metrics come from the traced passes, each summed per pass and reported as
the median over passes. The traced passes are also nested into a span tree
run -> pass -> op -> {build, plan, exec} -> Spark job -> stage, with each
span's self time.
"""
import stats

PHASES = ("analysis", "optimization", "planning")
MEDALLION_LAYERS = {"bronze": "sources.bronze_s", "silver": "pipelines.silver_s",
                    "gold": "pipelines.gold_s"}


def _by(recs, kind, **match):
    return [r for r in recs if r["rec"] == kind
            and all(r.get(k) == v for k, v in match.items())]


def _mark(recs, name):
    return next(r for r in recs if r["rec"] == "mark" and r["name"] == name)


def setup_parts(recs):
    """Set-up time split in its parts, in seconds: session start (JVM start
    to a ready session), input generation by the program (medallion's
    `Gen.all`; 0 for the query workloads, whose fixture tables the
    benchmark writes before the JVM starts) and the warm-up pass that also
    digests every result."""
    session_s = (_mark(recs, "session_ready")["t"] - _mark(recs, "jvm_start")["t"]) / 1e3
    gen_s = sum((r["t1"] - r["t0"]) / 1e3 for r in _by(recs, "gen"))
    warm = _mark(recs, "warmup")
    return {"session_s": session_s, "gen_s": gen_s,
            "warmup_s": (warm["t1"] - warm["t0"]) / 1e3}


def end_to_end(recs, source_rows):
    passes = _by(recs, "pass", mode="plain")
    pass_s = stats.median([(p["t1"] - p["t0"]) / 1e3 for p in passes])
    ops = {}
    for o in _by(recs, "op", mode="plain"):
        ops.setdefault(o["op"], []).append(o["t2"] - o["t0"])
    op_medians = [stats.median(xs) for xs in ops.values()]
    # too few samples for a percentile: the slowest op's median latency
    tail, pct, n = stats.tail([x for xs in ops.values() for x in xs], max(op_medians))
    parts = setup_parts(recs)
    metrics = {
        "setup_s": (sum(parts.values()), "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_ms": (stats.median(op_medians), "ms"),
        "op_tail_ms": (tail, "ms"),
        "rows_per_s": (source_rows / pass_s, "1/s"),
        "retained_heap_mb": (_by(recs, "heap")[0]["mb"], "MB"),
    }
    details = {"passes": len(passes), "setup": parts,
               "op_tail": {"percentile": pct, "samples": n},
               "pass_s": [(p["t1"] - p["t0"]) / 1e3 for p in passes],
               "pass_jit_ms": [p["jit_ms"] for p in passes],
               "pass_codegen_compiles": [p["codegen_compiles"] for p in passes],
               "op_ms": ops}
    return metrics, details


def _attribute(spans, items):
    """Map each (start, end) item to the first span that contains it."""
    out = {i: [] for i in range(len(spans))}
    for item in items:
        for i, s in enumerate(spans):
            if stats.contains((s[0], s[1]), (item["t0"], item["t1"])):
                out[i].append(item)
                break
    return out


def _node(name, kind, t0, t1, children=()):
    children = list(children)
    return {"name": name, "kind": kind, "t0": t0, "t1": t1,
            "ms": t1 - t0,
            "self_ms": stats.self_time(t0, t1, [(c["t0"], c["t1"]) for c in children]),
            "children": children}


def traced(recs, cpus, raw_bytes):
    """Per-layer metrics (median over traced passes) and the span tree."""
    stages = {}
    for s in _by(recs, "stage"):
        stages.setdefault(s["id"], []).append(s)
    jobs = _by(recs, "job")
    phases = _by(recs, "phase")
    batches = _by(recs, "batch")
    per_pass, pass_nodes = [], []
    for p in _by(recs, "pass", mode="traced"):
        ops = _by(recs, "op", mode="traced", **{"pass": p["pass"]})
        op_jobs = _attribute([(o["t0"], o["t2"]) for o in ops], jobs)
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        op_nodes = []
        for k, o in enumerate(ops):
            js = op_jobs[k]
            run_phases = [ph for ph in phases
                          if stats.contains((o["t1"], o["t2"]), (ph["t0"], ph["t1"]))]
            first_job = min([j["t0"] for j in js if j["t0"] >= o["t1"] - 1.0] or [o["t2"]])
            plan_end = max([ph["t1"] for ph in run_phases if ph["t0"] <= first_job]
                           or [o["t1"]])
            plan_end = min(max(plan_end, o["t1"]), o["t2"])
            parts = [("build", o["t0"], o["t1"]), ("plan", o["t1"], plan_end),
                     ("exec", plan_end, o["t2"])]
            part_jobs = _attribute([(a, b) for _, a, b in parts], js)
            part_nodes = []
            for i, (name, a, b) in enumerate(parts):
                job_nodes = []
                for j in part_jobs[i]:
                    st = [s for sid in j["stages"] for s in stages.get(sid, [])]
                    job_nodes.append(_node(f"job {j['id']}", "job", j["t0"], j["t1"], [
                        _node(f"stage {s['id']}.{s['attempt']}", "stage", s["t0"], s["t1"])
                        for s in st if s["t1"] >= s["t0"] > 0]))
                    for s in st:
                        _add_stage(m, s)
                    m["sched.jobs"] += 1
                    m["sched.stages"] += len(st)
                    if name == "build":
                        m["queries.build_jobs"] += 1
                part_nodes.append(_node(name, name, a, b, job_nodes))
            op_nodes.append(_node(o["op"], "op", o["t0"], o["t2"], part_nodes))
            op_nodes.append(_node(f"release {o['op']}", "release", o["t2"], o["t3"]))
            m["queries.build_ms"] += o["t1"] - o["t0"]
            m["queries.plan_ms"] += plan_end - o["t1"]
            m["queries.exec_ms"] += o["t2"] - plan_end
            m["driver.idle_ms"] += stats.self_time(
                o["t0"], o["t2"], [(j["t0"], j["t1"]) for j in js])
            for ph in phases:
                if ph["name"] in PHASES and stats.contains((o["t0"], o["t2"]), (ph["t0"], ph["t1"])):
                    m[f"driver.{ph['name']}_ms"] += ph["t1"] - ph["t0"]
            m["plans.persisted_rdds"] += o["persisted"]
            m["plans.release_ms"] += o["t3"] - o["t2"]
            if o["op"] in MEDALLION_LAYERS:
                m[MEDALLION_LAYERS[o["op"]]] += (o["t2"] - o["t0"]) / 1e3
        wall = p["t1"] - p["t0"]
        m["exec.core_util"] = m["exec.run_ms"] / (wall * cpus) if wall > 0 else 0.0
        for b in batches:
            if p["t0"] <= b["t"] <= p["t1"]:
                m["streaming.batches"] += 1
                m["streaming.batch_ms"] += b["ms"]
        m["driver.codegen_compiles"] = p["codegen_compiles"]
        m["driver.codegen_ms"] = p["codegen_ms"]
        m["jvm.jit_ms"] = p["jit_ms"]
        m["jvm.gc_ms"] = p["gc_ms"]
        m["stored_bytes_per_raw_byte"] = p["stored_bytes"] / raw_bytes if raw_bytes else 0.0
        per_pass.append(m)
        pass_nodes.append(_node(f"pass {p['pass']}", "pass", p["t0"], p["t1"], op_nodes))
    metrics = {k: stats.median([m[k] for m in per_pass]) for k in LAYER_METRICS}
    tree = _node("run", "run", pass_nodes[0]["t0"], pass_nodes[-1]["t1"], pass_nodes) \
        if pass_nodes else None
    return metrics, tree


def _add_stage(m, s):
    m["sched.tasks"] += s["tasks"]
    m["sched.delay_ms"] += s["delay_ms"]
    m["exec.run_ms"] += s["run_ms"]
    m["exec.cpu_ms"] += s["cpu_ms"]
    m["exec.gc_ms"] += s["gc_ms"]
    m["exec.spill_bytes"] += s["spill_bytes"]
    m["shuffle.write_bytes"] += s["shuffle_write_bytes"]
    m["shuffle.read_bytes"] += s["shuffle_read_bytes"]
    m["shuffle.fetch_wait_ms"] += s["fetch_wait_ms"]
    m["io.input_bytes"] += s["input_bytes"]
    m["io.output_bytes"] += s["output_bytes"]


# per-pass layer metrics and their units; BENCHMARK.json lists the same
LAYER_METRICS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "queries.plan_ms": "ms", "queries.exec_ms": "ms",
    "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms", "driver.codegen_compiles": "count",
    "driver.codegen_ms": "ms", "driver.idle_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.spill_bytes": "bytes", "exec.core_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "sources.bronze_s": "s", "pipelines.silver_s": "s", "pipelines.gold_s": "s",
    "io.input_bytes": "bytes", "io.output_bytes": "bytes",
    "stored_bytes_per_raw_byte": "ratio",
    "plans.persisted_rdds": "count", "plans.release_ms": "ms",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms",
}

# run-level per-layer metrics, computed once per traced run
RUN_METRICS = {"sources.gen_s": "s", "sched.job_latency_ms": "ms",
               "tracing_overhead": "s"}


def per_layer(recs, cpus, raw_bytes):
    metrics, tree = traced(recs, cpus, raw_bytes)
    plain = stats.median([(p["t1"] - p["t0"]) / 1e3 for p in _by(recs, "pass", mode="plain")])
    trac = stats.median([(p["t1"] - p["t0"]) / 1e3 for p in _by(recs, "pass", mode="traced")])
    metrics["sources.gen_s"] = setup_parts(recs)["gen_s"]
    metrics["sched.job_latency_ms"] = job_latency(recs)
    metrics["tracing_overhead"] = trac - plain
    units = {**LAYER_METRICS, **RUN_METRICS}
    return {k: (v, units[k]) for k, v in metrics.items()}, tree


def probes(recs):
    """The per-job latency probe: median of its single-task jobs, at the
    start and at the end of the timed passes."""
    return {r["when"]: stats.median(r["ms"]) for r in _by(recs, "probe")}


def job_latency(recs):
    return stats.median(list(probes(recs).values()))
