#!/usr/bin/env python3
"""The repository's benchmark: one command runs one named workload.

    python3 perfbench/run.py --workload operators --seed 3 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the runner
from source (perfbench/build.sbt, skipped while the sources are unchanged),
makes the workload's inputs from the seed, runs one JVM with one
closed-loop client, checks every result against the digests recorded in
perfbench/digests.json, and prints one JSON object as the last line of
standard output: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Details (set-up split, probes, tail percentile,
span tree) go to perfbench/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import stats  # noqa: E402

PARITY = """p1_project p5_surrogate_key p6_derived_ratio f1_notnull f3_notnull_multi
f5_drop_nonpositive e1_titlecase e2_upper_trim e3_email_valid e4_phone_norm
e6_range_valid e7_plate_norm e8_domain_whitelist e9_domain_status
e10_domain_titlecased e11_round_positive e12_date_asof e13_date_coerce
e14_titlecase_py j1_left_join j2_fk_join dim_customer dim_part a1_agg_count_sum
a2_countif a2_countif_udaf a3_agg_sum_count_max a5_distinct_full
a6_distinct_subset a8_row_counts g1_det_sample q_fact_summary sql_fact_summary
fact_payments_shape""".split()

# four extension queries, chosen so that a pass is short enough for two
# timed passes in a run of about a minute (see README.md)
OPERATORS = "x_recursive_cte x_stream_dedup x_corpus_clean x_scd2".split()

# ops: what one pass runs; permute: whether the seed shuffles each pass;
# sf: fixture scale of the generated tables (query workloads);
# scale: Gen.all scale of the raw CSVs (medallion)
WORKLOADS = {
    "parity": {"ops": PARITY, "permute": True, "sf": 0.02},
    "operators": {"ops": OPERATORS, "permute": True, "sf": 0.01},
    "medallion": {"ops": ["bronze", "silver", "gold"], "permute": False, "scale": 5},
}
DATA_VARIANTS = 4      # inputs are one of this many variants, picked by the seed
MIN_PASSES = 2         # run even when the window has elapsed: every op gets
                       # more than one latency sample
MAX_PASSES = 64
RUN_LIMIT_S = 170      # the whole run, build excepted
BUILD_LIMIT_S = 840
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    """Hash of every input of the build, so an unchanged checkout skips it."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the runner; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala; run from a checkout root")
    out_dir = os.path.join(HERE, "target")
    stamp_file = os.path.join(out_dir, "bench-stamp")
    cp_file = os.path.join(out_dir, "bench-classpath")
    stamp = sources_digest()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    res = run_child(cmd, HERE, BUILD_LIMIT_S, env=env, capture=True)
    if res is None or res[0] != 0:
        tail = res[1][-3000:] if res else "timed out"
        fail(f"build failed:\n{tail}")
    lines = [ln for ln in res[1].splitlines() if "perfbench" in ln and os.pathsep in ln]
    if not lines:
        fail("build printed no classpath")
    os.makedirs(out_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_child(cmd, cwd, limit_s, env=None, capture=False, log=None):
    """Run a child in its own process group; kill the whole group if it
    outlives ``limit_s``. Returns (exit code, output) or None on timeout."""
    out = subprocess.PIPE if capture else (log or subprocess.DEVNULL)
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        text, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, text or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def make_inputs(spec, variant, work):
    """Generate the query workloads' fixture tables; returns (dir, rows,
    seconds). This is the benchmark's own code, not the program's, so its
    time is a detail of the run and not part of set-up."""
    import datagen  # numpy and pyarrow load only for the query workloads
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    rows = datagen.write(data, spec["sf"], variant)
    return data, rows, time.perf_counter() - t0


def write_plan(path, workload, spec, seed, variant, work, data, seconds, trace, cpus):
    lines = [f"workload {workload}", f"work {work}", f"data {data}",
             f"cpus {cpus}", f"seconds {seconds}", f"trace {trace}",
             f"data_seed {variant}", f"scale {spec.get('scale', 0)}",
             f"min_passes {MIN_PASSES}"]
    for i in range(MAX_PASSES + 1):
        order = stats.pass_order(spec["ops"], seed, i) if spec["permute"] else spec["ops"]
        lines.append("order " + ",".join(order))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def check(recs, expected):
    """Compare digests with the recorded ones; count attempted and failed
    operations (a timed op that threw, a digest that threw, differs or has
    no recorded value)."""
    digests = [r for r in recs if r["rec"] == "digest"]
    ops = [r for r in recs if r["rec"] == "op"]
    bad = []
    for d in digests:
        want = expected.get(d["op"])
        if "error" in d or want is None or [d["rows"], d["sum"]] != want:
            bad.append(d)
    missing = set(expected) - {d["op"] for d in digests}
    failed = len(bad) + len(missing) + sum(1 for o in ops if o["error"])
    return len(digests) + len(ops), failed, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's digests as the expected ones")
    args = ap.parse_args()
    started = time.monotonic()

    classpath = build()
    spec = WORKLOADS[args.workload]
    variant = args.seed % DATA_VARIANTS
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        run_start = time.monotonic()
        rows, data, fixture_s = 0, "none", None
        if "sf" in spec:
            data, rows, fixture_s = make_inputs(spec, variant, work)
        plan = os.path.join(work, "plan.txt")
        recs_path = os.path.join(work, "records.jsonl")
        write_plan(plan, args.workload, spec, args.seed, variant, work, data,
                   args.seconds, args.trace, cpus)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, *JAVA_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", classpath, "perfbench.Runner", plan, recs_path]
        limit = RUN_LIMIT_S - (time.monotonic() - run_start)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            res = run_child(cmd, work, limit, log=log)
        if res is None or res[0] != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"runner {'timed out' if res is None else 'failed'}:\n{tail}")
        with open(recs_path) as f:
            recs = [json.loads(line) for line in f]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    digests_path = os.path.join(HERE, "digests.json")
    with open(digests_path) as f:
        recorded = json.load(f)
    key = str(variant)
    if args.record_digests:
        got = {d["op"]: [d["rows"], d["sum"]] for d in recs if d["rec"] == "digest"}
        if any("error" in d for d in recs if d["rec"] == "digest") or not got:
            fail("a digest failed; nothing recorded")
        recorded.setdefault(args.workload, {})[key] = dict(sorted(got.items()))
        with open(digests_path, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
    attempted, failed, bad = check(recs, recorded.get(args.workload, {}).get(key, {}))

    gen = next((r for r in recs if r["rec"] == "gen"), None)
    raw_bytes = gen["bytes"] if gen else 0
    if gen:
        rows = gen["rows"]
    details = {"workload": args.workload, "seed": args.seed, "data_variant": variant,
               "cpus": cpus, "source_rows": rows, "probes_ms": analyze.probes(recs),
               "fixture_gen_s": fixture_s, "mismatches": bad,
               "wall_s": time.monotonic() - started}
    if args.trace:
        metrics, tree = analyze.per_layer(recs, cpus, raw_bytes)
        details["span_tree"] = tree
    else:
        metrics, more = analyze.end_to_end(recs, rows)
        details.update(more)
    details["metrics"] = {k: v for k, (v, _) in metrics.items()}
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(details, f, indent=1)
    print(f"# {args.workload} seed={args.seed} variant={variant} passes="
          f"{details.get('passes', '-')} job_latency_ms={details['probes_ms']} "
          f"details=perfbench/results/{name}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
