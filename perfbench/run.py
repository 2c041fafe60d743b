#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library and the runner with sbt
(once per source state), generates the seeded inputs, computes the DuckDB
reference (once per input), runs the Spark runner in one JVM with
local[<cores>], checks every iteration's output against the reference, and
prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything the run leaves behind goes under .perfbench/ in
the checkout. The exit code is 0 only when every output was correct.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402

ROOT = os.path.dirname(HERE)
RUNNER = os.path.join(HERE, "runner")
PAYLOAD = os.path.join(HERE, "payload", "jec.json")
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170

# input kind and size (events or documents) per workload
WORKLOADS = {
    "hep_cold": ("events", 10000),
    "hep_rehist": ("events", 10000),
    "curation": ("corpus", 3000),
}

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
    ("bytes_written_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
]

LAYERS = ["pipeline", "calibration", "ops", "stats", "core", "hist", "functions", "operators"]
PER_LAYER = [
    ("pipeline.build_s", "s"), ("pipeline.bytes_written", "bytes"),
    ("pipeline.skip_s", "s"), ("pipeline.hit_frac", "ratio"), ("pipeline.bytes_read", "bytes"),
    ("calibration.s", "s"),
    ("ops.select_s", "s"), ("ops.reduce_s", "s"), ("ops.produce_s", "s"),
    ("ops.selected_frac", "ratio"),
    ("stats.s", "s"),
    ("core.merge_s", "s"),
    ("hist.fill_s", "s"), ("hist.merge_s", "s"), ("hist.fills", "count"), ("hist.bins", "count"),
    ("functions.minhash_ns_per_row", "ns/row"), ("functions.token_count_ns_per_row", "ns/row"),
    ("functions.quality_ns_per_row", "ns/row"),
    ("operators.exact_dedup_s", "s"), ("operators.minhash_lsh_s", "s"),
    ("operators.components_s", "s"), ("operators.contamination_s", "s"),
    ("operators.lsh_candidate_pairs", "count"), ("operators.lsh_precision", "ratio"),
    ("operators.kept_frac", "ratio"),
] + [(f"{layer}.{m}", u) for layer in LAYERS for m, u in (
    ("task_s", "s"), ("core_util", "ratio"), ("max_task_s", "s"),
    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("jobs", "count"))] + [
    ("trace.overhead_frac", "ratio"),
]

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    n = len(os.sched_getaffinity(0))
    if not isinstance(n, int) or n < 1:
        fail(f"cannot determine the core count: {n!r}")
    return n


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(RUNNER, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(RUNNER, "build.sbt"), os.path.join(RUNNER, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the library and the runner once per source state; return the
    runtime classpath and whether this call compiled."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the library sources (build.sbt, src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(STATE, "build", f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), False
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    log = os.path.join(STATE, "build", "sbt.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=RUNNER, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        with open(log, "a") as lf:
            lf.write(proc.stdout)
        fail(f"build failed (sbt exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], True


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(classpath, args, log, timeout):
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}",
        f"-Dlog4j.configurationFile={os.path.join(RUNNER, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Main"] + args
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def percentile_note(n):
    """The highest percentile with at least ten samples beyond it."""
    if n < 20:
        return f"n={n}: only the median is supported"
    return f"n={n}: up to p{int(100 * (1 - 10 / n))}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    load_start = loadavg()

    classpath, built = build()
    n_cores = cores()
    kind, size = WORKLOADS[args.workload]
    # test-only shrink factor; the benchmark itself always runs at 1
    size = max(200, int(size * float(os.environ.get("PERFBENCH_SCALE", "1"))))
    gen_key = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:8]
    data_dir = os.path.join(STATE, "data", f"{kind}-s{args.seed}-n{size}-p{2 * n_cores}-{gen_key}")
    info = gen.generate(kind, args.seed, size, data_dir, parts=2 * n_cores)

    ref_key = hashlib.sha256(open(reference.__file__, "rb").read() +
                             open(PAYLOAD, "rb").read()).hexdigest()[:8]
    ref_path = os.path.join(data_dir, f"reference-{ref_key}.json")
    if kind == "events":
        ref = reference.cached(ref_path, lambda: reference.hep_reference_json(data_dir, PAYLOAD))
    else:
        ref = reference.cached(ref_path, lambda: reference.curation_reference(data_dir))

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(STATE, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    log = os.path.join(out_dir, f"{run_id}.log")
    # a run that compiled may take up to 900 s, any other 180 s
    budget = (880 if built else DEADLINE_S) - (time.time() - t_start)
    code = run_jvm(classpath, [
        "--workload", args.workload, "--data", data_dir, "--work", os.path.join(work, "spark"),
        "--seconds", repr(args.seconds), "--trace", str(args.trace), "--cores", str(n_cores),
        "--payload", PAYLOAD, "--out", result_path], log, budget)
    if code != 0 or not os.path.exists(result_path):
        with open(log) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    with open(result_path) as f:
        res = json.load(f)

    # correctness: warm-ups and timed iterations alike
    problems = []
    checks = [("warm-up", None, w) for w in res["warmups"]] + [
        (f"iteration {it['index']}", it["error"], it["check"]) for it in res["iterations"]]
    failed = 0
    lsh_note = ""
    pairs_digest = None
    for label, error, check in checks:
        if error:
            reason = error
        elif kind == "events":
            reason = reference.check_hist(check, ref)
        else:
            reason = reference.check_curation(check, ref)
            if reason is None and "pairs" in check:
                reason, precision, recall = reference.check_lsh(data_dir, check["pairs"], ref)
                lsh_note = f"lsh precision={precision:.4f} recall={recall:.4f}"
                pairs_digest = check["pairs_digest"] if reason is None else None
            elif reason is None and check["pairs_digest"] != pairs_digest:
                reason = "LSH pairs differ from the verified warm-up pairs"
        if reason:
            failed += 1
            problems.append(f"{label}: {reason}")

    untraced = [it for it in res["iterations"] if not it["traced"]]
    walls = [it["wall_s"] for it in untraced]
    wall = statistics.median(walls)
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "rows_per_s": info["rows"] / wall,
        "bytes_written_per_input_byte":
            statistics.median(it["bytes_written"] for it in untraced) / info["bytes"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    attempted = len(checks)
    fail_frac = failed / attempted
    load_end = loadavg()

    meta = {"workload": args.workload, "seed": args.seed, "cores": n_cores,
            "input_rows": info["rows"], "input_bytes": info["bytes"],
            "load1_start": load_start, "load1_end": load_end,
            "java": res["java_version"], "spark": res["spark_version"],
            "session_s": res["session_s"],
            "wall_samples_s": walls, "wall_percentiles": percentile_note(len(walls))}
    print("# run " + json.dumps(meta))
    for name, unit in END_TO_END:
        print(f"# {args.workload} {name} = {e2e[name]:.6g} {unit}")
    print(f"# {args.workload} fail_frac = {fail_frac:.6g} ratio ({failed}/{attempted})")
    if lsh_note:
        print(f"# {args.workload} {lsh_note}")
    for p in problems:
        print(f"# FAILED {p}")

    if args.trace:
        layers = res["layers"]
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        shutil.copy(os.path.join(work, "spark", "trace.json"),
                    os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump({"meta": meta, "metrics": metrics, "fail_frac": fail_frac,
                   "problems": problems}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
