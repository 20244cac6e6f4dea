"""Benchmark of the paper's virus-vs-clean pipeline and of the engine's
read/write mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload virus_ref --seed 1 --seconds 1 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's seeded inputs, runs one pass in the driver JVM
(perfbench/src/Driver.scala), checks the pass's outputs against an
independent DuckDB recomputation, and prints one JSON line. With
`--trace 1` the line holds the per-layer metrics instead of the
end-to-end ones, and the per-layer table is also written to
`.bench_build/perfbench/trace_<workload>.json` and `.md`. Exits non-zero
when any output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402

# name -> (driver workload, input scale, k-means fits per pass)
WORKLOADS = {"virus_ref": ("virus", 1, 10), "engine_mix": ("engine", 0.5, 0)}
TIMEOUT_S = 170
END_TO_END = [("setup_s", "s"), ("artifacts_s", "s"), ("report_s", "s"),
              ("read_s", "s"), ("write_s", "s"), ("run_s", "s"),
              ("peak_rss_mb", "MB")]

VIRUS_SPANS = ["apps.virus.s1_features", "apps.virus.s2_cluster",
               "io.artifacts", "ml.sgd"]
READ_SPANS = ["dedup.dd17_canonical_dedup", "streaming.st24_stream_merge_evolve",
              "io.io12_snapshot_diff", "ml.ml16_pr_curve",
              "multimodal.mm14_audio_neardup", "operators.q33_debounce",
              "operators.q13_sessionize", "similarity.em07_pq_residual",
              "operators.ta25_temperature_mix", "operators.vp02_infogain"]
INDEX_SPANS = ["apps.index." + s for s in (
    "s1_publish_v1", "s2_build", "s3_append", "s4_delete", "s5_fold", "s6_gc",
    "s7_retrain_swap", "s8_postswap_append", "s9_gc_versions", "s10_serve")]
CURATION_SPANS = ["apps.curation." + s for s in (
    "s1_base_tokenize", "s2_base_exact_keys", "s3_base_neardup_bank",
    "s4_base_gates", "s5_base_decon", "s6_base_publish", "s7_delta_tokenize",
    "s8_delta_exact_vs_keys", "s9_delta_neardup_vs_bank",
    "s10_delta_gates_decon", "s11_merge_publish", "s12_serve")]
# engine counters of a span, or of a group of spans (the engine_mix reads
# and each write chain are reported as groups)
COUNTERS = [("spark.jobs", "count"), ("spark.tasks", "count"),
            ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
            ("spark.gc_s", "s"), ("spark.shuffle_mb", "MB"),
            ("spark.spill_mb", "MB"), ("spark.sched_wait_s", "s"),
            ("spark.core_util", "ratio"), ("spark.block_store_peak_mb", "MB"),
            ("spark.cached_mb_end", "MB")]
SUMMED = ["spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
          "spark.gc_s", "spark.shuffle_mb", "spark.spill_mb", "spark.sched_wait_s"]
GROUPS = {"engine.reads": READ_SPANS, "apps.index": INDEX_SPANS,
          "apps.curation": CURATION_SPANS}


def per_layer_names():
    """Every per-layer metric as (name, unit, better), in BENCHMARK.json order."""
    better = {"spark.core_util": "higher"}
    out = []
    for s in VIRUS_SPANS:
        out.append((s + "_s", "s", "lower"))
        if s == "apps.virus.s1_features":
            out.append((s + ".spark.input_mb", "MB", "lower"))
        out += [(f"{s}.{k}", u, better.get(k, "lower")) for k, u in COUNTERS]
    out += [(s + "_s", "s", "lower") for s in READ_SPANS + INDEX_SPANS + CURATION_SPANS]
    for g in GROUPS:
        out += [(f"{g}.{k}", u, better.get(k, "lower")) for k, u in COUNTERS]
    out += [("io.artifacts_mb", "MB", "lower"),
            ("io.index_mb_on_disk", "MB", "lower"), ("io.index_files", "count", "lower"),
            ("io.index_write_amp", "ratio", "lower"),
            ("io.curation_mb_on_disk", "MB", "lower"),
            ("io.curation_files", "count", "lower"),
            ("operators.features_kept_ratio", "ratio", "higher"),
            ("operators.libsvm_rows_ratio", "ratio", "higher"),
            ("spark.cached_mb_end", "MB", "lower"),
            ("trace.unaccounted_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
            ("error_rate", "ratio", "lower")]
    return out


JAVA_OPTS = ["--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_driver(classes, args, work):
    """Runs the driver JVM; returns (exit code, peak RSS MB, result dict)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + ":" + ":".join(build.spark_jars())
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # The heap is fixed and touched at start, so the peak RSS does not
    # follow how much of the heap a pass happened to reach before a GC.
    cmd = (["java", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch", "-Xms2g", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"] + JAVA_OPTS +
           ["-cp", cp, "perfbench.Driver"] + args)
    with open(os.path.join(work, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        peak_kb, start = 0, time.time()
        status = f"/proc/{proc.pid}/status"
        while proc.poll() is None:
            try:
                with open(status) as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak_kb = max(peak_kb, int(line.split()[1]))
            except OSError:
                pass
            if time.time() - start > TIMEOUT_S:
                proc.kill()
            time.sleep(0.05)
        proc.wait()
    res = os.path.join(work, "out", "result.json")
    result = json.load(open(res)) if os.path.exists(res) else None
    return proc.returncode, peak_kb / 1024.0, result


def tree(d):
    """(bytes, files) of every file under `d`."""
    n = size = 0
    for root, _, files in os.walk(d):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return size, n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        sys.exit(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")

    classes = os.path.abspath(build.build())
    work = os.path.abspath(os.path.join(
        build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(a, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classes, work):
    kind, scale, runs = WORKLOADS[a.workload]
    inputs, out = os.path.join(work, "input"), os.path.join(work, "out")
    if kind == "virus":
        gen_corpus.generate(inputs, a.seed, scale)
        expected = oracle.virus_expected(inputs)
    else:
        gen_tables.generate(inputs, a.seed, scale)
    code, rss_mb, res = run_driver(classes, [
        "--workload", kind, "--input", inputs, "--out", out,
        "--local", os.path.join(work, "local"), "--runs", str(runs),
        "--trace", str(a.trace)], work)
    if code != 0 or res is None:
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"driver failed (exit code {code})")

    # output checks, outside every timed region; a pass that threw fails
    # every operation it holds
    attempted = 1 if kind == "virus" else len(res["oracle_sql"])
    if "error" in res:
        problems = [res["error"]]
    elif kind == "virus":
        problems = oracle.check_virus_pass(out, expected)
    else:
        problems = oracle.check_engine_pass(out, inputs, res["oracle_sql"])
    failed = attempted if "error" in res else min(len(problems), attempted)
    for pr in problems:
        print("CHECK FAILED", pr, file=sys.stderr)
    if "error" in res:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    if a.trace:
        metrics = per_layer(res, out, inputs, expected if kind == "virus" else None,
                            failed / attempted)
        write_side_file(a, res, metrics)
    else:
        metrics = {k: (res["times"][k], u) for k, u in END_TO_END if k in res["times"]}
        metrics["setup_s"] = (res["setup_s"], "s")
        metrics["peak_rss_mb"] = (rss_mb, "MB")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 1 if failed else 0


def per_layer(res, out, inputs, expected, error_rate):
    """Per-layer metrics of a traced pass; those of spans that do not run
    in the workload read 0."""
    units = {n: u for n, u, _ in per_layer_names()}
    m = {n: 0.0 for n in units}
    cores = res["cores"]
    spans = res["spans"]
    for s, x in spans.items():
        c = dict(x, **{"spark.core_util": x["spark.task_run_s"] / max(x["wall_s"] * cores, 1e-9)})
        m[s + "_s"] = x["wall_s"]
        for k in c:
            if f"{s}.{k}" in m:
                m[f"{s}.{k}"] = c[k]
    for g, members in GROUPS.items():
        xs = [spans[s] for s in members if s in spans]
        if not xs:
            continue
        for k in SUMMED:
            m[f"{g}.{k}"] = sum(x[k] for x in xs)
        wall = sum(x["wall_s"] for x in xs)
        m[f"{g}.spark.core_util"] = m[f"{g}.spark.task_run_s"] / max(wall * cores, 1e-9)
        m[f"{g}.spark.block_store_peak_mb"] = max(x["spark.block_store_peak_mb"] for x in xs)
        m[f"{g}.spark.cached_mb_end"] = xs[-1]["spark.cached_mb_end"]
    if expected:
        m["io.artifacts_mb"] = tree(os.path.join(out, "pass"))[0] / 2 ** 20
        m["operators.features_kept_ratio"] = expected["n_kept"] / expected["vocab"]
        m["operators.libsvm_rows_ratio"] = expected["n_vec"] / expected["n_files"]
    else:
        ib, fi = tree(os.path.join(out, "index"))
        cb, fc = tree(os.path.join(out, "curation"))
        m["io.index_mb_on_disk"], m["io.index_files"] = ib / 2 ** 20, fi
        m["io.index_write_amp"] = ib / os.path.getsize(os.path.join(inputs, "embeddings.parquet"))
        m["io.curation_mb_on_disk"], m["io.curation_files"] = cb / 2 ** 20, fc
    m["spark.cached_mb_end"] = res["cached_mb_end"]
    m["trace.unaccounted_s"] = res["unaccounted_s"]
    m["trace.overhead_s"] = res["overhead_s"]
    m["error_rate"] = error_rate
    return {n: (v, units[n]) for n, v in m.items()}


def write_side_file(a, res, metrics):
    side = {"workload": a.workload, "seed": a.seed,
            "host": {"nproc": res["nproc"], "cores": res["cores"],
                     "heap_mb": res["heap_mb"], "spark_version": res["spark_version"],
                     "calib_cpu_s": res["calib_cpu_s"],
                     "calib_rows": 80_000_000},
            "metrics": {k: v for k, (v, _) in metrics.items()}}
    base = os.path.join(build.BUILD, f"trace_{a.workload}")
    with open(base + ".json", "w") as f:
        json.dump(side, f, indent=1)
    rows = ["| span | wall s | jobs | tasks | task run s | cpu s | gc s | "
            "shuffle MB | spill MB | sched wait s | cached MB end |",
            "|---|---|---|---|---|---|---|---|---|---|---|"]
    for s, x in res["spans"].items():
        rows.append(f"| {s} | {x['wall_s']:.3f} | {x['spark.jobs']:.0f} | "
                    f"{x['spark.tasks']:.0f} | {x['spark.task_run_s']:.3f} | "
                    f"{x['spark.task_cpu_s']:.3f} | {x['spark.gc_s']:.3f} | "
                    f"{x['spark.shuffle_mb']:.2f} | {x['spark.spill_mb']:.2f} | "
                    f"{x['spark.sched_wait_s']:.3f} | {x['spark.cached_mb_end']:.2f} |")
    rows.append(f"\nunaccounted: {res['unaccounted_s']:.3f} s; "
                f"tracing overhead: {res['overhead_s']:.3f} s; "
                f"host: {side['host']}")
    with open(base + ".md", "w") as f:
        f.write("\n".join(rows) + "\n")


if __name__ == "__main__":
    sys.exit(main())
