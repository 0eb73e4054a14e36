#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload mr_batch --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds the harness (sbt, in
perfbench/); every run then generates its seeded inputs, starts one fresh
JVM that runs the workload's untimed warm-up passes (mr_batch: one) and then
its timed passes in a closed loop for --seconds (at least one pass), checks
every output against the declared DuckDB oracle,
and prints one JSON line: the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). It exits nonzero when any output is wrong.
All scratch lives under .bench_build/ in the checkout. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
ORACLE_SQL = os.path.join(HERE, "target", "oracle_sql.json")

MR_QUERIES = ["q01_wordcount", "q06_sort_lineitem", "q07_secondary_sort", "q08_join_inner",
              "q09_join_outer", "q11_datajoin", "q12_agg_dsl", "q21_rollup",
              "q41_salted_join", "q56_range_join"]
LLM_QUERIES = ["q25_minhash_pairs", "q42_sim_ivf_topk", "q29_text_quality", "q109_span_dedup"]

# Input sizes per workload. scale: TPC-H-ish tables relative to sf0.1;
# doc_scale / vec_scale: base documents / embeddings relative to sf0.1
# (5000 / 2000);
# dup_share / chain_depth: the planted near-duplicate chains.
# waves: the llm_curation corpus split into stream waves, fixed at the three
# terciles the q115 span-service oracle declares.
# dup_share and chain_depth are arbitrary choices, not taken from a source.
# warmup: untimed passes in the same JVM before the timed ones (README.md,
# "Warm-up").
# jvm_flags: llm_curation is timed cold, with the JIT compiling through the
# whole pass; in three paired runs, two compiler threads instead of the
# JVM's three on 4 cores used 35 % less JIT and 13 % less CPU for the same
# wall time, leaving the jobs more of the cores. mr_batch is timed warm and
# was ~10 % slower with two (two pairs).
TPCH = "region nation customer supplier part orders lineitem events documents".split()
WORKLOADS = {
    "mr_batch": dict(scale=0.15, doc_scale=0.5, vec_scale=0.0, dup_share=0.0, chain_depth=0,
                     tera_rows=500_000, warmup=1, jvm_flags=[], tables=TPCH),
    "llm_curation": dict(scale=0.0, doc_scale=0.2, vec_scale=0.06, dup_share=0.2,
                         chain_depth=8, waves=3, warmup=0, jvm_flags=["-XX:CICompilerCount=2"],
                         tables=["documents", "embeddings"]),
}
SETUP_REPEATS = 3
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

HISTORY = os.path.join(ROOT, ".bench_build", "perfbench-history")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_mtime():
    files = glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return max(os.path.getmtime(f) for f in files if os.path.isfile(f))


def build():
    """Compile graft + the harness once per checkout (or after a source
    change), recording the runtime classpath and the declared oracle SQL."""
    if os.path.exists(ORACLE_SQL) and os.path.getmtime(ORACLE_SQL) >= sources_mtime():
        return
    log("building the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (rc {rc}); see {os.path.join(WORK, 'build.log')}", 3)
    java(["--dump-oracle", ORACLE_SQL + ".tmp"], timeout=60)
    os.replace(ORACLE_SQL + ".tmp", ORACLE_SQL)


def java(args, timeout, log_path=None, jvm_flags=()):
    scratch = os.path.join(WORK, "run", "tmp")
    os.makedirs(scratch, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", *jvm_flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'spark-warehouse')}",
            f"-Dderby.system.home={scratch}",
            f"-Dderby.stream.error.file={os.path.join(scratch, 'derby.log')}",
            f"-Dspark.graft.scratchDir=file:{scratch}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", open(CLASSPATH).read().strip(), "perfbench.Main"] + args
    out = open(log_path, "w") if log_path else subprocess.DEVNULL
    try:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM did not finish within {timeout} s", 4)
    finally:
        if log_path:
            out.close()
    if rc != 0:
        if log_path:
            sys.stderr.writelines(open(log_path).readlines()[-40:])
        fail(f"JVM exited with rc {rc}", 4)


def cpu_probe():
    """Fixed CPU work, timed: host metadata that makes slow windows visible."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def make_inputs(workload, seed, run_dir):
    """Generate the seeded inputs SETUP_REPEATS times (the setup share that
    repeats cleanly); keep the last copy. Returns (median seconds, info)."""
    cfg = WORKLOADS[workload]
    times = []
    for i in range(SETUP_REPEATS):
        data = os.path.join(run_dir, "data")
        shutil.rmtree(data, ignore_errors=True)
        t = time.perf_counter()
        info = gen.generate(data, seed, cfg["scale"], cfg["doc_scale"], cfg["vec_scale"],
                            cfg["dup_share"], cfg["chain_depth"], cfg["tables"])
        if "waves" in cfg:
            info["wave_bytes"] = gen.write_waves(data, cfg["waves"])
        times.append(time.perf_counter() - t)
    return statistics.median(times), info


def oracle_queries(workload, cfg):
    """Result dir name → the oracle SQL its digest must match."""
    sql = json.load(open(ORACLE_SQL))
    if workload == "mr_batch":
        return {q: sql[q] for q in MR_QUERIES}
    out = {q: sql[q] for q in LLM_QUERIES}
    # after the stream and the tombstone rebuild: the q119 head assignment,
    # and the q115 fold sequence over the same waves
    out["final_clusters"] = sql["q119_tombstone_cluster_rebuild"]
    out["final_spans"] = sql["q115_span_dedup_service"]
    return out


def oracle_digests(workload, seed, data, cfg):
    """Digests of the declared oracle results on this seed's tables, cached
    per (workload, seed, generator, oracle text)."""
    want = oracle_queries(workload, cfg)
    key = hashlib.sha256(json.dumps([workload, seed, cfg, open(gen.__file__).read(), want,
                                     open(oracle.__file__).read()]).encode()).hexdigest()[:16]
    cache = os.path.join(ROOT, ".bench_build", "perfbench-oracle", f"{workload}-{seed}-{key}.json")
    if os.path.exists(cache):
        return json.load(open(cache))
    t = time.perf_counter()
    digests = {name: oracle.oracle_digest(data, sql) for name, sql in want.items()}
    log(f"oracle digests computed in {time.perf_counter() - t:.1f} s")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump(digests, f)
    os.replace(cache + ".tmp", cache)
    return digests


def dir_bytes(paths):
    return sum(os.path.getsize(f) for p in paths
               for f in glob.glob(os.path.join(p, "**"), recursive=True) if os.path.isfile(f))


def check(workload, rec, digests, cfg):
    """Output checks, outside the timed region. Returns failure messages,
    each one counted as a failed job."""
    bad = []
    for name, want in digests.items():
        path = os.path.join(rec["outputs"], name)
        got = oracle.result_digest(path) if os.path.isdir(path) else None
        if got != want:
            bad.append(f"{name}: digest {got} != oracle {want}")
    facts = rec["facts"]
    n_passes = len(rec["warmup"]) + len(rec["passes"])
    if workload == "mr_batch":
        tera = [f for f in facts if f["check"] == "tera"]
        if len(tera) != n_passes:
            bad.append(f"TeraValidate ran {len(tera)} times in {n_passes} passes")
        for f in tera:
            if not (f["ordered"] and f["validated_rows"] == f["rows"]
                    and f["gen_sum"] == f["sort_sum"]):
                bad.append(f"TeraValidate: {f}")
    if workload == "llm_curation":
        pairs = os.path.join(rec["outputs"], "q25_minhash_pairs")
        cc = os.path.join(rec["outputs"], "cc_direct")
        if os.path.isdir(pairs) and (not os.path.isdir(cc) or oracle.result_digest(cc)
                                     != oracle.components_digest(pairs)):
            bad.append("cc_direct: components differ from a union-find over the q25 pairs")
        rounds = {f["rounds"] for f in facts if f["check"] == "cc"}
        if len(rounds) != 1:
            bad.append(f"CC rounds differ between passes of one seed: {sorted(rounds)}")
        waves = [f for f in facts if f["check"] == "wave"]
        if len(waves) != cfg["waves"] * n_passes:
            bad.append(f"{len(waves)} waves committed in {n_passes} passes")
    return bad


def end_to_end(workload, rec, gen_s, data, info):
    """On llm_curation a wave is a stream wave (file visible → both folds
    committed) and stored bytes are the service dirs ÷ the wave bytes. On
    mr_batch, which has no stream, a wave is a batch job (submitted → output
    written), its p50 is the geometric mean of the timed jobs' latencies (a
    plain median of 13 unlike jobs jumps between neighbours that differ by
    a quarter), and stored bytes are its results ÷ its input tables."""
    wall = [(p["endMs"] - p["startMs"] - p["samplingMs"]) / 1000 for p in rec["passes"]]
    timed = len(rec["warmup"])
    if workload == "llm_curation":
        sample = [(f["committed_ms"] - f["visible_ms"]) / 1000
                  for f in rec["facts"] if f["check"] == "wave" and f["pass"] >= timed]
        p50 = statistics.median(sample)
        stored = dir_bytes([os.path.join(rec["outputs"], d)
                            for d in ("state", "corpus", "grams", "clean")]) / info["wave_bytes"]
    else:
        sample = [(j["endMs"] - j["startMs"]) / 1000 for j in rec["jobs"] if j["pass"] >= timed]
        p50 = statistics.geometric_mean(sample)
        stored = dir_bytes(glob.glob(os.path.join(rec["outputs"], "*"))) / dir_bytes([data])
    # a run has too few waves for the tail rule: printed for the record, not
    # gated
    p, tail, n = stats.tail_percentile(sample)
    print(f"# wave_tail_s={tail:.4f} (p{p} of n={n} waves); wall_s is the median of "
          f"{len(wall)} passes")
    for p in rec["warmup"] + rec["passes"]:
        kind = "warm-up" if p in rec["warmup"] else "timed"
        print(f"# pass {p['pass']} ({kind}): pass_s={(p['endMs'] - p['startMs']) / 1000:.3f} "
              f"sampling_s={p['samplingMs'] / 1000:.3f} jit_s={p['jitMs'] / 1000:.1f} "
              f"cpu_s={p['cpuMs'] / 1000:.1f}")
    return {
        "setup_s": gen_s + (rec["first_job_ms"] - rec["jvm_start_ms"]) / 1000,
        "wall_s": statistics.median(wall),
        "wave_p50_s": p50,
        "peak_live_heap_mb": rec["peak_live_heap_mb"],
        "stored_bytes_per_input_byte": stored,
    }


def print_split(rec):
    """What a traced run spent its time on, per top-level job and overall:
    wall, executor CPU (stages submitted inside the job's span), planning,
    and JIT compiler-thread time. Metadata lines, not metrics."""
    pass_ids = {s["id"] for s in rec["spans"] if s["name"] == "pass"}
    top = [s for s in rec["spans"] if s["parent"] in pass_ids]
    wall = sum(s["endMs"] - s["startMs"] for s in top) / 1000
    for s in top:
        st = [g for g in rec["stages"] if s["startMs"] <= g["submit_ms"] <= s["endMs"]]
        print(f"# split {s['name']}: wall_s={(s['endMs'] - s['startMs']) / 1000:.2f} "
              f"cpu_s={sum(g['cpu_ns'] for g in st) / 1e9:.2f} stages={len(st)} "
              f"tasks={sum(g['tasks'] for g in st)}")
    cpu = sum(g["cpu_ns"] for g in rec["stages"]) / 1e9
    print(f"# split total: wall_s={wall:.2f} cpu_s/wall_s={cpu / wall:.3f} "
          f"(of {rec['cores']} cores) plan_s/wall_s={sum(rec['plan_ms']) / 1000 / wall:.3f} "
          f"jit_s/wall_s={rec['jit_ms'] / 1000 / wall:.3f}")


def per_layer(rec, untraced_wall):
    """Per-layer metrics of a traced run, per pass unless stated otherwise
    (see README.md)."""
    traced = rec["passes"]
    nt = len(traced)
    spans = rec["spans"]
    stages = rec["stages"]
    counters = rec["counters"]

    def span_total(name):
        return sum(s["endMs"] - s["startMs"] for s in spans if s["name"] == name) / 1000 / nt

    def span_median(name):
        d = [(s["endMs"] - s["startMs"]) / 1000 for s in spans if s["name"] == name]
        return statistics.median(d) if d else 0.0

    m = {"Engine.session_s": rec["session_s"],
         "bench.teragen_s": span_total("bench.teragen"),
         "bench.terasort_s": span_total("bench.terasort"),
         "bench.teravalidate_s": span_total("bench.teravalidate")}
    for q in MR_QUERIES + LLM_QUERIES:
        m[f"Queries.{q}_s"] = span_total(f"Queries.{q}")
    cand = counters.get("operators.candidate_pairs", 0.0)
    ver = counters.get("operators.verified_pairs", 0.0)
    m.update({"operators.cc_s": span_total("operators.cc"),
              "operators.cc_rounds": counters.get("operators.cc_rounds", 0.0) / nt,
              "operators.candidate_pairs": cand,
              "operators.verified_pairs": ver,
              "operators.pair_yield": ver / cand if cand else 0.0})
    # folds: per-call medians, growth = last-quarter mean ÷ first-quarter mean
    waves = [s for s in spans if s["name"] == "stream.wave"]
    fold_by_wave = {}
    for s in spans:
        if s["name"] in ("jobs.cluster_fold", "jobs.span_fold"):
            fold_by_wave[s["parent"]] = fold_by_wave.get(s["parent"], 0) + s["endMs"] - s["startMs"]
    growth = []
    pass_ids = [s["id"] for s in spans if s["name"] == "pass"]
    for pid in pass_ids:
        seq = [fold_by_wave.get(w["id"], 0) for w in sorted(waves, key=lambda w: w["startMs"])
               if w["parent"] == pid]
        q = max(1, len(seq) // 4)
        if len(seq) >= 2 and sum(seq[:q]):
            growth.append((sum(seq[-q:]) / q) / (sum(seq[:q]) / q))
    m.update({"jobs.cluster_fold_s": span_median("jobs.cluster_fold"),
              "jobs.span_fold_s": span_median("jobs.span_fold"),
              "jobs.cluster_rebuild_s": span_total("jobs.cluster_rebuild"),
              "jobs.fold_growth": statistics.mean(growth) if growth else 0.0,
              "jobs.bytes_written": counters.get("jobs.bytes_written", 0.0) / max(1, len(waves)),
              "jobs.files_written": counters.get("jobs.files_written", 0.0) / max(1, len(waves))})
    batches = rec["batch_ms"]
    m.update({"streaming.trigger_s": statistics.median(b[0] for b in batches) / 1000
              if batches else 0.0,
              "streaming.add_batch_s": statistics.median(b[1] for b in batches) / 1000
              if batches else 0.0,
              "streaming.overhead_s": statistics.median(b[0] - b[1] for b in batches) / 1000
              if batches else 0.0})
    mb = 1048576.0

    def stage_sum(key, scale=1.0):
        return sum(s[key] for s in stages) * scale / nt

    m.update({"sources.input_mb": stage_sum("input_bytes", 1 / mb),
              "sources.input_records": stage_sum("input_records"),
              "sources.output_mb": stage_sum("output_bytes", 1 / mb)})
    # driver: planning phases, and job-span time no stage was running
    intervals = [(s["submit_ms"], s["complete_ms"]) for s in stages if s["complete_ms"]]
    top = [s for s in spans if s["parent"] in pass_ids]
    gap = sum((s["endMs"] - s["startMs"]) - stats.covered((s["startMs"], s["endMs"]), intervals)
              for s in top)
    m.update({"spark.driver.plan_s": sum(rec["plan_ms"]) / 1000 / nt,
              "spark.driver.gap_s": gap / 1000 / nt})
    skew = [max(s["task_ms"]) / max(1, statistics.median(s["task_ms"])) for s in stages
            if len(s["task_ms"]) >= 4 and s["run_ms"] >= 500]
    single = sum(s["complete_ms"] - s["submit_ms"] for s in stages
                 if s["tasks"] == 1 and s["input_bytes"] + s["shuffle_read"] >= mb)
    m.update({"spark.scheduler.jobs": rec["spark_jobs"] / nt,
              "spark.scheduler.stages": len(stages) / nt,
              "spark.scheduler.tasks": stage_sum("tasks"),
              "spark.scheduler.max_task_skew": max(skew) if skew else 0.0,
              "spark.scheduler.single_task_stages_s": single / 1000 / nt})
    traced_wall = sum(p["endMs"] - p["startMs"] - p["samplingMs"] for p in traced) / 1000
    run_s = stage_sum("run_ms", 1 / 1000)
    m.update({"spark.executor.run_s": run_s,
              "spark.executor.cpu_s": stage_sum("cpu_ns", 1e-9),
              "spark.executor.gc_s": stage_sum("gc_ms", 1 / 1000),
              "spark.executor.busy_frac": run_s * nt / (traced_wall * rec["cores"]),
              "spark.shuffle.write_mb": stage_sum("shuffle_write", 1 / mb),
              "spark.shuffle.read_mb": stage_sum("shuffle_read", 1 / mb),
              "spark.shuffle.fetch_wait_s": stage_sum("fetch_wait_ms", 1 / 1000),
              "spark.shuffle.write_s": stage_sum("shuffle_write_ns", 1e-9),
              "spark.memory.spill_mb": stage_sum("spill_disk", 1 / mb),
              "spark.memory.peak_execution_mb": max((s["peak_exec"] for s in stages),
                                                    default=0) / mb})
    wall = statistics.median((p["endMs"] - p["startMs"] - p["samplingMs"]) / 1000
                             for p in traced)
    m["trace.overhead"] = wall / untraced_wall - 1
    return m


def metric_units():
    """Metric name → unit, as BENCHMARK.json declares them."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run(a, cfg, trace):
    """One fresh-JVM run with empty scratch. Returns (record, check
    failures, setup seconds spent on inputs, data dir, input info)."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    print(f"# host cpu_probe_s={cpu_probe():.4f}")
    gen_s, info = make_inputs(a.workload, a.seed, run_dir)
    data = os.path.join(run_dir, "data")
    print(f"# inputs rows={info['rows']} bytes={info['bytes']} "
          f"dup_share_docs={info['dup_share_docs']:.3f} "
          f"dup_share_vecs={info['dup_share_vecs']:.3f}")
    digests = oracle_digests(a.workload, a.seed, data, cfg)
    record = os.path.join(run_dir, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--cores", str(os.cpu_count()), "--data", data,
            "--out", os.path.join(run_dir, "out"), "--record", record]
    if "tera_rows" in cfg:
        args += ["--tera-rows", str(cfg["tera_rows"])]
    args += ["--warmup", str(cfg["warmup"])]
    java(args, timeout=a.seconds + 140, log_path=os.path.join(run_dir, "jvm.log"),
         jvm_flags=cfg["jvm_flags"])
    rec = json.load(open(record))
    bad = check(a.workload, rec, digests, cfg)
    bad += [f"job {j['name']} (pass {j['pass']}) failed: {j['error']}"
            for j in rec["jobs"] if not j["ok"]]
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    return rec, bad, gen_s, data, info


def history_path(workload):
    """Untraced wall_s of this workload at its current input sizes."""
    key = hashlib.sha256(json.dumps(WORKLOADS[workload]).encode()).hexdigest()[:12]
    return os.path.join(HISTORY, f"{workload}-{key}.jsonl")


def untraced_wall(workload):
    """Median wall_s of the untraced runs recorded in this checkout."""
    path = history_path(workload)
    if not os.path.exists(path):
        return None
    return statistics.median(json.loads(line)["wall_s"] for line in open(path))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    e2e_units, layer_units = metric_units()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from the root of a checkout")
    os.makedirs(HISTORY, exist_ok=True)
    os.makedirs(WORK, exist_ok=True)
    build()
    cfg = WORKLOADS[a.workload]
    if a.trace and untraced_wall(a.workload) is None:
        log("no untraced run in this checkout yet: running one for the overhead base")
        rec, bad, gen_s, data, info = run(a, cfg, 0)
        if bad:
            fail("the untraced base run failed its checks", 1)
        record_history(a, end_to_end(a.workload, rec, gen_s, data, info))
    rec, bad, gen_s, data, info = run(a, cfg, a.trace)
    for b in bad:
        log(f"CHECK FAILED: {b}")
    if a.trace:
        metrics, units = per_layer(rec, untraced_wall(a.workload)), layer_units
        print_split(rec)
        self_ms = stats.self_times(rec["spans"])
        with open(os.path.join(WORK, "run", "spans.jsonl"), "w") as f:
            for s in rec["spans"]:
                f.write(json.dumps(dict(s, selfMs=self_ms[s["id"]])) + "\n")
    else:
        metrics, units = end_to_end(a.workload, rec, gen_s, data, info), e2e_units
        if not bad:
            record_history(a, metrics)
    if set(metrics) != set(units):
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    attempted = len(rec["jobs"])
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": min(attempted, len(bad)),
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    sys.exit(1 if bad else 0)


def record_history(a, metrics):
    with open(history_path(a.workload), "a") as f:
        f.write(json.dumps({"seed": a.seed, "wall_s": metrics["wall_s"]}) + "\n")


if __name__ == "__main__":
    main()
