#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds graft together with the
benchmark's JVM program (perfbench/build.sbt, sbt offline) when the sources
changed, generates the workload's inputs from the seed, and runs graft in a
fresh JVM as `local[nproc]` with nproc shuffle partitions: one client in a
closed loop, each query or job starting after the previous one ends.

The JVM gets a new, empty `java.io.tmpdir` and `spark.local.dir`, so
fixture staging and index fits are paid inside set-up: `setup_s` runs from
the JVM's start to the end of its first pass. A fixed number of steady
passes follows, `--seconds` over the workload's nominal pass wall on a
quiet 4-core box: every run's medians then sit at the same point of the
JIT warm-up, which still lowers pass walls over the first few passes.
After the timed sections every result is checked:
catalog results against their DuckDB oracles, MR word counts against the
generator's histogram, and every repeated execution against the first one.
Each run measures one cold set-up: the catalog's costs about 30 s, and a
second one per run would not fit the benchmark's time budget.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The lines before it
stamp the run conditions and the sample counts; the full ledger (every
query execution, pass and failure) is written to
`.perfbench/ledger/<workload>-seed<n>-trace<t>.json`. MB means 2^20 bytes.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.01
# A fixed heap and young generation: the heap never resizes, so the peak
# resident set follows the memory the program retains, not G1's sizing.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn384m"]
# Seconds after the build at which a run's JVM is killed: the benchmark's
# workloads end well within it; a whole group's cold pass takes minutes.
RUN_LIMIT_S = {"catalog": 170.0, "mr_wordcount": 170.0, "sql": 900.0, "llm": 1800.0,
               "ingest": 1800.0}
# Nominal steady pass wall (s) on a quiet 4-core box; a run makes
# round(seconds / nominal) steady passes, at least two.
NOMINAL_PASS_S = {"catalog": 6.5, "mr_wordcount": 3.3, "sql": 25.0, "llm": 70.0, "ingest": 55.0}

# The benchmark's catalog slate: a fixed set of queries from every group,
# run in a seeded order every pass. `--workload sql|llm|ingest` instead
# runs every query of that group's packs (see Catalog.groups).
CATALOG_SLATE = [
    # sql: join, window, sketch, maintenance write, staged files
    "q3_join", "q_semi_join", "q_sessionize", "q_approx_topk", "q_txlog_compact", "dir_wordcount",
    # llm: exact near-duplicate pairs (session-cached), index cache, IVF
    # centroid fit, BM25 index fit, text, sampling. dedup_ngram_jaccard, the
    # brute-force baseline of dedup_minhash, stands in for it: like it, it
    # computes its pair index in the set-up pass and reads it back in steady
    # passes. dedup_minhash is not in the slate: its
    # LSH misses a near-duplicate pair its brute-force oracle finds on some
    # seeded fixtures (seeds 303, 506, 795886043; Jaccard 0.93-0.95). The
    # seeded MinHash family a_k * h + b_k, a_k = c * (k + 1) mod P, is
    # correlated across k: one shingle can be the minimum of all 16
    # odd-indexed hashes, and each band holds one of them, so every band key
    # of the pair differs. `--workload llm` still runs dedup_minhash.
    "dedup_ngram_jaccard", "dedup_incremental_indexed", "sim_ivf", "text_bm25_indexed", "text_quality",
    "sample_stratified",
    # ingest: file round trip, PDF and PNG decoders, one live gate
    "jsonl_roundtrip", "pdf_extract", "mm_png_pixels", "stream_windowed_live",
]
GROUPS = ("sql", "llm", "ingest")

# MR inputs: one job each, over MR_FILES files of MR_WORDS_PER_FILE words
# drawn from a Zipf law; (vocabulary size, Zipf exponent) per input. A small
# vocabulary or a steep law lets the per-file combiner collapse most pairs;
# a large flat one leaves the shuffle and reduce nearly every word. The
# percentiles pool the job walls of all steady passes (6 passes at 20 s,
# 18 samples): the three inputs' walls form separate clusters, so the median
# falls inside the middle input's cluster and p80 inside the slowest one's.
# The size is set so that work, not the per-job floor, makes up most of a
# pass: on a 4-core box a job over 4 files of 300 words takes 0.33-0.5 s,
# jobs over these inputs 0.73-0.85 s (2K words), 1.1-1.3 s and 1.6-1.9 s,
# so the floor is about a third of a 3.3-3.8 s pass.
MR_INPUTS = [(2_000, 1.2), (200_000, 1.2), (200_000, 0.7)]
MR_FILES, MR_WORDS_PER_FILE = 4, 480_000

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"), ("query_p80_s", "s"),
              ("mb_per_s", "MB/s"), ("rss_peak_mb", "MB")]

SPARK_LAYERS = [
    "operators.construct_jobs", "scheduler.jobs", "scheduler.stages", "scheduler.stages_skipped",
    "scheduler.tasks", "scheduler.task_cpu_s", "scheduler.task_run_s", "scheduler.gc_s",
    "scheduler.failed_tasks", "scheduler.cpu_share", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.records", "shuffle.spill_mb", "scan.input_mb", "scan.input_rows", "write.output_mb",
    "streaming.batches", "streaming.input_rows", "streaming.batch_p50_ms", "streaming.batch_p90_ms",
    "streaming.addbatch_ms", "streaming.walcommit_ms", "streaming.latestoffset_ms",
    "streaming.queryplanning_ms", "streaming.commitoffsets_ms", "scheduler.stage_coverage"]
SPAN_KINDS = ["construct", "plan", "execute", "batch", "job", "stage",
              "submit", "map", "shuffle", "reduce"]
DECODERS = ["sources.pdf", "sources.warc", "sources.zip", "sources.tar", "multimodal.png",
            "multimodal.jpeg", "multimodal.gif", "multimodal.bmp", "multimodal.wav",
            "multimodal.adpcm", "multimodal.mp3", "multimodal.mp4", "multimodal.phash"]


def per_layer_names():
    names = ["operators.construct_s", "operators.setup_construct_s", "operators.persisted_rdds",
             "operators.blocks_mb_after", "catalyst.plan_s", "scheduler.execute_s"]
    names += SPARK_LAYERS + ["stage.bytes_mb", "stage.files"]
    names += [f"{d}.mb_per_s" for d in DECODERS]
    names += ["mr.map_s", "mr.shuffle_s", "mr.reduce_s", "mr.progress_states", "mr.combine_ratio"]
    names += [f"span.{k}.self_s" for k in SPAN_KINDS]
    names += [f"group.{g}.pass_s" for g in GROUPS]
    names += ["trace.overhead"]
    return names


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def fingerprint():
    md = hashlib.sha256()
    for f in source_files():
        md.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            md.update(hashlib.sha256(fh.read()).digest())
    return md.hexdigest()


def build(work):
    """Compiles graft's sources and the JVM program; skipped when nothing
    changed since the last build in this checkout."""
    fp = fingerprint()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == fp:
        return classes, fp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t = time.time()
    with open(os.path.join(work, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                            env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "build.log")).read()[-4000:])
        fail(f"build failed (exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t:.1f} s")
    return classes, fp


# ------------------------------------------------------------- run JVMs

# Spark on JDK 17 outside spark-submit needs these packages opened (the
# list spark-submit passes, as in the repository's build.sbt).
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, tmp, args):
    spark_home = os.environ.get("SPARK_HOME") or fail("set SPARK_HOME")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main"]
    return cmd + [f"{k}={v}" for k, v in args.items()]


def run_jvm(classes, work, args, deadline):
    """Starts the JVM with a new, empty tmp dir, waits for it and returns
    its result.json. Kills it at `deadline`."""
    tmp = os.path.join(work, "tmp")
    out = os.path.join(work, "out")
    os.makedirs(tmp)
    logf = open(os.path.join(work, "jvm.log"), "w")
    args = dict(args, out=out, t0ms=int(time.time() * 1000))
    proc = subprocess.Popen(java_cmd(classes, tmp, args), cwd=tmp, stdout=logf,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the JVM ran past the run's time limit; see {logf.name}")
    finally:
        logf.close()
    if rc != 0:
        sys.stderr.write(open(logf.name).read()[-4000:])
        fail(f"the JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    res["out"] = out
    return res


# --------------------------------------------------------------- checks

def check_catalog(fixture, main):
    """Marks each execution ok or failed. The set-up pass result of every
    query is checked against its oracle; every later execution must return
    the same rows (same digest)."""
    with open(os.path.join(main["out"], "results", "oracle_sql.json")) as fh:
        sql = json.load(fh)
    verdicts = oracle.check_catalog(fixture, os.path.join(main["out"], "results"), sql)
    ref = {op["name"]: op["digest"] for op in main["ops"] if op["pass"] == 0 and not op["error"]}
    failures = []
    for op in main["ops"]:
        why = op["error"]
        if not why and op["name"] not in sql:
            why = "no oracle SQL for this query"
        if not why and verdicts.get(op["name"]):
            why = "oracle mismatch: " + verdicts[op["name"]]
        if not why and op["digest"] != ref.get(op["name"]):
            why = "result differs from the set-up pass result"
        op["failure"] = why
        if why:
            failures.append(f"{op['name']} (pass {op['pass']}): {why}")
    return failures


def check_mr(main, expected):
    """Every job's word counts must equal the generator's histogram; the
    first result of each input, written out by the JVM, names the first
    word that differs."""
    failures = []
    for op in main["ops"]:
        why = op["error"]
        if not why and op["digest"] != expected[op["name"]][1]:
            tsv = os.path.join(main["out"], "results", f"{op['name']}.tsv")
            why = "word counts differ from the generator's histogram: " + str(
                oracle.compare_histogram(tsv, expected[op["name"]][0]))
        op["failure"] = why
        if why:
            failures.append(f"{op['name']} (pass {op['pass']}): {why}")
    return failures


# -------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(main, input_mb):
    """`pass_s` is the median wall of the untraced steady passes; the
    per-query percentiles pool the query (or job) walls of all of them."""
    steady = {p["pass"]: p["wall_s"] for p in main["passes"] if p["pass"] > 0 and not p["traced"]}
    walls = [op["wall_s"] for op in main["ops"] if op["pass"] in steady]
    pass_s = statistics.median(steady.values())
    return {
        "setup_s": main["setup_s"],
        "pass_s": pass_s,
        "query_p50_s": quantile(walls, 0.5),
        "query_p80_s": quantile(walls, 0.8),
        "mb_per_s": input_mb / pass_s,
        "rss_peak_mb": main["rss_peak_mb"],
    }, len(walls)


def per_layer(main, work_mr_pairs):
    layers = main["layers"]
    m = {n: 0.0 for n in per_layer_names()}
    for k in SPARK_LAYERS:
        m[k] = statistics.median(l.get(k, 0.0) for l in layers)
    for k in SPAN_KINDS:
        m[f"span.{k}.self_s"] = statistics.median(l.get(f"span.{k}.self_s", 0.0) for l in layers)
    traced_ops = [op for op in main["ops"] if op["traced"]]
    n_traced = max(1, len({op["pass"] for op in traced_ops}))
    if traced_ops and "construct_s" in traced_ops[0]:
        m["operators.construct_s"] = sum(op["construct_s"] for op in traced_ops) / n_traced
        m["catalyst.plan_s"] = sum(op["plan_s"] for op in traced_ops) / n_traced
        m["scheduler.execute_s"] = sum(op["execute_s"] for op in traced_ops) / n_traced
        m["operators.setup_construct_s"] = sum(op["construct_s"] for op in main["ops"] if op["pass"] == 0)
        untraced = [op for op in main["ops"] if op["pass"] > 0 and not op["traced"]]
        n_untraced = max(1, len({op["pass"] for op in untraced}))
        for g in GROUPS:
            m[f"group.{g}.pass_s"] = sum(op["wall_s"] for op in untraced if op["group"] == g) / n_untraced
    steady = [p for p in main["passes"] if p["pass"] > 0]
    m["operators.persisted_rdds"] = statistics.median(p["persisted_rdds_new"] for p in steady)
    m["operators.blocks_mb_after"] = main["passes"][-1]["blocks_mb_after"]
    m["stage.bytes_mb"] = main["stage"]["bytes_mb"]
    m["stage.files"] = main["stage"]["files"]
    for d in main.get("decoders", []):
        m[f"{d['metric']}.mb_per_s"] = d["mb_per_s"]
    if work_mr_pairs:
        jobs = [op for op in traced_ops]
        for ph in ("map", "shuffle", "reduce"):
            m[f"mr.{ph}_s"] = sum(op["phases"].get(ph, 0.0) for op in jobs) / n_traced
        m["mr.progress_states"] = statistics.median(op["progress_states"] for op in jobs)
        m["mr.combine_ratio"] = m["shuffle.records"] / work_mr_pairs
    # Each traced pass against the mean of the untraced passes on either
    # side, so the warm-up trend across passes cancels.
    wall = {p["pass"]: p["wall_s"] for p in main["passes"]}
    traced = {p["pass"] for p in main["passes"] if p["traced"]}
    m["trace.overhead"] = statistics.median(
        wall[p] / ((wall[p - 1] + wall[p + 1]) / 2)
        for p in traced if p - 1 > 0 and p + 1 in wall)
    return m


# ----------------------------------------------------------------- main

def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    """(steal, total) CPU ticks of the machine: time a hypervisor gave this
    machine's CPUs to other guests shows up as steal."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, seed, data):
    """Writes the workload's inputs under `data`. Returns the JVM arguments,
    the input size in MB, the expected MR results (input name -> histogram
    and digest), the pairs the MR combiner emits, and the input's shape."""
    if workload == "mr_wordcount":
        inputs, expected, shapes, pairs = [], {}, [], 0
        for i, (vocab, s) in enumerate(MR_INPUTS):
            d = os.path.join(data, f"v{vocab}-z{s}")
            hist, shape, emitted = gen.text_dir(d, seed * 16 + i, MR_FILES, MR_WORDS_PER_FILE,
                                                vocab, s)
            inputs.append(d)
            expected[os.path.basename(d)] = (hist, oracle.histogram_digest(hist))
            shapes.append(shape)
            pairs += emitted
        input_mb = sum(s["bytes"] for s in shapes) / 2**20
        return {"workload": "mr", "inputs": ",".join(inputs)}, input_mb, expected, pairs, shapes
    gen.tables(data, seed, SF)
    input_mb = sum(os.path.getsize(f) for f in glob.glob(f"{data}/*.parquet")) / 2**20
    queries = ",".join(CATALOG_SLATE) if workload == "catalog" else "group:" + workload
    return {"workload": "catalog", "data": data, "queries": queries}, input_mb, None, 0, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUN_LIMIT_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala: run from the root of a checkout")

    started = time.time()
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "commit": git_commit(), "nproc": len(os.sched_getaffinity(0)),
             "loadavg_start": loadavg(), "sf": SF, "jvm_opts": " ".join(JVM_OPTS)}
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        classes, stamp["source_sha256"] = build(work)
        deadline = time.time() + RUN_LIMIT_S[args.workload]
        t = time.time()
        jvm_args, input_mb, expected, pairs, shapes = generate(
            args.workload, args.seed, os.path.join(work, "data"))
        stamp.update(input_mb=input_mb, generate_s=time.time() - t)
        if shapes:
            stamp["inputs"] = shapes

        t, (steal0, total0) = time.time(), cpu_ticks()
        passes = max(2, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        res = run_jvm(classes, work, dict(jvm_args, seed=args.seed, passes=passes,
                                          cores=stamp["nproc"], trace=args.trace), deadline)
        steal1, total1 = cpu_ticks()
        stamp["jvm_s"] = time.time() - t
        stamp["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        t = time.time()
        if expected:
            failures = check_mr(res, expected)
        else:
            failures = check_catalog(jvm_args["data"], res)
        decoders = res.get("decoders", [])
        failures += [f"decoder {d['metric']}: a seeded sample did not decode"
                     for d in decoders if not d["ok"]]
        attempted = len(res["ops"]) + len(decoders)
        failed = sum(1 for op in res["ops"] if op["failure"]) + sum(1 for d in decoders if not d["ok"])
        stamp["check_s"] = time.time() - t

        e2e, samples = end_to_end(res, input_mb)
        stamp.update(loadavg_end=loadavg(), spark=res["spark"], java=res["java"],
                     cores=res["cores"], heap_mb=res["heap_mb"], query_samples=samples,
                     steady_passes=sum(1 for p in res["passes"] if p["pass"] > 0),
                     failed_ratio=failed / attempted, attempted=attempted, failed=failed,
                     wall_s=time.time() - started)
        if args.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(res, pairs).items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

        ledger_dir = os.path.join(base, "ledger")
        os.makedirs(ledger_dir, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(ledger_dir, name + ".json"), "w") as fh:
            json.dump({"stamp": stamp, "failures": failures, "end_to_end": e2e,
                       "metrics": metrics, "run": res}, fh, indent=1)
        if args.trace:
            shutil.copy(os.path.join(res["out"], "trace.jsonl"),
                        os.path.join(ledger_dir, name + "-spans.jsonl"))
        for f in failures[:20]:
            log(f"FAILED {f}")
        print("run: " + json.dumps(stamp, sort_keys=True))
        print(f"failed_ratio: {failed / attempted:.6f} ({failed} of {attempted} checked operations)")
        print(f"query samples: {samples} over {stamp['steady_passes']} steady passes")
        for k, v in metrics.items():
            print(f"{k}: {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    for suffix, unit in (("mb_per_s", "MB/s"), ("_mb", "MB"), ("_mb_after", "MB"), ("_ms", "ms"),
                         ("_s", "s"), ("_share", "ratio"), ("_ratio", "ratio"),
                         ("_coverage", "ratio"), ("overhead", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
