#!/usr/bin/env python3
"""Benchmark of the k-mer and curation engine: one run of one workload.

    python3 perfbench/run.py --workload kmer_small_k --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (`perfbench/build.sbt`); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from `--seed`,
times the session build of a JVM that only builds the session, starts the
measuring JVM at `local[<cores>]`, runs a cold pass, an untimed verified
pass and then warm passes back to back for `--seconds`, checks the
outputs, and prints one JSON object as the last line of standard output.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separate traced run. Every run also appends its full record
to `perfbench/.work/results.jsonl`, which `perfbench/compare.py` reads.
The exit code is 0 only when every output was correct.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402

DEADLINE_S = 175  # a run must end within 180 s
MAX_BUILD_S = 840  # the first run of a checkout may take 900 s
# setup_s is the median of the session builds of this many fresh JVMs: the
# measuring JVM and JVMs that only build the session. Each build is the
# first one of its JVM, as in a program that starts, builds and queries.
SETUP_JVMS = 2
# A fixed heap and young generation keep GC work and resident memory from
# drifting with the collector's adaptive sizing between runs.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]

# Inputs per workload; the seed chooses their content. The k-mer corpus is
# i.i.d. uniform ACGT in equal files (see gen.py), so kmer_large_k has
# almost no repeated keys. BENCHMARK.json runs the two k-mer workloads.
# curation_mix is run by hand and by the tests: its warm passes are bound
# by Spark-driver latency and moved by 20-30% between runs on a shared
# 4-core host, more than any bound the benchmark may set.
WORKLOADS = {
    "kmer_small_k": {"k": 8, "chars": 24_000_000, "files": 48},
    "kmer_large_k": {"k": 31, "chars": 8_000_000, "files": 48},
    "curation_mix": {"docs": 1000, "words": 20000, "dup_exact": 0.05, "dup_near": 0.05,
                     "vecs": 800},
}

# The layer whose self time is predicted to dominate each workload.
PREDICTED = {
    "kmer_small_k": {"exec"},
    "kmer_large_k": {"shuffle"},
    "curation_mix": {"tables", "construct", "plan", "sched"},
}

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# The curation_mix queries, in run order: a short scan-and-aggregate, a
# custom aggregate and an iterative Spark-driver loop (Lloyd's k-means to
# convergence). A warm pass of all 17 registry queries the mix was first
# drawn from takes about 24 s on 4 cores, which does not fit the run
# budget; these three take about 3 s.
CURATION_QUERIES = ["text_token_stats", "heavy_hitters", "kmeans_converged"]

LAYER_METRICS = [
    ("tables.open_s", "s"), ("tables.open_jobs", "count"), ("tables.self_s", "s"),
    ("construct_s", "s"), ("construct_jobs", "count"), ("construct.self_s", "s"),
    ("sink.self_s", "s"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("plan.executions", "count"), ("plan.self_s", "s"),
    ("codegen.compile_s", "s"), ("codegen.compiles", "count"),
    ("codegen.cold_compile_s", "s"), ("codegen.cold_compiles", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.busy_core_frac", "frac"), ("sched.self_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.self_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.records", "count"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"), ("shuffle.write_s", "s"),
    ("spill.bytes", "bytes"),
    ("kmer.windows", "count"), ("kmer.distinct", "count"), ("kmer.partial_agg_ratio", "ratio"),
    ("input.bytes", "bytes"), ("input.records", "count"), ("output.rows", "count"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"), ("host.foreign_cpu_frac", "frac"),
    ("dominant.prediction_held", "bool"),
]

# No tail latency is reported: no workload yields the 20 query latencies
# per run that a tail percentile with ten samples beyond it needs, so it
# would repeat query_p50_s.
# Jobs started by a table read in graft.Tables or graft.sources.CorpusSource.
READ_SITE = re.compile(r" at (Tables|CorpusSource)\.scala:")

E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
             "mchars_per_s": "Mchar/s", "peak_rss_mb": "MB"}
# Characters per second are a k-mer measure; per-query latency differs
# from pass_s only where a pass runs several queries.
E2E_SKIP = {"kmer_small_k": {"query_p50_s"}, "kmer_large_k": {"query_p50_s"},
            "curation_mix": {"mchars_per_s"}}
# Kept in the run record and the log but not printed as a metric: the cold
# pass is one sample per run, and over ten runs on a shared 4-core host its
# interquartile range on kmer_small_k reached 0.17-0.22 of the median, too
# close to the largest bound the benchmark may set.
RECORD_ONLY = {"first_pass_s"}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ----------------------------------------------------------------------
# Build
# ----------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for t in trees:
        for d, _, names in sorted(os.walk(t)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the harness classpath, building when the sources changed."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"], False
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, stdout=subprocess.PIPE, stderr=out, env=env, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=MAX_BUILD_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail("build timed out")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, True


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


# ----------------------------------------------------------------------
# Inputs
# ----------------------------------------------------------------------

def make_inputs(workload, seed, wdir, scale):
    spec = WORKLOADS[workload]
    data = os.path.join(wdir, "data")
    shutil.rmtree(data, ignore_errors=True)
    if workload.startswith("kmer"):
        seqs = gen.kmer_corpus(data, seed, int(spec["chars"] * scale), spec["files"])
        oracle = gen.kmer_oracle(seqs, spec["k"])
        props = {"chars": int(sum(len(s) for s in seqs)), "files": spec["files"],
                 "k": spec["k"], "distinct_kmers": oracle["distinct"],
                 "windows": oracle["windows"], "vocabulary": 4,
                 "duplicate_share": round(1 - oracle["distinct"] / oracle["windows"], 4)}
        return data, props, oracle
    props = gen.curation_tables(data, seed, max(50, int(spec["docs"] * scale)), spec["words"],
                                spec["dup_exact"], spec["dup_near"],
                                max(50, int(spec["vecs"] * scale)))
    props.update({"near_duplicate_share_generated": spec["dup_near"],
                  "exact_duplicate_share_generated": spec["dup_exact"],
                  "distinct_kmers": 0})
    return data, props, None


# ----------------------------------------------------------------------
# Harness JVM
# ----------------------------------------------------------------------

def run_jvm(cp, args, wdir, deadline, log_name="jvm.log"):
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(wdir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(wdir, 'warehouse')}",
            "-cp", cp, "org.apache.spark.perfbench.PerfBench"] + args
    env = dict(os.environ, SPARK_GRAFT_OUT_DIR=os.path.join(wdir, "engine-out"))
    with open(os.path.join(wdir, log_name), "w") as out:
        p = subprocess.Popen(cmd, cwd=wdir, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill(p)
            fail("harness JVM exceeded the run deadline", 3)
    if p.returncode != 0:
        fail(f"harness JVM exited with {p.returncode}, see {os.path.join(wdir, log_name)}", 3)


# ----------------------------------------------------------------------
# Checks
# ----------------------------------------------------------------------

def check_kmer(res, oracle):
    """Returns (verified output rows, wrong queries, problems)."""
    v = res["verify"]
    problems = [f"kmer_counts {key}: spark {v[key]} != oracle {oracle[key]}"
                for key in ("distinct", "windows", "checksum") if v[key] != oracle[key]]
    return {"kmer_counts": v["distinct"]}, {"kmer_counts"} if problems else set(), problems


def corrupt_one_row(dump):
    """Changes one value of one curation result, for the benchmark's own tests."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    qdir = os.path.join(dump, "text_token_stats")
    path = next(os.path.join(qdir, f) for f in sorted(os.listdir(qdir)) if f.endswith(".parquet"))
    t = pq.read_table(path)
    for i, field in enumerate(t.schema):
        if pa.types.is_integer(field.type):
            col = t.column(i).to_pylist()
            col[0] = (col[0] or 0) + 1
            t = t.set_column(i, field, pa.array(col, field.type))
            break
    pq.write_table(t, path)


def check_curation(res, data, dump, deadline, fault):
    if fault:
        corrupt_one_row(dump)
    rows = res["verify"]["rows"]
    wrong = {q for q, r in rows.items() if r < 0}
    problems = [f"{q}: verified pass failed" for q in sorted(wrong)]
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                            data, dump], capture_output=True, text=True,
                           timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return rows, set(rows), problems + ["oracle check timed out"]
    verdicts = [l.split()[:2] for l in p.stdout.splitlines() if l.startswith(("PASS", "FAIL"))]
    passed = {name.rstrip(":") for v, name in verdicts if v == "PASS"}
    for q in CURATION_QUERIES:
        if q not in passed:
            wrong.add(q)
    problems += [f"oracle {l}" for l in p.stdout.splitlines() if l.startswith("FAIL")]
    if not verdicts:
        problems.append(f"oracle check produced no verdicts: {p.stderr.strip()[-300:]}")
    return rows, wrong, problems


# ----------------------------------------------------------------------
# Metrics
# ----------------------------------------------------------------------

def union_len(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(workload, res, spans, oracle, cores):
    """Per-layer metrics, medians over the traced warm passes."""
    passes = [p for p in res["passes"] if p["kind"] == "traced"]
    untraced = [p["s"] for p in res["passes"] if p["kind"] == "warm"]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    by_pass = {}
    for s in spans:
        by_pass.setdefault(s["pass"], []).append(s)
    per_pass = []
    for p in passes:
        ss = by_pass.get(p["id"], [])
        # Plan phases carry no parent: they belong to the step they ran in.
        steps = [s for s in ss if s["name"] in ("construct", "sink", "tables.open")]
        for s in ss:
            if s["parent"] == -1:
                mid = (s["start_ns"] + s["end_ns"]) / 2
                owner = [t for t in steps if t["start_ns"] <= mid <= t["end_ns"]]
                s["parent"] = owner[0]["id"] if owner else 0
        kids = {}
        for s in ss:
            kids.setdefault(s["parent"], []).append(s)

        def self_s(names):
            tot = 0
            for s in ss:
                if s["name"] in names:
                    cs = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                          for c in kids.get(s["id"], [])]
                    tot += (s["end_ns"] - s["start_ns"]) - union_len([c for c in cs if c[1] > c[0]])
            return tot / 1e9

        def dur(names):
            return sum(s["end_ns"] - s["start_ns"] for s in ss if s["name"] in names) / 1e9

        jobs = [s for s in ss if s["name"] == "job"]
        span_by_id = {s["id"]: s for s in ss}
        step_name = lambda j: span_by_id.get(j["parent"], {}).get("name")
        L = dict(p["layers"])
        read_jobs = [j for j in jobs if READ_SITE.search(j["attrs"]["call_site"])]
        L["tables.open_s"] = dur({"tables.open"})
        L["tables.open_jobs"] = len(read_jobs)
        L["tables.self_s"] = self_s({"tables.open"})
        L["construct_s"] = dur({"construct"})
        L["construct_jobs"] = sum(1 for j in jobs if step_name(j) == "construct")
        L["construct.self_s"] = self_s({"construct"})
        L["sink.self_s"] = self_s({"sink"})
        L["plan.self_s"] = self_s({"plan.analysis", "plan.optimization", "plan.planning"})
        L["sched.jobs"] = len(jobs)
        L["sched.stages"] = sum(1 for s in ss if s["name"] == "stage")
        L["sched.busy_core_frac"] = L["exec.run_s"] / (p["s"] * cores)
        L["sched.self_s"] = self_s({"job"})
        L["exec.self_s"] = self_s({"stage"})
        if oracle:
            L["kmer.windows"] = oracle["windows"]
            L["kmer.distinct"] = sum(q["rows"] for q in p["queries"])
            L["kmer.partial_agg_ratio"] = L["shuffle.records"] / oracle["windows"]
        else:
            L["kmer.windows"] = L["kmer.distinct"] = L["kmer.partial_agg_ratio"] = 0
        L["output.rows"] = sum(q["rows"] for q in p["queries"])
        L["trace.pass_s"] = p["s"]
        L["host.foreign_cpu_frac"] = p["foreign_cpu_frac"]
        for q in CURATION_QUERIES:
            L[f"query.{q}.s"] = 0
            L[f"query.{q}.jobs"] = 0
        queries = [s for s in ss if s["name"] == "query"]
        for qspan, qrec in zip(sorted(queries, key=lambda s: s["start_ns"]), p["queries"]):
            step_ids = {s["id"] for s in kids.get(qspan["id"], [])}
            L[f"query.{qrec['name']}.s"] = qrec["s"]
            L[f"query.{qrec['name']}.jobs"] = sum(1 for j in jobs if j["parent"] in step_ids)
        # Wall-time share of each layer within the pass, for the dominance check.
        exec_core = L["exec.run_s"] - L["shuffle.write_s"] - L["shuffle.fetch_wait_s"]
        L["_layers"] = {
            "tables": L["tables.self_s"] + sum(j["end_ns"] - j["start_ns"] for j in read_jobs) / 1e9,
            "construct": L["construct.self_s"],
            "plan": L["plan.analysis_s"] + L["plan.optimization_s"] + L["plan.planning_s"],
            "codegen": L["codegen.compile_s"],
            "sched": max(0.0, union_len([(j["start_ns"], j["end_ns"]) for j in jobs]) / 1e9
                         - L["exec.run_s"] / cores),
            "exec": exec_core / cores,
            "shuffle": (L["shuffle.write_s"] + L["shuffle.fetch_wait_s"]) / cores,
        }
        per_pass.append(L)
    out = {}
    for name in per_pass[0]:
        if name != "_layers":
            out[name] = statistics.median(L[name] for L in per_pass)
    out["codegen.cold_compile_s"] = cold["layers"].get("codegen.compile_s", 0)
    out["codegen.cold_compiles"] = cold["layers"].get("codegen.compiles", 0)
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(untraced)
    layer_s = {k: statistics.median([L["_layers"][k] for L in per_pass])
               for k in per_pass[0]["_layers"]}
    dominant = max(layer_s, key=layer_s.get)
    held = dominant in PREDICTED[workload]
    out["dominant.prediction_held"] = 1 if held else 0
    return out, layer_s, dominant, held


def end_to_end(workload, res, setup_s, props):
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    pass_s = statistics.median(p["s"] for p in warm)
    lat = [q["s"] for p in warm for q in p["queries"]]
    m = {
        "setup_s": statistics.median(setup_s),
        "first_pass_s": cold["s"],
        "pass_s": pass_s,
        "query_p50_s": statistics.median(lat),
        "mchars_per_s": props["chars"] / 1e6 / pass_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    samples = {"setup_s": len(setup_s), "first_pass_s": 1, "pass_s": len(warm),
               "query_p50_s": len(lat), "mchars_per_s": len(warm), "peak_rss_mb": 1}
    for k in E2E_SKIP[workload]:
        del m[k], samples[k]
    return m, samples


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", action="store_true",
                    help="corrupt one output before the checks (the benchmark's own tests)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the benchmark's own tests use a small one)")
    ap.add_argument("--results", default=os.path.join(WORK, "results.jsonl"),
                    help="file the run record is appended to")
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("the engine sources (src/main/scala, build.sbt) are not next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    cp, built = build()
    deadline = (time.time() if built else t_start) + DEADLINE_S - 10

    wdir = os.path.join(WORK, a.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    t0 = time.time()
    data, props, oracle = make_inputs(a.workload, a.seed, wdir, a.scale)
    log(f"inputs (seed {a.seed}, {time.time() - t0:.1f}s, not timed): " + json.dumps(props))

    cores = len(os.sched_getaffinity(0))
    dump = os.path.join(wdir, "verify")
    os.makedirs(dump)
    out, spans_path = os.path.join(wdir, "passes.json"), os.path.join(wdir, "spans.jsonl")
    jargs = ["--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--cores", str(cores),
             "--k", str(WORKLOADS[a.workload].get("k", 0)), "--fault", "1" if a.fault else "0",
             "--out", out, "--spans", spans_path, "--dump", dump,
             "--queries", ",".join(CURATION_QUERIES)]
    setup_s = []
    t0 = time.time()
    for i in range(SETUP_JVMS - 1):
        setup_out = os.path.join(wdir, f"setup-{i}.json")
        run_jvm(cp, jargs + ["--setup-only", "1", "--out", setup_out], wdir, deadline - 15,
                f"setup-{i}.log")
        with open(setup_out) as f:
            setup_s.append(json.load(f)["setup_s"])
    log(f"setup-only JVMs {time.time() - t0:.1f}s")
    t0 = time.time()
    run_jvm(cp, jargs, wdir, deadline - 15)
    log(f"harness JVM {time.time() - t0:.1f}s")
    with open(out) as f:
        res = json.load(f)
    setup_s.append(res["setup_s"])

    if oracle:
        verified, wrong, problems = check_kmer(res, oracle)
    else:
        t0 = time.time()
        verified, wrong, problems = check_curation(res, data, dump, deadline, a.fault)
        log(f"oracle check {time.time() - t0:.1f}s")
    # A pass fails on an exception, a wrong verified output, or a row count
    # that differs from the verified pass.
    timed = [p for p in res["passes"] if p["kind"] in ("cold", "warm", "traced")]
    failed = 0
    for p in timed:
        bad = False
        for q in p["queries"]:
            if q["error"]:
                problems.append(f"pass {p['id']} {q['name']}: {q['error']}")
            elif q["rows"] != verified.get(q["name"]):
                problems.append(f"pass {p['id']} {q['name']}: output.rows {q['rows']} "
                                f"!= verified {verified.get(q['name'])}")
            bad = bad or bool(q["error"]) or q["name"] in wrong \
                or q["rows"] != verified.get(q["name"])
        failed += bad
    correct = failed == 0 and not problems
    for pr in problems[:20]:
        log(f"check failed: {pr}")

    e2e, samples = end_to_end(a.workload, res, setup_s, props)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
              "properties": props, "correct": correct, "attempted": len(timed),
              "failed": failed, "failed_frac": failed / len(timed), "problems": problems,
              "end_to_end": e2e, "samples": samples,
              "pass_s": [round(p["s"], 4) for p in timed],
              "foreign_cpu_frac": [round(p["foreign_cpu_frac"], 4) for p in timed],
              "queries": {}}
    for q in res["passes"][0]["queries"]:
        runs = [x for p in timed for x in p["queries"] if x["name"] == q["name"]]
        record["queries"][q["name"]] = {
            "fingerprints": sorted({x["fingerprint"] for x in runs}),
            "rows": verified.get(q["name"]),
            "s_median": statistics.median(x["s"] for x in runs)}
    log(f"workload {a.workload}: {len(timed)} timed passes, {failed} failed; "
        f"foreign CPU per pass {record['foreign_cpu_frac']}")
    for k, v in e2e.items():
        log(f"  {k} = {v:.6g} {E2E_UNITS[k]} (n={samples[k]})")

    if a.trace:
        with open(spans_path) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        layers, layer_s, dominant, held = layer_metrics(a.workload, res, spans, oracle, cores)
        for name, q in record["queries"].items():
            q["jobs"] = layers.get(f"query.{name}.jobs", 0)
        record["per_layer"] = layers
        record["layer_wall_s"] = layer_s
        record["dominant_layer"] = dominant
        log(f"traced pass_s {layers['trace.pass_s']:.4f}s, tracing overhead "
            f"{layers['trace.overhead_s']:+.4f}s per pass")
        log("layer wall share per pass: " + ", ".join(
            f"{k} {v:.3f}s" for k, v in sorted(layer_s.items(), key=lambda kv: -kv[1])))
        log(f"dominant layer {dominant}; predicted {'/'.join(sorted(PREDICTED[a.workload]))}: "
            f"{'held' if held else 'did not hold'}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in LAYER_METRICS}
    else:
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in e2e.items()
                   if n not in RECORD_ONLY}

    with open(a.results, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
