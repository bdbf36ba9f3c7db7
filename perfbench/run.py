#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <serve_headline|pipeline_daily>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the harness from the checkout's sources (perfbench/build.sbt) into the
build directory ($CARGO_TARGET_DIR, default .bench_build); later runs
reuse the build while the sources are unchanged. Every run generates its
inputs from the seed (perfbench/gen.py), serves them from cold stores in
a fresh scratch directory under the build directory, checks every output
against its DuckDB oracle, deletes the scratch directory, and prints one
JSON object as the last line of standard output. perfbench/README.md
describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.002                # input scale: lineitem has 6 000 000 * SF rows
SETUPS = 3                # cold store builds per serve run (median reported)
HEAP = "2g"
MIN_FREE_BYTES = 3 << 30  # disk a run needs: build, inputs, stores, shuffle
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
MIB = float(1 << 20)
PIPELINE_STEPS = ["stream_ingest_events", "cleanse_production", "quality_checks",
                  "load_warehouse", "analytics", "monitoring", "curate_corpus"]
PIPELINE_DIRS = ["streaming", "production", "quality", "warehouse", "analytics",
                 "monitoring", "corpus"]
HEADLINE = ["q01_top_products", "q02_monthly_trend", "q03_customer_segments",
            "q04_category_performance", "q05_payment_distribution", "q06_geo_revenue",
            "q07_customer_ltv", "q08_product_profitability", "q09_dow_pattern",
            "q10_discount_impact"]
CORPUS = ["dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_containment_pairs",
          "winnow_overlap_pairs", "bloom_decontamination", "multimodal_phash_pairs",
          "bm25_search", "hybrid_rrf_search", "ivf_search", "pq_search_rerank",
          "pack_sequences_bpe", "corpus_curation"]
STORES = ["bpe_vocab", "bm25", "ivf", "ivf_base", "pq"]
FUNCTIONS = ["minhash_sig", "simhash_sig", "word_shingles", "winnow_fp", "srp_sig",
             "qdot", "text_stats_sig"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def run_proc(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout
    and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:  # timeout or interrupt
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- build

def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(bdir):
    """Compile library + harness once per source vintage; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no library sources under {ROOT}/src/main/scala/graft; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required to build the benchmark")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    meta = os.path.join(bdir, "build.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            m = json.load(fh)
        if m.get("stamp") == stamp:
            return m["classpath"]
    log("building library and harness (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_TARGET=os.path.join(bdir, "sbt"))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(bdir, "build.log")
    with open(out, "w") as fh:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                      cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    with open(out) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if ln.startswith(os.path.join(bdir, "sbt"))]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (rc={rc}); log in {out}")
    classpath = cp[-1].strip()
    oracles = os.path.join(bdir, "oracle_sql.json")
    rc = run_proc(["java", *jvm_opts(os.path.join(bdir, "tmp")), "-cp", classpath,
                   "perfbench.Harness", "oracles", oracles], 120)
    if rc != 0:
        die("could not write the oracle SQL")
    with open(meta, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def jvm_opts(tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
    # pinned heap: a growing heap re-zeroes pages and adds variance
    opts += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp}"]
    return opts


# ---------------------------------------------------------------- helpers

def p90(xs):
    return statistics.quantiles(xs, n=10)[8] if len(xs) > 1 else xs[0]


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def load_oracle(bdir, data_dir):
    with open(os.path.join(bdir, "oracle_sql.json")) as fh:
        return oracle.Oracle(data_dir, json.load(fh))


# ---------------------------------------------------------------- serve

def harness(a, cp, orc, run, data, env, setups):
    """One serving-harness process; returns its measurements and the
    (attempted, failed) op counts after the oracle check."""
    cmd = ["java", *jvm_opts(os.path.join(run, "tmp")), "-cp", cp, "perfbench.Harness",
           "serve", data, run, str(a.seed), str(a.seconds), str(a.trace), str(setups)]
    logf = os.path.join(run, "harness.log")
    t0 = time.monotonic()
    with open(logf, "w") as fh:
        rc = run_proc(cmd, RUN_TIMEOUT_S - 20, env=env, stdout=fh, stderr=subprocess.STDOUT)
    log(f"harness process: {time.monotonic() - t0:.1f} s")
    res_path = os.path.join(run, "harness.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness exited with {rc}", 1)
    with open(res_path) as fh:
        res = json.load(fh)
    attempted = failed = 0
    for name, ph in res["phases"].items():
        for op in ph["warmup_failures"]:
            log(f"{op}: failed in the warm-up pass")
        bad = {}
        for op in {o["op"] for p in ph["passes"] for o in p["ops"]}:
            try:
                bad[op] = orc.compare(op, oracle.read_jsonl(os.path.join(run, "results", op + ".jsonl")))
            except Exception as e:  # missing output, oracle error
                bad[op] = f"{type(e).__name__}: {e}"
            if bad[op]:
                log(f"{op}: output does not match its oracle: {bad[op]}")
        for p in ph["passes"]:
            for o in p["ops"]:
                attempted += 1
                failed += (not o["ok"]) or bool(bad[o["op"]])
    return res, attempted, failed


def serve_headline(a, cp, bdir, run, data, env):
    res, attempted, failed = harness(a, cp, load_oracle(bdir, data), run, data, env,
                                     1 if a.trace else SETUPS)
    h = res["phases"]["serve_headline"]
    untraced = [p for p in h["passes"] if not p["traced"]]
    if a.trace:
        return attempted, failed, {**sched_metrics(untraced, res["cores"]), **serve_layers(res)}
    lat = [o["s"] for p in untraced for o in p["ops"]]
    log(f"{len(untraced)} passes, {len(lat)} op samples")
    return attempted, failed, {
        "setup_s": median(h["setup_s"]),
        "pass_s": median([p["s"] for p in untraced]),
        "op_p50_s": median(lat),
        "op_p90_s": p90(lat),
        "shuffle_mb": median([p["counters"]["shuffle_write_bytes"] for p in untraced]) / MIB,
        "heap_peak_mb": res["old_gen_peak_bytes"] / MIB,
        "written_mb": h["store_bytes"] / MIB,
    }


def sched_metrics(passes, cores):
    def med(k):
        return median([p["counters"][k] for p in passes])
    return {
        "sched.jobs": med("jobs"),
        "sched.stages": med("stages"),
        "sched.tasks": med("tasks"),
        "sched.task_busy_s": med("busy_ms") / 1000.0,
        "sched.gc_s": med("gc_ms") / 1000.0,
        "sched.idle_frac": median([1 - p["counters"]["busy_ms"] / 1000.0 / (cores * p["s"])
                                   for p in passes]),
    }


def serve_layers(res):
    """Per-layer figures from the traced passes of a serve run."""
    h = res["phases"]["serve_headline"]
    c = res["phases"]["serve_corpus"]
    ht = [p for p in h["passes"] if p["traced"]]
    hu = [p for p in h["passes"] if not p["traced"]]
    ct = [p for p in c["passes"] if p["traced"]]

    def span_s(parent_prefix, parent_suffix, name):
        return median([s["s"] for s in res["spans"] if s["name"] == name
                       and s["parent"].startswith(parent_prefix) and s["parent"].endswith(parent_suffix)])

    def per_pass(passes, f):
        return median([f(p) for p in passes])

    shuffle = lambda p: p["counters"]["shuffle_write_bytes"] / MIB
    broadcast = lambda p: sum(o["broadcast_bytes"] for o in p["ops"]) / MIB
    stores = dict(c["stores"])
    return {
        "trace.overhead_s": per_pass(ht, lambda p: p["s"]) - per_pass(hu, lambda p: p["s"]),
        "warehouse.build_s": h["setup_s"][0],
        "warehouse.store_mb": h["store_bytes"] / MIB,
        "warehouse.serve_ms": median([o["construct_s"] for p in ht for o in p["ops"]]) * 1000,
        **{f"analytics.{q}_s": span_s("serve_headline/pass:", "", q) for q in HEADLINE},
        "analytics.shuffle_mb": per_pass(ht, shuffle),
        "analytics.broadcast_mb": per_pass(ht, broadcast),
        **{f"store.{s}_s": stores[s] for s in STORES},
        "store.mb": c["store_bytes"] / MIB,
        **{f"corpus.{op}_s": span_s("serve_corpus/pass:", "", op) for op in CORPUS},
        "corpus.shuffle_mb": per_pass(ct, shuffle),
        "corpus.broadcast_mb": per_pass(ct, broadcast),
        **{f"functions.{f}_s": span_s("serve_corpus/pass:", "/functions", f) for f in FUNCTIONS},
    }


# ---------------------------------------------------------------- pipeline

def pipeline_daily(a, cp, bdir, run, data, env):
    """One unmodified pipeline process against a fresh outDir and store."""
    out = os.path.join(run, "pipeline-out")
    counters = os.path.join(run, "pipeline-counters.json")
    cmd = ["java", *jvm_opts(os.path.join(run, "tmp")),
           "-Dspark.extraListeners=perfbench.PipelineCounters",
           f"-Dperfbench.counters.out={counters}",
           "-cp", cp, "graft.Pipeline", data, out]
    logf = os.path.join(run, "pipeline.log")
    t0 = time.monotonic()
    with open(logf, "w") as fh:
        rc = run_proc(cmd, RUN_TIMEOUT_S - 20, env=env, stdout=fh, stderr=subprocess.STDOUT)
    wall = time.monotonic() - t0
    log(f"pipeline process: {wall:.1f} s, exit {rc}")
    rep_path = os.path.join(out, "pipeline_execution_report.json")
    if not os.path.exists(rep_path) or not os.path.exists(counters):
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"pipeline exited with {rc} and no report", 1)
    with open(rep_path) as fh:
        rep = json.load(fh)
    with open(counters) as fh:
        cnt = json.load(fh)
    checks = pipeline_checks(load_oracle(bdir, data), out, rep)
    for what, why in checks.items():
        if why:
            log(f"pipeline check {what} failed: {why}")
    # a step that failed or needed a retry is a failure
    failed = sum(s["status"] != "success" or s["attempts"] != 1 for s in rep["steps"])
    failed += sum(bool(w) for w in checks.values()) + (rc != 0)
    attempted = len(rep["steps"]) + len(checks)

    total = rep["total_duration_ms"] / 1000.0
    steps = {s["name"]: s["duration_ms"] / 1000.0 for s in rep["steps"]}
    written = {d: dir_bytes(os.path.join(out, d)) / MIB for d in PIPELINE_DIRS}
    if a.trace:
        cores = os.cpu_count()
        return attempted, failed, {
            "sched.jobs": cnt["jobs"], "sched.stages": cnt["stages"], "sched.tasks": cnt["tasks"],
            "sched.task_busy_s": cnt["busy_ms"] / 1000.0,
            "sched.gc_s": cnt["gc_ms"] / 1000.0,
            "sched.idle_frac": 1 - cnt["busy_ms"] / 1000.0 / (cores * total),
            **{f"pipeline.{s}_s": steps[s] for s in PIPELINE_STEPS},
            **{f"pipeline.{d}_written_mb": written[d] for d in PIPELINE_DIRS},
            "pipeline.retries": sum(s["attempts"] - 1 for s in rep["steps"]),
            "pipeline.jvm_s": wall - total,
        }
    # the pipeline's ops are its Spark jobs: a few hundred per pass
    lat = cnt["job_s"]
    log(f"{len(lat)} job samples")
    return attempted, failed, {
        "setup_s": wall - total,
        "pass_s": total,
        "op_p50_s": median(lat),
        "op_p90_s": p90(lat),
        "shuffle_mb": cnt["shuffle_write_bytes"] / MIB,
        "heap_peak_mb": cnt["old_gen_peak_bytes"] / MIB,
        "written_mb": sum(written.values()) + dir_bytes(env["GRAFT_INDEX_DIR"]) / MIB,
    }


def pipeline_checks(orc, out, report):
    """check -> failure reason (None when it passes)."""

    def guarded(f):
        try:
            return f()
        except Exception as e:  # missing or unreadable output
            return f"{type(e).__name__}: {e}"

    def load_report():
        with open(os.path.join(out, "warehouse", "load_report.json")) as fh:
            lr = json.load(fh)
        bad = [k for k, v in lr.items() if v["status"] != "loaded"]
        return f"not loaded: {bad}" if bad or not lr else None

    def quality():
        with open(os.path.join(out, "quality", "quality_report.json")) as fh:
            qr = json.load(fh)
        want = orc.result("quality_score").iloc[0]
        got = (qr["grade"], qr["total_records"], qr["total_violations"])
        exp = (want["grade"], int(want["total_records"]), int(want["total_violations"]))
        return None if got == exp else f"{got} != {exp}"

    res = {
        "status": None if report["status"] == "success" else report["status"],
        "load_report": guarded(load_report),
        "quality_grade": guarded(quality),
        "corpus": guarded(lambda: orc.compare("pipeline.published_corpus",
                                              oracle.read_parquet_dir(os.path.join(out, "corpus")))),
    }
    for q in HEADLINE:
        res[f"analytics/{q}"] = guarded(lambda: orc.compare(
            q, oracle.read_csv_dir(os.path.join(out, "analytics", q))))
    return res


WORKLOADS = {"serve_headline": serve_headline, "pipeline_daily": pipeline_daily}

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
              "shuffle_mb": "MiB", "heap_peak_mb": "MiB", "written_mb": "MiB"}


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MiB"
    return "fraction" if name.endswith("_frac") else "count"


# Every per-layer metric. A traced run reports 0 for the layers its
# workload does not run: pipeline.* on serve_headline, and the serving
# layers (warehouse store, analytics, stores, corpus ops, functions,
# tracing overhead) on pipeline_daily.
PER_LAYER = (["sched.jobs", "sched.stages", "sched.tasks", "sched.task_busy_s", "sched.gc_s",
              "sched.idle_frac", "warehouse.build_s", "warehouse.store_mb", "warehouse.serve_ms"]
             + [f"analytics.{q}_s" for q in HEADLINE]
             + ["analytics.shuffle_mb", "analytics.broadcast_mb"]
             + [f"store.{s}_s" for s in STORES] + ["store.mb"]
             + [f"corpus.{op}_s" for op in CORPUS] + ["corpus.shuffle_mb", "corpus.broadcast_mb"]
             + [f"functions.{f}_s" for f in FUNCTIONS]
             + [f"pipeline.{s}_s" for s in PIPELINE_STEPS]
             + [f"pipeline.{d}_written_mb" for d in PIPELINE_DIRS]
             + ["pipeline.retries", "pipeline.jvm_s", "trace.overhead_s"])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    free = shutil.disk_usage(bdir).free
    if free < MIN_FREE_BYTES:
        die(f"only {free / 2**30:.1f} GiB free under {bdir}; a run needs "
            f"{MIN_FREE_BYTES / 2**30:.0f} GiB", 3)
    cp = build(bdir)

    runs = os.path.join(bdir, "runs")
    os.makedirs(runs, exist_ok=True)
    for old in os.listdir(runs):  # leftovers of a killed run
        if not pid_alive(int(old.rsplit("-", 1)[1])):
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    run = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run)
    try:
        data = os.path.join(run, "input")
        t0 = time.monotonic()
        gen.generate(data, a.seed, SF)
        log(f"inputs generated: {time.monotonic() - t0:.1f} s")
        env = dict(os.environ,
                   GRAFT_INDEX_DIR=os.path.join(run, "index"),
                   SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        attempted, failed, metrics = WORKLOADS[a.workload](a, cp, bdir, run, data, env)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": unit(k)}
                    for k in (PER_LAYER if a.trace else END_TO_END)},
    }))


if __name__ == "__main__":
    main()
