#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <relational|curation|wordcount> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into target directories of the checkout;
later runs reuse the build while its inputs are unchanged. Each run starts
one JVM (`graft.perfbench.Runner`) on `local[<cores>]`, which sets up a
session, runs a warm-up pass that doubles as the verification pass, then
measures closed-loop passes for about `--seconds`. This script checks the
outputs, turns the run record into metrics and prints, as its last line,
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
The line before it carries the details: each timing's median, supported
tail percentile and sample count, and the failures.
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

from harness import corpus, layers, oracle, stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
RUNTIME = os.path.join(HERE, "target", "runtime")
DATA = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = {
    "relational": [
        "q00_mr_word_count", "q01_word_count", "q02_term_lookup", "q03_filter_project",
        "q04_join_inner", "q05_join_multiway", "q06_join_broadcast", "q07_join_left_outer",
        "q08_join_semi", "q09_join_anti", "q10_agg_tpch_q1", "q11_rollup", "q12_cube",
        "q13_window_ranking", "q14_window_analytic", "q15_topk_per_group", "q16_topk_global",
        "q17_distinct", "q18_set_ops", "q19_string_fns", "q20_date_fns", "q21_math_fns",
        "q22_json_fns", "q23_array_fns", "q24_exact_dedup", "q25_time_buckets"],
    "curation": [
        "q47_dedup_components", "q64_incremental_curation", "q86_dedup_agreement"],
    "wordcount": ["wordcount"],
}
CORPUS_BYTES = 10_000_000
CORPUS_FILES = 8
RUN_DEADLINE_S = 170     # after the build; a run must end within 180 s
BUILD_DEADLINE_S = 800
JVM_HEAP = "3g"

END_TO_END = {
    "run_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "input_mb_per_s": "MB/s",
    "setup_s": "s",
    "peak_storage_mb": "MB",
}


class BenchError(Exception):
    pass


def run_proc(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} did not finish within {timeout:.0f} s")


def build_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the last build had the same inputs."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"no {need} next to perfbench/: not a checkout of the engine")
    stamp = build_stamp()
    stamp_file = os.path.join(RUNTIME, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRuntime"],
                  BUILD_DEADLINE_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                  stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise BenchError(f"build failed (sbt exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def wordcount_corpus(seed):
    """The seed's corpus, generated once and kept until another seed is used."""
    base = os.path.join(WORK, "corpus")
    out = os.path.join(base, str(seed))
    truth_file = os.path.join(out, "truth.json")
    if os.path.exists(truth_file):
        with open(truth_file) as fh:
            truth = json.load(fh)
        if truth.get("target_bytes") == CORPUS_BYTES and truth.get("params") == corpus.PARAMS:
            return out, truth
    shutil.rmtree(base, ignore_errors=True)
    truth = corpus.generate(seed, out, CORPUS_BYTES, CORPUS_FILES)
    truth["target_bytes"] = CORPUS_BYTES
    with open(truth_file, "w") as fh:
        json.dump(truth, fh)
    return out, truth


def run_jvm(workload, seconds, trace, out, items, deadline):
    with open(os.path.join(RUNTIME, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(RUNTIME, "java_options.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o and not o.startswith(("-Xmx", "-Xms"))]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *opts, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Dspark.local.dir={tmp}",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Runner",
           workload, DATA, str(seconds), str(trace), out, *items]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        rc = run_proc(cmd, deadline - time.monotonic(), cwd=out, env=env,
                      stdin=subprocess.DEVNULL, stdout=log, stderr=log)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise BenchError(f"Runner exited {rc}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def verify_queries(res, out, names):
    """{name: reason} for every query that threw or disagrees with its oracle."""
    bad = {n: e for n, e in res["verify"].items() if e is not None}
    checked = oracle.check(DATA, os.path.join(out, "verify"), [n for n in names if n not in bad],
                           os.path.join(WORK, "oracle"))
    bad.update({n: e for n, e in checked.items() if e is not None})
    return bad


def verify_wordcount(res, truth):
    v = res["verify"]
    want = {"total": truth["total"], "distinct": truth["distinct"], "top": truth["top"],
            "term_count": truth["term_count"], "lookup": truth["term_count"]}
    return {k: f"{v.get(k)!r} != {w!r}" for k, w in want.items() if v.get(k) != w}


def pass_input_bytes(out, names):
    """A query pass's input: for each query, the bytes of the tables its
    oracle SQL names. Fixed by the data and the query list, so it does not
    count the tasks' re-reads of cached and checkpointed blocks."""
    with open(os.path.join(out, "verify", "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    return sum(os.path.getsize(os.path.join(DATA, f"{t}.parquet"))
               for n in names for t in oracle.tables_read(oracles.get(n) or ""))


def end_to_end(res, input_bytes):
    passes = res["passes"]
    run_s = stats.median([p["seconds"] for p in passes])
    lat = [q["latency_s"] for p in passes for q in p["queries"]]
    return {
        "run_s": run_s,
        "query_p50_s": stats.median(lat),
        "query_p90_s": stats.quantile(lat, 90),
        "input_mb_per_s": input_bytes / 1e6 / run_s,
        "setup_s": res["session_s"] + res["warmup_s"],
        "peak_storage_mb": max(p["peak_storage_bytes"] for p in passes) / 1e6,
    }


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    out = os.path.join(WORK, "run")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    truth = None
    if a.workload == "wordcount":
        corpus_dir, truth = wordcount_corpus(a.seed)
        items = [truth["term"]] + [os.path.join(corpus_dir, f) for f in truth["files"]]
    else:
        # a fixed order: the seed does not choose it, because a query's
        # latency depends on its place (the first after the warm-up runs
        # slower), which would make the figures depend on the seed
        items = WORKLOADS[a.workload]

    res = run_jvm(a.workload, a.seconds, a.trace, out, items, deadline)

    bad = verify_wordcount(res, truth) if truth else verify_queries(res, out, items)
    samples = [q for p in res["passes"] for q in p["queries"]]
    if res["trace"]:
        samples += [q for key in ("passes", "untraced_after")
                    for p in res["trace"][key] for q in p["queries"]]
    errors = {f"{q['name']}#{i}": q["error"] for i, q in enumerate(samples) if q["error"]}
    attempted = len(samples) + len(res["verify"])
    failed = len(errors) + len(bad)

    e2e = end_to_end(res, truth["bytes"] if truth else pass_input_bytes(out, items))
    lat = [q["latency_s"] for p in res["passes"] for q in p["queries"]]
    detail = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"],
        "passes": len(res["passes"]),
        "run_s": stats.summary([p["seconds"] for p in res["passes"]]),
        "query_latency_s": stats.summary(lat),
        # bytes tasks read from their input, cached and checkpointed blocks included
        "task_input_mb": stats.median([p["input_bytes"] for p in res["passes"]]) / 1e6,
        "failed_frac": failed / attempted,
        "verify_failures": bad, "query_errors": errors,
        "end_to_end": e2e,
    }
    if res["trace"]:
        metrics, detail["per_query"] = layers.per_layer(
            res["trace"], res["passes"], res["cores"], res["session_s"])
        detail["per_layer"] = metrics
        units = layers.METRICS
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
