#!/usr/bin/env python3
"""Benchmark of the KG-construction engine and its query harness.

    python3 perfbench/run.py --workload <kg_batch|harness> \\
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. The first run builds the program and the
benchmark from source with sbt; later runs reuse the build while the sources
are unchanged. Inputs are made from the seed and cached per seed under
`.bench_build/perfbench/cache`; run records, span files and per-layer tables
go to `.bench_build/perfbench/results`.

The report lines name every end-to-end metric with its unit; the last line of
standard output is one JSON object: with `--trace 0` its metrics are the
end-to-end metrics, with `--trace 1` the per-layer metrics of a traced pass.
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

import harness_check
import harness_data

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH_FILE = os.path.join(STATE, "classpath.txt")
STAMP_FILE = os.path.join(STATE, "build.stamp")

WORKLOADS = ("kg_batch", "harness")
# Pages of the seeded webtext table; doc ids [seed*KG_PAGES, (seed+1)*KG_PAGES).
KG_PAGES = 60000
# Cached webtext tables kept (at most about 40 MB each); older ones are evicted.
KG_CACHE_KEEP = 8
# A fixed heap: a growing one made G1's sizing, and with it pass times and
# peak RSS, differ from run to run.
HEAP = "2g"
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 840.0

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("pages_per_s", "pages/s"),
              ("pr_min", "ratio"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("io.scan_s", "s"), ("io.scan_bytes", "bytes"), ("io.rows", "count"),
    ("kg.partition.s", "s"), ("kg.partition.shuffle_bytes", "bytes"),
    ("kg.partition.skew", "ratio"),
    ("text.extract.s", "s"), ("text.extract.pages", "count"),
    ("text.extract.html_bytes", "bytes"),
    ("text.tokenize.s", "s"), ("text.tokenize.sentences", "count"),
    ("text.tokenize.tokens", "count"),
    ("kg.relations_gen.s", "s"), ("kg.relations_gen.mentions", "count"),
    ("kg.relations_gen.candidates", "count"), ("kg.relations_gen.relations", "count"),
    ("kg.relations_gen.yield", "ratio"),
    ("plans.triples_agg.s", "s"), ("plans.triples_agg.rows_out", "count"),
    ("plans.triples_agg.reduction", "ratio"),
    ("kg.merge.s", "s"), ("kg.merge.rows_in", "count"),
    ("kg.merge.shuffle_bytes", "bytes"), ("kg.merge.triples", "count"),
    ("kg.checkpoint.s", "s"), ("kg.checkpoint.parts_done", "count"),
    ("kg.checkpoint.parts_skipped", "count"), ("kg.checkpoint.partials_bytes", "bytes"),
    ("kg.checkpoint.reprocess_ratio", "ratio"),
    ("kg.materialize.s", "s"), ("kg.materialize.bytes", "bytes"),
    ("kg.materialize.files", "count"),
    ("ops.dedup.s", "s"), ("ops.dedup.jobs", "count"), ("ops.dedup.join_rows", "count"),
    ("ops.dedup.pairs", "count"), ("ops.dedup.pair_yield", "ratio"),
    ("ops.similarity.s", "s"), ("ops.similarity.jobs", "count"),
    ("ops.relational.s", "s"), ("ops.relational.jobs", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"), ("spark.shuffle_bytes", "bytes"),
    ("spark.exchanges", "count"), ("spark.reused_exchanges", "count"),
    ("spark.idle_core_s", "s"),
    ("trace.run_s", "s"), ("trace.untraced_run_s", "s"), ("trace.overhead_s", "s"),
]
# kg_batch also traces its resume from the crash state
PER_LAYER += [("resume." + n, u) for n, u in PER_LAYER
              if n.split(".")[0] in ("io", "kg", "text", "plans", "spark")]
PER_LAYER += [("resume.trace.run_s", "s"), ("resume.trace.overhead_s", "s")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp() -> str:
    """Hash of every input of the build: sources and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, log_path, env=None) -> int:
    """Run a command in its own process group and wait for it; kill the group
    at the time limit, or when this process is told to stop."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            for s, h in previous.items():
                signal.signal(s, h)


def build() -> list:
    """Compile the program and the benchmark; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources next to the benchmark: nothing to measure")
        sys.exit(2)
    stamp = source_stamp()
    if os.path.isfile(STAMP_FILE) and os.path.isfile(CLASSPATH_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CLASSPATH_FILE) as g:
                    return g.read().split(os.pathsep)
    os.makedirs(STATE, exist_ok=True)
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cp_out = os.path.join(STATE, "classpath.out")
    sbt_log = os.path.join(STATE, "build.log")
    code = run_bounded(
        ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
         "-Dsbt.log.noformat=true", "compile",
         f"export perfbench/Runtime/fullClasspath"],
        BENCH, BUILD_LIMIT_S, sbt_log, env)
    if code != 0:
        log(f"build failed (exit {code}); see {sbt_log}")
        sys.exit(2)
    with open(sbt_log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if os.pathsep in l and l.endswith(".jar")]
    if not cp:
        log("build printed no classpath")
        sys.exit(2)
    with open(cp_out, "w") as f:
        f.write(cp[-1])
    os.replace(cp_out, CLASSPATH_FILE)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp[-1].split(os.pathsep)


def prune_kg_cache(seed: int, keep: int) -> None:
    """Mark this seed's webtext tables used; evict all but the `keep` most
    recently used tables."""
    d = os.path.join(STATE, "cache", "kg")
    if not os.path.isdir(d):
        return
    for e in os.listdir(d):
        if e.startswith(f"seed{seed}_"):
            os.utime(os.path.join(d, e))
    entries = sorted((os.path.join(d, e) for e in os.listdir(d)),
                     key=os.path.getmtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def harness_tables(seed: int) -> str:
    """Seeded harness tables, cached per seed (generation is not timed)."""
    d = os.path.join(STATE, "cache", "harness", f"seed{seed}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        harness_data.write(seed, tmp)
        os.replace(tmp, d)
    return d


def run_jvm(cp, workload, seed, seconds, trace, work, extra, deadline) -> dict:
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.PerfBench", workload, str(seed),
            str(seconds), str(trace), work, os.path.join(STATE, "cache"), result] + extra
    jvm_log = os.path.join(work, "jvm.log")
    code = run_bounded(cmd, ROOT, deadline - time.monotonic(), jvm_log)
    if code != 0 or not os.path.isfile(result):
        with open(jvm_log, errors="replace") as f:
            tail = f.readlines()[-15:]
        log(f"benchmark process failed (exit {code}); last log lines:\n" + "".join(tail))
        return None
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(res: dict, oracle_failures: dict) -> dict:
    """Fold check results into the ops, then compute the end-to-end metrics.
    A failed op (threw, or its output check failed) counts in `failed` and is
    kept out of every timing."""
    ops = res["ops"]
    for op in ops:
        if op["name"] in oracle_failures and not op["check_error"]:
            op["check_error"] = oracle_failures[op["name"]]
    failed = [op for op in ops if op["error"] or op["check_error"]]
    by_pass = {}
    for op in ops:
        if op["pass"] >= 0 and not (op["error"] or op["check_error"]):
            by_pass.setdefault(op["pass"], []).append(op)
    pass_s = [sum(o["seconds"] for o in v) for v in by_pass.values()]
    pass_pages = [sum(o["pages"] for o in v) for v in by_pass.values()]
    run_s = median(pass_s)
    facts = res["facts"]
    if res["workload"].startswith("kg_"):
        pages = median(pass_pages)
    else:
        pages = harness_data.ROWS["documents"]
    dedup = [sum(o["seconds"] for o in v if o["layer"] == "ops.dedup")
             for v in by_pass.values()]
    checks_ok = all(c["ok"] for c in res["checks"])
    resume = [op["seconds"] for op in ops if op["name"] == "kg_resume" and
              not (op["error"] or op["check_error"])]
    return {
        "attempted": len(ops), "failed": len(failed), "failed_ops": failed,
        "correct": checks_ok and not failed and bool(pass_s),
        "pass_s": pass_s,
        "metrics": {
            "setup_s": res["setup_s"],
            "run_s": run_s,
            "pages_per_s": pages / run_s if run_s > 0 else 0.0,
            "pr_min": min(facts["precision"], facts["recall"]),
            "peak_rss_mb": res["peak_rss_mb"],
        },
        "report_only": {
            "error_rate": len(failed) / len(ops) if ops else 1.0,
            "dedup_s": median(dedup) if res["workload"] == "harness" else None,
            "resume_s": median(resume) if resume else None,
        },
    }


def per_layer(res: dict, summary: dict) -> dict:
    m = dict(res.get("per_layer", {}))
    untraced = summary["metrics"]["run_s"]
    m["trace.run_s"] = res["traced_run_s"]
    m["trace.untraced_run_s"] = untraced
    m["trace.overhead_s"] = res["traced_run_s"] - untraced
    if "resume.trace.run_s" in m and summary["report_only"]["resume_s"] is not None:
        m["resume.trace.overhead_s"] = m["resume.trace.run_s"] - summary["report_only"]["resume_s"]
    # a layer the workload does not exercise did no work: 0
    return {name: float(m.get(name, 0.0)) for name, _ in PER_LAYER}


def report(res, summary, layers, out) -> None:
    def p(line=""):
        print(line, file=out)
    w, host = res["workload"], res["host"]
    p(f"workload {w}  seed {res['seed']}  passes {len(summary['pass_s'])} "
      f"(medians over passes)  warm-up {res['warmup_s']:.3f} s")
    p(f"host nproc={host['nproc']} master={host['master']} spark={host['spark_version']} "
      f"java={host['java_version']} heap_max_mb={host['heap_max_mb']} "
      f"busy_cores={host['busy_cores']:.2f} iowait_cores={host['iowait_cores']:.2f} "
      f"steal_cores={host['steal_cores']:.2f}")
    units = dict(END_TO_END)
    for k, v in summary["metrics"].items():
        p(f"  {k:<14} {v:14.4f} {units[k]}")
    p(f"  {'error_rate':<14} {summary['report_only']['error_rate']:14.4f} ratio "
      f"({summary['failed']} failed of {summary['attempted']} ops)")
    for k in ("dedup_s", "resume_s"):
        if summary["report_only"][k] is not None:
            p(f"  {k:<14} {summary['report_only'][k]:14.4f} s")
    for op in summary["failed_ops"][:10]:
        p(f"  FAILED {op['name']} pass {op['pass']}: {op['error'] or op['check_error']}")
    for c in res["checks"]:
        p(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} ({c['detail']})")
    if layers is not None:
        p("per-layer table (self_s: layer self time; spark numbers charged to the layer)")
        for row in res["layer_table"]:
            p("  " + "  ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                               for k, v in row.items()))
        units = dict(PER_LAYER)
        for k, v in layers.items():
            p(f"  {k:<32} {v:16.4f} {units[k]}")


def selftest(cp) -> int:
    """Injects a query that throws and one whose output check fails, and
    checks that both are reported as failed and kept out of the timing."""
    work = os.path.join(STATE, "work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = harness_tables(0)
        res = run_jvm(cp, "selftest", 0, 0, 0, work, [f"data={data}"],
                      time.monotonic() + RUN_LIMIT_S)
        if res is None:
            return 1
        bad = harness_check.compare(data, os.path.join(work, "check"), BENCH)
        s = summarize(res, bad)
        names = sorted(op["name"] for op in s["failed_ops"])
        ok_time = sum(op["seconds"] for op in res["ops"] if op["name"] == "q_ok")
        problems = []
        if (s["attempted"], s["failed"]) != (3, 2):
            problems.append(f"attempted/failed {s['attempted']}/{s['failed']} != 3/2")
        if names != ["q_throws", "q_wrong"]:
            problems.append(f"failed ops {names}")
        if s["correct"]:
            problems.append("run reported correct")
        if abs(s["metrics"]["run_s"] - ok_time) > 1e-9:
            problems.append(f"run_s {s['metrics']['run_s']} != q_ok time {ok_time}")
        for line in problems:
            print(f"selftest FAIL: {line}")
        if not problems:
            print(f"selftest ok: error_rate {s['report_only']['error_rate']:.4f}, "
                  f"run_s times q_ok only ({ok_time:.4f} s)")
        return 1 if problems else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.selftest:
        return selftest(cp)
    if a.workload is None:
        ap.error("--workload is required")
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = [f"pages={KG_PAGES}"]
        data = None
        if a.workload == "kg_batch":
            prune_kg_cache(a.seed, KG_CACHE_KEEP)
        if a.workload == "harness":
            data = harness_tables(a.seed)
            extra = [f"data={data}"]
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, extra, deadline)
        if res is None:
            return 1
        bad = {}
        if data is not None:
            bad = harness_check.compare(data, os.path.join(work, "check"), BENCH)
        s = summarize(res, bad)
        layers = per_layer(res, s) if a.trace else None
        results = os.path.join(STATE, "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        record = dict(res, summary={k: v for k, v in s.items() if k != "failed_ops"},
                      per_layer_metrics=layers)
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if a.trace:
            with open(os.path.join(results, f"{tag}.spans.jsonl"), "w") as f:
                for sp in res["spans"]:
                    f.write(json.dumps(sp) + "\n")
        report(res, s, layers, sys.stdout)
        units = dict(PER_LAYER if a.trace else END_TO_END)
        values = layers if a.trace else s["metrics"]
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        print(json.dumps({"correct": s["correct"], "attempted": s["attempted"],
                          "failed": s["failed"], "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
