#!/usr/bin/env python3
"""graftbench: the repository's benchmark.

usage: python3 graftbench/run.py --workload <etl_batch|stream_dedup|query_mix>
           --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's JVM program from source into .bench_build/ (sbt, offline); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
sized for the machine, measures for --seconds, checks every output, and
prints as its last line one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The line before it carries the run's facts and the metrics
under their workload-specific names. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_LIMIT_S = 160  # JVM deadline, counted after the build

# workload -> size passed to graftbench.Main (records sent / rows per second / unused)
WORKLOADS = {
    "etl_batch": 300000,
    "stream_dedup": 10000,
    "query_mix": 0,
}
# query_mix input: the engine's sf 0.01 test tables, as tools/check.py reads them
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
CHECK = os.path.join(ROOT, "tools", "check.py")

END_TO_END = {
    "setup_s": "s",
    "throughput": "1/s",
    "latency_p50_ms": "ms",
}

QUERIES = [
    "d02_ngram_jaccard", "d12_greedy_band_dedup", "s02_ann_lsh",
    "q01_pricing_summary", "r22_spearman_drift", "j20_range_enrich",
]

# per-layer metrics of the layers each workload exercises; a traced run that
# does not produce one of its own is not correct
LAYERS = {
    "etl_batch": [
        ("operators.generate_s", "s"), ("operators.inject_s", "s"),
        ("harness.topic_s", "s"), ("operators.dedup_s", "s"),
        ("operators.project_s", "s"), ("sources.sink_s", "s"),
        ("harness.verify_s", "s"),
        ("operators.dedup_shuffle_rows_per_input", "ratio"),
    ],
    "stream_dedup": [
        ("streaming.planning_ms_p50", "ms"), ("streaming.offset_log_ms_p50", "ms"),
        ("sources.batch_write_ms_p50", "ms"),
        ("streaming.state_update_ms_p50", "ms"), ("streaming.state_commit_ms_p50", "ms"),
        ("streaming.state_rows_end", "count"), ("streaming.state_mb_end", "MiB"),
        ("streaming.batch_ms_drift", "ratio"), ("streaming.schedule_lag_ms_max", "ms"),
        ("streaming.late_rows_dropped", "count"),
        ("streaming.dup_suppressed_ratio", "ratio"),
    ],
    "query_mix": [
        ("queries.build_s", "s"), ("queries.input_mb", "MiB"),
        ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
        ("queries.execute_s", "s"), ("queries.materialized_mb", "MiB"),
        ("mix.shared_s", "s"), ("mix.independent_s", "s"),
    ] + [(f"q.{q}.s", "s") for q in QUERIES],
}
EVERY_WORKLOAD = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.task_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MiB"),
    ("spark.spill_mb", "MiB"), ("jvm.peak_rss_mb", "MiB"),
    ("trace.overhead_ms", "ms"),
]
PER_LAYER = dict([m for w in WORKLOADS for m in LAYERS[w]] + EVERY_WORKLOAD)

# Workload-specific names for each workload's end-to-end metrics.
NAMED = {
    "etl_batch": {"etl_rps": ("throughput", "records/s")},
    "stream_dedup": {"stream_capacity_rps": ("throughput", "rows/s"),
                     "stream_batch_p50_ms": ("latency_p50_ms", "ms")},
    "query_mix": {"mix_queries_per_s": ("throughput", "1/s")},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".properties", ".sbt"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + graftbench.Main; cache the runtime classpath by source hash."""
    digest = source_hash()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts += " -Dsbt.offline=true -Xmx2g"
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp[-1] + "\n")
    return cp[-1]


def heap():
    """Half of physical memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_check(data_dir, out_dir, queries):
    """Runs tools/check.py, the engine's DuckDB oracle compare, on the dumped
    outputs. Returns {name: (ok, detail)} for each query and each of its
    input guards; a query it printed no line for fails."""
    p = subprocess.run([sys.executable, CHECK, data_dir, out_dir],
                       capture_output=True, text=True, timeout=120)
    result = {q: (False, "no line from tools/check.py") for q in queries}
    for line in p.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("PASS", "FAIL"):
            name = rest.split(" ")[0].rstrip(":")
            result[name] = (verdict == "PASS", rest)
    if p.returncode not in (0, 1):
        result["tools/check.py"] = (False, f"exit {p.returncode}: {p.stderr[-500:]}")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="override the workload's size")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a repository checkout")
    cp = build()
    started = time.time()

    size = args.size if args.size is not None else WORKLOADS[args.workload]
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "result.json")
        spans = os.path.join(BUILD, f"spans-{args.workload}-seed{args.seed}.jsonl")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{heap()}"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/tmp",
                f"-Dspark.sql.warehouse.dir={work}/warehouse",
                "-Dspark.ui.enabled=false",
                "-cp", cp, "graftbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--size", str(size),
                "--work", work, "--data", MIX_DATA, "--out", out, "--spans", spans]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"benchmark JVM failed ({rc}); log kept in {log}")
        with open(out) as f:
            res = json.load(f)

        checks = res["checks"]
        if args.workload == "query_mix":
            per_query = oracle_check(MIX_DATA, os.path.join(work, "mix_out"), QUERIES)
            bad = [q for q in QUERIES if not per_query[q][0]]
            passes = int(res["info"]["passes"])
            res["failed"] += passes * len(bad)
            checks += [{"name": f"oracle {q}", "ok": ok, "detail": d}
                       for q, (ok, d) in sorted(per_query.items())]
    except BaseException:
        print(f"graftbench: work directory kept in {work}", file=sys.stderr)
        raise
    shutil.rmtree(work, ignore_errors=True)

    got = {k: v["value"] for k, v in res["metrics"].items()}
    wanted = PER_LAYER if args.trace else END_TO_END
    own = set(END_TO_END) | {n for n, _ in LAYERS[args.workload] + EVERY_WORKLOAD}
    metrics, missing = {}, []
    for name, unit in wanted.items():
        # a per-layer metric of a layer this workload does not exercise
        # reads 0; one of its own layers must be measured
        v = got.get(name, None if name in own else 0.0)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            missing.append(name)
            continue
        metrics[name] = {"value": v, "unit": unit}

    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = (not missing and attempted >= 1 and failed == 0
               and all(c["ok"] for c in checks))
    named = {k: {"value": got.get(src), "unit": u}
             for k, (src, u) in NAMED[args.workload].items()}
    named["failed_ratio"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    named["setup_s"] = {"value": got.get("setup_s"), "unit": "s"}
    named["peak_rss_mb"] = {"value": got.get("jvm.peak_rss_mb"), "unit": "MiB"}
    print(json.dumps({"workload": args.workload, "named": named, "info": res["info"],
                      "checks_failed": [c for c in checks if not c["ok"]],
                      "checks": len(checks), "missing": missing,
                      "spans": spans if args.trace else None}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
