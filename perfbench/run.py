#!/usr/bin/env python3
"""End-to-end benchmark of the OSDB workflow and an operator-registry slice.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine is compiled from source on
the first run (perfbench/build.py). One JVM runs one workload; inputs
come from --seed; every output is checked. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics; --trace 1 attaches listeners and reports
the per-layer metrics. The line before it tags the run (cpus, heap,
Spark version, source revision, seed, input sizes). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402

# a fixed heap and young generation: with G1's adaptive sizing the
# resident set of identical runs differed by a third
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
DEADLINE_S = 170.0
# nested-lake size in fixture events; each carries 4-8 datapoints of
# 125 + 375 samples
LAKE_EVENTS = 60
# registry tables: events, documents, embeddings rows
REGISTRY_ROWS = (10000, 1000, 1000)
TOOLS = ["select", "flatten", "runseq", "testrunner", "summarise"]
GROUPS = ["dedup", "similarity", "graph", "text", "lake", "report", "stream"]
SPANS = [f"run.{t}" for t in TOOLS] + [f"ops.{g}" for g in GROUPS]
SPAN_COUNTERS = [("wall_s", "s"), ("plan_s", "s"), ("jobs", "count"),
                 ("tasks", "count"), ("task_s", "s"), ("driver_gap_s", "s"),
                 ("shuffle_mb", "MB")]
WIDE = [("codegen_s", "s"), ("codegen_classes", "count"), ("gc_s", "s"),
        ("spill_mb", "MB"), ("output_mb", "MB"), ("residual_blocks", "count"),
        ("failed_tasks", "count"), ("trace_overhead_frac", "frac"),
        ("st.batches", "count"), ("st.add_batch_s", "s"), ("st.planning_s", "s"),
        ("st.wal_commit_s", "s"), ("st.commit_offsets_s", "s"),
        ("failed_frac", "frac")]
PER_LAYER = [(f"{s}.{c}", u) for s in SPANS for c, u in SPAN_COUNTERS] + WIDE
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def applicable(workload):
    """The per-layer names a workload's traced run measures."""
    if workload == "registry_ops":
        spans = [f"ops.{g}" for g in GROUPS]
        wide = [n for n, _ in WIDE]
    else:
        spans = [f"run.{t}" for t in TOOLS]
        wide = [n for n, _ in WIDE if not n.startswith("st.")]
    return {f"{s}.{c}" for s in spans for c, _ in SPAN_COUNTERS} | set(wide)


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    with open(os.path.join(build.BUILD, "classes.digest")) as f:
        return "src-sha256:" + f.read()[:16]


def run_jvm(classes, work, argv, budget):
    jars = os.path.join(build.spark_jars(), "*")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"), jars])
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "org.apache.spark.sql.perfbench.PerfBench"] + argv
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): the JVM runs in its own session
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed: {rc}")


def oracle_counts(tables, oracles):
    import duckdb
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return {n: con.execute(f"SELECT COUNT(*) FROM ({sql}) q").fetchone()[0]
            for n, sql in oracles.items()}


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_small", "registry_ops"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.ensure_built()
    t_start = time.monotonic()  # the deadline leaves the first build out
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        argv = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--out", os.path.join(work, "result.json"),
                "--conf", os.path.join(ROOT, "src", "main", "resources", "osdb")]
        gen_s = 0.0
        sizes = {}
        if args.workload == "registry_ops":
            import gen_tables
            tables = os.path.join(work, "tables")
            t0 = time.monotonic()
            gen_tables.generate(tables, args.seed, *REGISTRY_ROWS)
            gen_s = time.monotonic() - t0
            sizes = dict(zip(("events", "documents", "embeddings"), REGISTRY_ROWS))
            sizes["bytes"] = sum(os.path.getsize(os.path.join(tables, f))
                                 for f in os.listdir(tables))
            argv += ["--tables", tables]
        else:
            argv += ["--events", str(LAKE_EVENTS)]
        budget = DEADLINE_S - (time.monotonic() - t_start)
        t0 = time.monotonic()
        run_jvm(classes, work, argv, budget)
        jvm_s = time.monotonic() - t0
        with open(os.path.join(work, "result.json")) as f:
            r = json.load(f)

        ops = r["ops"]
        for o in ops:
            sys.stderr.write(f"{o['iter']:>3} {'traced' if o['traced'] else 'plain ':6} "
                             f"{o['name']:<22} {o['seconds']:8.3f} s {o['rows']:>8} rows\n")
        t0 = time.monotonic()
        if args.workload == "registry_ops":
            want = oracle_counts(tables, r["oracles"])
            for o in ops:
                if not o["error"] and o["rows"] != want[o["name"]]:
                    o["error"] = f"rows {o['rows']} != oracle {want[o['name']]}"
        else:
            sizes = r["lake"]
        sys.stderr.write(f"session {r['session_s']:.1f} s, set-up parts "
                         f"{', '.join(f'{b:.1f}' for b in r['setup_parts_s'])} s\n")
        sys.stderr.write(f"jvm {jvm_s:.1f} s, checks {time.monotonic() - t0:.1f} s, "
                         f"total {time.monotonic() - t_start:.1f} s\n")
        failed = [o for o in ops if o["error"]]
        for o in failed:
            sys.stderr.write(f"FAILED {o['name']} (iteration {o['iter']}): {o['error']}\n")
        attempted = len(ops)
        failed_frac = len(failed) / attempted if attempted else 1.0

        sys.stderr.write("passes: " + ", ".join(f"{w:.2f}" for w in r["pass_s"]) + " s\n")
        if args.trace == 0:
            m = {"setup_s": metric(r["setup_s"] + gen_s, "s"),
                 "pass_s": metric(statistics.mean(r["pass_s"]), "s"),
                 "peak_rss_mb": metric(r["peak_rss_mb"], "MB"),
                 "ok_frac": metric(1.0 - failed_frac, "frac")}
        else:
            layers = r["layers"]
            before, traced, after = r["overhead_s"]
            layers["trace_overhead_frac"] = traced / ((before + after) / 2) - 1.0
            sys.stderr.write("overhead: untraced, traced, untraced " + ", ".join(
                f"{w:.2f}" for w in r["overhead_s"]) + " s\n")
            layers["failed_frac"] = failed_frac
            # -1 marks a layer this workload does not run; a measured
            # value is never negative (the overhead aside, which applies
            # to both workloads)
            mine = applicable(args.workload)
            m = {n: metric(layers.get(n, 0.0) if n in mine else -1.0, u)
                 for n, u in PER_LAYER}

        tag = {"workload": args.workload, "seed": args.seed, "cpus": r["cpus"],
               "heap_mb": r["heap_mb"], "spark_version": r["spark_version"],
               "revision": revision(), "inputs": sizes, "trace": args.trace}
        print(json.dumps({"record": tag}))
        print(json.dumps({"correct": not failed, "attempted": attempted,
                          "failed": len(failed), "metrics": m}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
