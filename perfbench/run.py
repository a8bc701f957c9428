#!/usr/bin/env python3
"""Benchmark of the graft Airbnb pipeline and its query registry.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (all on local[4], one client in a closed loop):

  pipeline_batch   AirbnbPipeline.run over a seeded twelve-file corpus, then
                   staging, fact and the four KPI views forced with noop.
  refresh_serve    Refresh.refreshFact ticks on an eleven-month committed
                   fact, each followed by month-scoped dashboard reads of
                   the four Datamart views over Refresh.fact.
  registry_sample  a fixed family-stratified sample of SparkEntry.queries
                   over seeded TPC-H-shaped tables, DuckDB-oracle checked.

The program is built from the checkout's source on first use (sbt, into
target/ directories the build already ignores). Inputs are generated from
the seed under .bench_build/. The last line of stdout is the result JSON;
the full artifact (host fingerprint, corpus stats, failure causes, DuckDB
yardstick) is written to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_batch", "registry_sample")

# The metrics each mode prints, as recorded in BENCHMARK.json.
END_TO_END = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s"}
LAYERS = ("ingest.header_probe", "staging.dims", "staging.listing", "warehouse.fact",
          "datamart.kpi_neighbourhood", "datamart.kpi_neighbourhood_raw",
          "datamart.kpi_property_type", "datamart.kpi_host", "refresh.tick", "registry.query")
CORE = {"wall_s": "s", "jobs": "count", "stages": "count", "cpu_s": "s", "gc_s": "s",
        "sched_wait_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
        "codegen_compiles": "count"}
PER_LAYER = {f"{layer}.{m}": u for layer in LAYERS for m, u in CORE.items()}
PER_LAYER.update({
    "pipeline.plan_s": "s", "pipeline.unattributed_s": "s", "pipeline.traced_wall_s": "s",
    "trace.drain_s": "s",
    "staging.listing.rows_in": "count", "staging.listing.rows_out": "count",
    "staging.listing.keep_frac": "ratio", "warehouse.fact.rows_out": "count",
    "warehouse.resident_cache_mb": "MB",
    "datamart.kpi_neighbourhood.exchanges": "count",
    "datamart.kpi_neighbourhood_raw.exchanges": "count",
    "datamart.kpi_property_type.exchanges": "count",
    "datamart.kpi_host.exchanges": "count",
    "refresh.tick.output_mb": "MB", "refresh.tick.files_written": "count",
    "refresh.tick.rows_written_per_new_row": "ratio",
    "refresh.fact_bytes_per_raw_byte": "ratio",
    "refresh.read.wall_s": "s", "refresh.read.files_read_frac": "ratio",
    "registry.query.exchanges": "count", "registry.query.broadcasts": "count",
    "registry.query.rdd_scans": "count", "registry.block_mb_after": "MB",
    "registry.traced_wall_s": "s",
})


def select_metrics(measured, trace):
    """The mode's metric set. A per-layer metric of a layer the workload
    does not run is reported as 0; a missing end-to-end metric is an error."""
    wanted = PER_LAYER if trace else END_TO_END
    out = {}
    for name, unit in wanted.items():
        m = measured.get(name)
        if m is None:
            if not trace:
                raise SystemExit(f"end-to-end metric {name} was not measured")
            m = {"value": 0.0, "unit": unit}
        if m["unit"] != unit or m["value"] is None:
            raise SystemExit(f"metric {name}: bad unit or value {m}")
        out[name] = {"value": m["value"], "unit": unit}
    return out

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Newest mtime and a content digest over everything the build reads."""
    digest = hashlib.sha256()
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
            digest.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    return newest, digest.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    newest, _ = sources_stamp()
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest:
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building (sbt writeClasspath)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, workload, seed, seconds, trace, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Duser.language=en", "-Duser.country=US",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            str(trace), work, out]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=170)
    if p.returncode != 0 or not os.path.isfile(out):
        sys.stderr.write(p.stderr[-6000:])
        raise SystemExit(f"{workload} run failed (exit {p.returncode})")
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    with open(out) as f:
        return json.load(f)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a checkout of the program: {need} is missing under {ROOT}")

    cp = build()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # DuckDB and the table generator are needed only by the registry gate
    # and the traced batch run's yardstick
    gates = None
    if args.workload == "registry_sample" or args.trace:
        import gates  # noqa: E402  (sibling module)

    prep = {}
    if args.workload == "registry_sample":
        prep = gates.make_tables(os.path.join(work, "tables"), args.seed)
        log("tables generated")
    res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work,
                  os.path.join(work, "result.json"))
    log("jvm done")
    info = res["info"]
    info.update(prep)
    if args.workload == "registry_sample":
        fails = gates.oracle_compare(os.path.join(work, "tables"), os.path.join(work, "out"))
        res["attempted"] += len(json.load(open(os.path.join(work, "out", "oracle_sql.json"))))
        res["failed"] += len(fails)
        res["failures"] += fails
    if args.workload == "pipeline_batch" and args.trace == 1:
        info.update(gates.duckdb_yardstick(os.path.join(work, "raw")))
    log("checks done")
    _, src_digest = sources_stamp()
    info["git_sha"] = git_sha() or "unavailable"
    info["source_sha256"] = src_digest
    info["workload"] = args.workload
    info["trace"] = str(args.trace)
    info["seconds"] = str(args.seconds)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    spans = os.path.join(work, "spans.json")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(WORK, "results",
                                        f"{args.workload}-{args.seed}-spans.jsonl"))
    for cause in res["failures"]:
        log(f"failure: {cause}")
    print(json.dumps({"perfbench_info": info}, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": select_metrics(res["metrics"], args.trace),
    }))


if __name__ == "__main__":
    main()
