#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
Tests of the metric derivations and of the catalog fixture:
    python3 -m unittest discover -s perfbench -p 'test_*.py'

Builds graft and the benchmark's JVM harness when the sources changed
(sbt, in perfbench/), generates the fixture, runs the harness (one
graft session at local[nproc], ops run back to back), checks the
outputs (DuckDB oracle for catalog and stream ops; the taxi check plus
a rank bound on the p99 threshold for the taxi pipeline), and prints
three JSON lines: the run's context (seed, nproc, load average, CPU
steal, source digest), every end-to-end metric with its unit, and
last

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics BENCHMARK.json gates
(--trace 0) or its per-layer metrics (--trace 1). A traced run also
writes its spans to perfbench/.work/<workload>/spans.jsonl.

workloads.json defines each workload: its `kind` (catalog queries or
the taxi pipeline) and, for catalog workloads, its `ops`. The timed
region is a fixed number of whole passes over the ops, as many as fill
--seconds at PASS_S a pass and at least three, so a run does the same
work on every commit, and the per-pass statistics below (each op's
fastest run, medians) leave out the first, slowest pass.

End-to-end metrics:
  setup_s   process start to the first timed op, less the check's
            own work: fixture generation, JVM start-up,
            GraftSession.create, Tables.table of every fixture table
            (cold, then again through graft's memo) and the warm pass
            that runs every op once, cold; the warm pass's writes of
            the outputs for the check are timed apart (dump_s in the
            context line);
  wall_s    wall time of one pass over the ops, each op at its fastest
            over the passes: interference from other processes and
            from JIT compilation only adds time, and this was the
            steadiest of the pass statistics tried (median pass, last
            pass, summed per-op medians) across seeds;
  op_p50_s  median op latency; op_tail_s the highest percentile with
            ten samples beyond it (both printed);
  ops_failed_frac, outputs_wrong (printed; also `failed`, `correct`);
  retained_heap_mb  heap left by full collections after the timed
            region;
  cpu_s     the JVM's CPU time in one pass (all threads, the
            executors' included), less the JIT compiler's, which is
            printed apart as jit_cpu_s; medians over the passes
            (printed).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

# The catalog fixture's data is the same in every run: it is the data
# test_fixture.py checks against the harness tables' profile, and
# catalog ops that iterate to a fixed point (ANF saturation, k-core
# peeling) take a number of rounds, and so of jobs, that depends on the
# generated graph. The run's seed permutes the op order instead. The
# taxi month's data does follow the seed.
CATALOG_DATA_SEED = 42
CATALOG_SF = 0.01
TAXI_ROWS = 100000
# about one pass of either workload, in seconds, on a 4-vCPU VM
PASS_S = 2.5
# a fixed heap, whatever the environment asks of graft's own runs; no
# hsperfdata file outside the checkout; compiler threads that live for
# the whole run, so that the harness can take their CPU time apart.
# Six compiler threads instead of the three HotSpot picks for four
# CPUs: JIT compilation is still running at the end of a run, and how
# far it got varied the pass times of the taxi workload by 13-24%
# between runs (IQR/median over five seeds) with three threads and by
# 4.5% with six, on a 4-vCPU VM.
JVM_OPTS = ["-Xmx4g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:CICompilerCount=6"]
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "tools/check_oracle.py", "tools/check_taxi_year.py"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    files = ["build.sbt", "perfbench/build.sbt"]
    for d in ["project", "src/main", "perfbench/project", "perfbench/src"]:
        files += [os.path.relpath(p, ROOT) for p in
                  glob.glob(os.path.join(ROOT, d, "**", "*"), recursive=True)
                  if os.path.isfile(p) and "/target/" not in p]
    for rel in sorted(set(files)):
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(work_root, digest):
    """Compile graft and the harness; returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(work_root, "build.sha")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        log = os.path.join(work_root, "build.log")
        with open(log, "w") as out:
            tmp = os.path.join(work_root, "tmp")
            os.makedirs(tmp, exist_ok=True)
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                f"-Djava.io.tmpdir={tmp}", "launcher"],
                               cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S)
        if r.returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def passes(seconds):
    return max(3, round(seconds / PASS_S))


def generate(spec, seed, work):
    """Generate the fixture; returns its directory and the time taken
    in ms."""
    import fixture
    d = os.path.join(work, "fixture")
    t0 = time.perf_counter()
    if spec["kind"] == "taxi":
        fixture.taxi_month(os.path.join(d, "taxi.parquet"), seed, TAXI_ROWS)
    else:
        fixture.catalog(d, CATALOG_DATA_SEED, CATALOG_SF)
    return d, (time.perf_counter() - t0) * 1000.0


def cpu_times():
    """The machine's (total, steal) CPU jiffies, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, jvm_opts, spec, args, work, fixture_dir, cores, deadline):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, *jvm_opts, *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Harness",
           f"kind={spec['kind']}", f"ops={','.join(spec.get('ops', []))}",
           f"fixture={fixture_dir}", f"work={work}", f"seed={args.seed}",
           f"passes={passes(args.seconds)}", f"trace={args.trace}", f"cores={cores}"]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness timed out")
    record_path = os.path.join(work, "jvm.json")
    if p.returncode != 0 or not os.path.exists(record_path):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {p.returncode}")
    return json.load(open(record_path))


def check_catalog(spec, work, fixture_dir, deadline):
    """Oracle-compare every op's dumped output; returns the wrong ops."""
    ops = spec["ops"]
    oracle = json.load(open(os.path.join(work, "out", "oracle_sql.json")))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        fixture_dir, os.path.join(work, "out"), *ops],
                       capture_output=True, text=True, cwd=work,
                       timeout=max(1.0, deadline - time.time()))
    ok = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("OK ")}
    wrong = [n for n in ops if n not in ok or n not in oracle]
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"perfbench: {line}", file=sys.stderr)
    return wrong, {}


def check_taxi(work, fixture_dir, deadline):
    """The taxi check over the last pass's sink, plus the p99 rank bound
    that the check itself leaves open (it re-derives the threshold from
    the output)."""
    import duckdb
    raw = os.path.join(fixture_dir, "taxi.parquet")
    sink = os.path.join(work, "sink")
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_taxi_year.py"),
                        raw, sink], capture_output=True, text=True, cwd=work,
                       timeout=max(1.0, deadline - time.time()))
    wrong = [line.split()[1].rstrip(":") for line in r.stdout.splitlines()
             if line.startswith("FAIL")]
    if r.returncode != 0 and not wrong:
        wrong = ["taxi_check"]
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"perfbench: {line}", file=sys.stderr)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/tmp'")
    notnull = " AND ".join(f'"{c}" IS NOT NULL' for c in TAXI_BASE)
    con.execute(f"CREATE VIEW clean AS SELECT fare_amount FROM "
                f"read_parquet('{raw}/*.parquet') WHERE {notnull}")
    thr, anomalies = con.execute(
        f"SELECT min(fare_amount), count(*) FROM "
        f"read_parquet('{sink}/fare_anomalies/*.parquet')").fetchone()
    n, below, at_or_below = con.execute(
        f"SELECT count(*), count(*) FILTER (fare_amount < {thr!r}), "
        f"count(*) FILTER (fare_amount <= {thr!r}) FROM clean").fetchone()
    rank_err = rank_error(0.99, n, below, at_or_below)
    # GK's bound is 0.01 * n ranks; one rank of slack absorbs rounding
    if rank_err * n > 0.01 * n + 1:
        print(f"perfbench: FAIL fare_anomalies threshold {thr} has rank error "
              f"{rank_err:.4f} > 0.01", file=sys.stderr)
        wrong.append("fare_anomalies_rank")
    return wrong, {"taxi.clean_rows": n, "taxi.anomaly_rows": anomalies,
                   "taxi.threshold_rank_err": rank_err}


TAXI_BASE = ["VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
             "passenger_count", "trip_distance", "RatecodeID",
             "store_and_fwd_flag", "PULocationID", "DOLocationID",
             "payment_type", "fare_amount", "extra", "mta_tax", "tip_amount",
             "tolls_amount", "improvement_surcharge", "total_amount",
             "congestion_surcharge", "Airport_fee"]


def rank_error(q, n, below, at_or_below):
    """Distance, as a share of n, from the target rank q*n to the ranks
    [below + 1, at_or_below] that the returned value occupies."""
    target = q * n
    if below + 1 <= target <= at_or_below:
        return 0.0
    return min(abs(below + 1 - target), abs(at_or_below - target)) / n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for rel in REQUIRED:
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of a graft checkout")
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; have {sorted(workloads)}")
    spec = workloads[args.workload]

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    digest = source_digest()
    cp, jvm_opts = build(work_root, digest)

    deadline = time.time() + RUN_DEADLINE_S
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    cores = len(os.sched_getaffinity(0))
    fixture_dir, gen_ms = generate(spec, args.seed, work)
    record = run_jvm(cp, jvm_opts, spec, args, work, fixture_dir, cores, deadline)
    load_end = os.getloadavg()
    cpu_end = cpu_times()
    steal = (cpu_end[1] - cpu_start[1]) / max(1, cpu_end[0] - cpu_start[0]) \
        if cpu_start and cpu_end else None

    if spec["kind"] == "taxi":
        wrong, checked = check_taxi(work, fixture_dir, deadline)
    else:
        wrong, checked = check_catalog(spec, work, fixture_dir, deadline)
    wrong += [f"warm:{n}" for n in record["warm_failed"]]

    ops = [op for op in record["ops"] if not (args.trace and op["traced"])]
    walls = [op["wall_ms"] / 1000.0 for op in ops]
    failed = sum(1 for op in record["ops"] if not op["ok"])
    attempted = len(record["ops"])
    setup_s = (gen_ms + record["boot_ms"] + record["session_ms"] + record["first_load_ms"]
               + record["repeat_load_ms"] + record["warm_ms"]) / 1000.0
    t = metrics.tail(walls)
    untraced_passes = [p for p in record["passes"] if not p["traced"]]
    # the seven end-to-end metrics and the JVM's CPU time per pass.
    # BENCHMARK.json gates wall_s, retained_heap_mb and setup_s. Not
    # gated: op_tail_s, which needs ten samples beyond its percentile;
    # ops_failed_frac and outputs_wrong, which are 0 while graft is
    # correct, so no share of them bounds a change (they set `failed`
    # and `correct`); op_p50_s and cpu_s, whose spread between runs
    # reached two thirds of the largest bound allowed, and more under
    # CPU steal
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (metrics.best_pass(ops) / 1000.0, "s"),
        "op_p50_s": (metrics.median(walls), "s"),
        "op_tail_s": (t[1] if t else None, "s"),
        "ops_failed_frac": (failed / attempted, "ratio"),
        "outputs_wrong": (len(wrong), "count"),
        "retained_heap_mb": (record["retained_heap_mb"], "MB"),
        "cpu_s": (metrics.median([p["cpu_ms"] - p["jit_cpu_ms"]
                                  for p in untraced_passes]) / 1000.0, "s"),
        "jit_cpu_s": (metrics.median([p["jit_cpu_ms"] for p in untraced_passes]) / 1000.0, "s"),
    }
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "source_sha": digest, "nproc": cores,
        "loadavg_start": list(load_start), "loadavg_end": list(load_end),
        "cpu_steal_frac": steal,
        "passes": len(record["passes"]), "ops_per_pass": len(spec.get("ops", [1])),
        "dump_s": record["dump_ms"] / 1000.0,
        "op_tail_percentile": round(t[0], 1) if t else None,
        "op_tail_n": len(walls), "wrong": wrong,
    }

    if args.trace:
        layer = metrics.per_layer(record, cores)
        raw_bytes = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(fixture_dir, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p))
        scan_bytes = layer.pop("scan_bytes", 0.0)
        traced_passes = [p for p in record["passes"] if p["traced"]]
        traced = [p["wall_ms"] for p in traced_passes]
        untraced = [p["wall_ms"] for p in untraced_passes]
        layer.update({
            "plans.codegen_compiles": metrics.median(
                [p["codegen_compiles"] for p in traced_passes]),
            "jvm.jit_cpu_ms": metrics.median([p["jit_cpu_ms"] for p in traced_passes]),
            "setup.session_ms": record["session_ms"],
            "setup.fixture_ms": gen_ms,
            "setup.warm_ms": record["warm_ms"],
            "tables.first_load_ms": record["first_load_ms"],
            "tables.repeat_load_ms": record["repeat_load_ms"],
            "taxi.clean_rows": checked.get("taxi.clean_rows", 0),
            "taxi.scan_ratio": scan_bytes / raw_bytes if spec["kind"] == "taxi" else 0.0,
            "taxi.anomaly_rows": checked.get("taxi.anomaly_rows", 0),
            "taxi.threshold_rank_err": checked.get("taxi.threshold_rank_err", 0.0),
            "trace.overhead_frac": (metrics.median(traced) - metrics.median(untraced))
            / metrics.median(untraced),
        })
        out_metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                       for m in bench["per_layer"]}
        spans = metrics.spans(record)
        with open(os.path.join(work, "spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        context["spans"] = len(spans)
        context["ops"] = metrics.op_breakdown(record)
        context["traced_pass_wall_s"] = metrics.median(traced) / 1000.0
        context["untraced_pass_wall_s"] = metrics.median(untraced) / 1000.0
    else:
        out_metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}

    summary = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"context": context, "end_to_end": summary,
                   "metrics": out_metrics}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({"end_to_end": summary}))
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
