"""Metric derivations for the benchmark: latency statistics, interval
unions, spans with self time, and the per-layer sums of a traced run.

`run.py` feeds these the raw record the JVM side writes (`jvm.json`).
Times in the record are milliseconds; metrics leave here in the units
named in BENCHMARK.json."""
import statistics

MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, n), or None when there are fewer than
    `beyond` + 1 samples. With the samples sorted ascending, the value
    is the one at index n - beyond - 1, and the percentile is the share
    of samples at or below it."""
    n = len(xs)
    if n < beyond + 1:
        return None
    i = n - beyond - 1
    return 100.0 * (i + 1) / n, sorted(xs)[i], n


def best_pass(ops):
    """Wall time of one pass with each op at its fastest: the sum over
    op names of the least wall_ms among that op's runs."""
    best = {}
    for op in ops:
        best[op["name"]] = min(op["wall_ms"], best.get(op["name"], op["wall_ms"]))
    return sum(best.values())


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped_union(start, end, intervals):
    """Length of [start, end] covered by the intervals."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals])


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_ms"] - span["start_ms"]) - clipped_union(
        span["start_ms"], span["end_ms"],
        [(c["start_ms"], c["end_ms"]) for c in children])


def assign_stages(jobs, stages):
    """Map each submitted stage to the job that ran it: the job listing
    it whose interval holds its submission. A listed stage that no job
    ran in its own interval was skipped there (its output was reused)."""
    ran = {}
    for st in stages:
        if not st["submitted_ms"]:
            continue
        for j in jobs:
            if st["stage"] in j["stages"] and \
                    j["start_ms"] <= st["submitted_ms"] <= j.get("end_ms", j["start_ms"]):
                ran[st["stage"]] = j["job"]
                break
    return ran


def _trace(record):
    """The traced run's finished jobs, its stages by id, and the job
    that ran each stage."""
    trace = record["trace"] or {}
    jobs = [j for j in trace.get("jobs", []) if "end_ms" in j]
    stages = {s["stage"]: s for s in trace.get("stages", [])}
    return trace, jobs, stages, assign_stages(jobs, stages.values())


def spans(record):
    """Spans of the traced ops: op -> compose / execute -> job -> stage,
    each with its parent id and self time."""
    _, jobs, stages, ran = _trace(record)
    out = []
    for op in record["ops"]:
        if not op["traced"]:
            continue
        k = op["op"]
        o = {"id": f"op/{k}", "parent": None, "name": op["name"],
             "start_ms": op["start_ms"], "end_ms": op["start_ms"] + op["wall_ms"]}
        c_end = op["start_ms"] + op["compose_ms"]
        phases = [
            {"id": f"op/{k}/compose", "parent": o["id"], "name": "compose",
             "start_ms": op["start_ms"], "end_ms": c_end},
            {"id": f"op/{k}/execute", "parent": o["id"], "name": "execute",
             "start_ms": c_end, "end_ms": o["end_ms"]}]
        layer = [o] + phases
        for p in phases:
            kids = []
            for j in jobs:
                if j["span"] != f"{k}/{p['name']}":
                    continue
                js = {"id": f"job/{j['job']}", "parent": p["id"], "name": "job",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]}
                sts = [{"id": f"stage/{s}", "parent": js["id"], "name": "stage",
                        "start_ms": stages[s]["submitted_ms"],
                        "end_ms": max(stages[s]["completed_ms"], stages[s]["submitted_ms"])}
                       for s in j["stages"] if ran.get(s) == j["job"]]
                for s in sts:
                    s["self_ms"] = s["end_ms"] - s["start_ms"]
                js["self_ms"] = self_time(js, sts)
                kids.append(js)
                layer.extend([js] + sts)
            p["self_ms"] = self_time(p, kids)
        o["self_ms"] = self_time(o, phases)
        out.extend(layer)
    return out


def per_layer(record, cores):
    """Per-layer sums over each traced pass, then the median over
    traced passes. Returns {metric name: value}."""
    trace, jobs, stages, ran = _trace(record)
    stages_of = {}
    for s, j in ran.items():
        stages_of.setdefault(j, []).append(stages[s])
    passes = sorted({op["pass"] for op in record["ops"] if op["traced"]})
    per_pass = []
    for p in passes:
        ops = [op for op in record["ops"] if op["traced"] and op["pass"] == p]
        ks = {op["op"] for op in ops}
        pj = [j for j in jobs if j["op"] in ks]
        st = [s for j in pj for s in stages_of.get(j["job"], [])]
        compose_jobs = [j for j in pj if (j["span"] or "").endswith("/compose")]
        plans = [q for q in trace.get("plans", []) if q["op"] in ks]
        progress = [e for e in trace.get("streams", [])
                    if e["op"] in ks and e["event"] == "progress"]
        writes = [w for w in record["writes"] if w["op"] in ks]
        job_wall = sum(clipped_union(op["start_ms"], op["start_ms"] + op["wall_ms"],
                                     [(j["start_ms"], j["end_ms"]) for j in pj
                                      if j["op"] == op["op"]]) for op in ops)
        op_wall = sum(op["wall_ms"] for op in ops)
        task_ms = sum(s["task_ms"] for s in st)
        m = {
            "queries.compose_ms": sum(op["compose_ms"] for op in ops),
            "queries.compose_jobs": len(compose_jobs),
            "queries.compose_task_ms": sum(s["task_ms"] for j in compose_jobs
                                           for s in stages_of.get(j["job"], [])),
            "plans.analysis_ms": sum(q["analysis_ms"] for q in plans),
            "plans.optimization_ms": sum(q["optimization_ms"] for q in plans),
            "plans.planning_ms": sum(q["planning_ms"] for q in plans),
            "plans.executions": len(plans),
            "exec.jobs": len(pj),
            "exec.stages": len(st),
            "exec.stages_skipped": sum(len(j["stages"]) for j in pj) - len(st),
            "exec.tasks": sum(s["tasks"] for s in st),
            "exec.job_wall_ms": job_wall,
            "exec.task_ms": task_ms,
            "exec.task_cpu_ms": sum(s["cpu_ms"] for s in st),
            "exec.max_task_ms": max([s["max_task_ms"] for s in st], default=0),
            "exec.task_wait_ms": sum(s["wait_ms"] for s in st),
            "exec.task_failures": sum(s["failures"] for s in st),
            "exec.input_mb": sum(s["input_bytes"] for s in st) / MB,
            "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in st) / MB,
            "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in st) / MB,
            "exec.spill_mb": sum(s["spill_bytes"] for s in st) / MB,
            "exec.output_mb": sum(s["output_bytes"] for s in st) / MB,
            "exec.core_util": task_ms / (job_wall * cores) if job_wall else 0.0,
            "driver.gap_ms": op_wall - job_wall,
            "driver.gap_frac": (op_wall - job_wall) / op_wall if op_wall else 0.0,
            "jvm.gc_ms": sum(op["gc_ms"] for op in ops),
            "caching.retained": sum(op.get("retained", 0) for op in ops),
            "caching.cached_mb": sum(op.get("cached_bytes", 0) for op in ops) / MB,
            "sources.write_ms": sum(w["ms"] for w in writes),
            "sources.write_calls": len(writes),
            "sources.files_written": sum(w.get("files", 0) for w in writes),
            "sources.bytes_written_mb": sum(w.get("bytes", 0) for w in writes) / MB,
            "streaming.queries": sum(1 for e in trace.get("streams", [])
                                     if e["op"] in ks and e["event"] == "started"),
            "streaming.batches": len(progress),
            "streaming.trigger_ms": sum(e["trigger_ms"] for e in progress),
            "streaming.add_batch_ms": sum(e["add_batch_ms"] for e in progress),
            "streaming.planning_ms": sum(e["planning_ms"] for e in progress),
            "streaming.log_commit_ms": sum(e["log_commit_ms"] for e in progress),
            "streaming.state_rows": sum(e["state_rows"] for e in progress),
            "streaming.state_commit_ms": sum(e["state_commit_ms"] for e in progress),
            "streaming.state_mem_mb": max([e["state_mem_bytes"] for e in progress],
                                          default=0) / MB,
            "scan_bytes": sum(q["scan_bytes"] for q in plans),
        }
        per_pass.append(m)
    return {k: median([m[k] for m in per_pass]) for k in (per_pass[0] if per_pass else {})}


def op_breakdown(record):
    """Per traced op (by name): wall, composition, Catalyst and driver
    gap, in ms, with job counts; medians over the op's traced runs."""
    trace, jobs, _, _ = _trace(record)
    plans = trace.get("plans", [])
    rows = {}
    for op in record["ops"]:
        if not op["traced"]:
            continue
        k = op["op"]
        oj = [j for j in jobs if j["op"] == k]
        job_wall = clipped_union(op["start_ms"], op["start_ms"] + op["wall_ms"],
                                 [(j["start_ms"], j["end_ms"]) for j in oj])
        rows.setdefault(op["name"], []).append({
            "wall_ms": op["wall_ms"], "compose_ms": op["compose_ms"],
            "catalyst_ms": sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
                               for q in plans if q["op"] == k),
            "gap_ms": op["wall_ms"] - job_wall,
            "jobs": len(oj),
            "compose_jobs": sum(1 for j in oj if (j["span"] or "").endswith("/compose"))})
    return {name: {key: median([r[key] for r in rs]) for key in rs[0]}
            for name, rs in rows.items()}
