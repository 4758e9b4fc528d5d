"""Turns one harness record (and, for a traced run, its span file) into the
benchmark's metrics. Pure functions only, so `test_report.py` can check them
without a JVM."""

import statistics

# name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "storage_peak_mb": "MB",
}

# per-pass layer metrics; each is reported as cold.<name> and warm.<name>
LAYER = {
    "entry.construct_s": "s",
    "driver.cpu_s": "s",
    "operators.eager_jobs": "count",
    "operators.eager_job_s": "s",
    "operators.eager_tasks": "count",
    "plan.s": "s",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "plan.depth": "count",
    "plan.codegen_fallbacks": "count",
    "action.jobs": "count",
    "action.job_s": "s",
    "action.stages": "count",
    "action.tasks": "count",
    "tasks.run_s": "s",
    "tasks.cpu_s": "s",
    "tasks.gc_s": "s",
    "tasks.sched_wait_s": "s",
    "tasks.failed": "count",
    "tasks.core_util": "ratio",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.rows_per_result": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "cache.cached_rdds": "count",
    "cache.cached_scans": "count",
    "cache.stage_skip_ratio": "ratio",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.classes_loaded": "count",
    "jvm.rss_peak_mb": "MB",
    "host.calib_s": "s",
    "host.steal_cores": "cores",
}

# cold-pass times of single queries that optimisations target: query -> metric
QUERY_COLD = {"minhash_pairs": "query.minhash_pairs.cold_s"}


def per_layer_units():
    units = {f"{kind}.{name}": unit for kind in ("cold", "warm") for name, unit in LAYER.items()}
    units.update({name: "s" for name in QUERY_COLD.values()})
    units["trace.overhead_ratio"] = "ratio"
    return units


MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs)


def settled(warm):
    """The warm passes that count: the first third, rounded up, is dropped,
    because JIT and codegen keep the first passes falling."""
    return warm[-(-len(warm) // 3):]


def split_passes(record):
    passes = record["passes"]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm"]
    if len(cold) != 1 or len(warm) < 2:
        raise ValueError(f"need one cold and at least two warm passes, got {len(cold)} and {len(warm)}")
    return cold[0], warm


def end_to_end(record):
    cold, warm = split_passes(record)
    timed = [p for p in settled(warm) if not p["traced"]] or settled(warm)
    return {
        "setup_s": record["setup_s"],
        "cold_s": cold["wall_s"],
        "warm_s": median([p["wall_s"] for p in timed]),
        "cold_cpu_s": cold["cpu_s"],
        "warm_cpu_s": median([p["cpu_s"] for p in timed]),
        "storage_peak_mb": max(p["storage_peak_mb"] for p in record["passes"]),
    }


def check_failures(checks, expected):
    """Query name -> reason, for every query whose output check did not
    match the expected row count and content hash."""
    bad = {}
    for c in checks:
        exp = expected.get(c["name"])
        if c["status"] != "ok":
            bad[c["name"]] = c.get("error", c["status"])
        elif exp is None:
            bad[c["name"]] = "no expected value"
        elif (c["rows"], c["hash"]) != (exp["rows"], exp["hash"]):
            bad[c["name"]] = f"rows/hash {c['rows']}/{c['hash']} != {exp['rows']}/{exp['hash']}"
    return bad


def accounting(record, queries, expected):
    """(attempted, failed, reasons). An attempt fails if it threw, missed the
    deadline, or belongs to a query whose output check failed."""
    bad = check_failures(record.get("check", []), expected)
    checked = {c["name"] for c in record.get("check", [])}
    for q in queries:
        if q not in checked:
            bad.setdefault(q, "not checked")
    attempted = failed = 0
    reasons = dict(bad)
    for p in record["passes"]:
        for q in p["queries"]:
            attempted += 1
            if q["status"] != "ok" or q["name"] in bad:
                failed += 1
                if q["status"] != "ok":
                    reasons.setdefault(q["name"], f"{q['status']}: {q.get('error', '')}")
    return attempted, failed, reasons


# ------------------------------------------------------------------ spans

def covered(interval, children):
    """Length of the part of `interval` that the union of `children`
    (start, end) intervals covers."""
    lo, hi = interval
    cut = sorted((max(lo, s), min(hi, e)) for s, e in children if min(hi, e) > max(lo, s))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in cut:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - covered((span["start"], span["end"]),
                                                   [(c["start"], c["end"]) for c in children])


def index_spans(spans):
    """Attach job and plan records to the construct/action span they ran in.
    Jobs carry their span id as a Spark local property; a job started from a
    thread that did not inherit it is placed by its start time."""
    by_id = {s["id"]: s for s in spans if s["kind"] not in ("job", "plan")}
    phases = sorted((s for s in by_id.values() if s["kind"] in ("construct", "action")),
                    key=lambda s: s["start"])
    children = {s["id"]: [] for s in by_id.values()}
    plans = {s["id"]: [] for s in phases}

    def containing(t):
        for s in phases:
            if s["start"] <= t <= s["end"]:
                return s["id"]
        return None

    for s in spans:
        if s["kind"] == "job":
            pid = s["parent"] if s["parent"] in by_id else containing(s["start"])
            if pid is not None:
                children[pid].append(s)
        elif s["kind"] == "plan":
            pid = containing(s["start"])
            if pid is not None:
                plans[pid].append(s)
    for s in by_id.values():
        if s["parent"] in children and s["kind"] != "job":
            children[s["parent"]].append(s)
    return children, plans


def pass_layers(p, idx, cpus, result_rows):
    """Layer metrics of one traced pass record `p`, from the indexed spans."""
    children, plans = idx
    queries = [c for c in children.get(p["span"], []) if c["kind"] == "query"]
    constructs = [c for q in queries for c in children[q["id"]] if c["kind"] == "construct"]
    actions = [c for q in queries for c in children[q["id"]] if c["kind"] == "action"]
    eager = [j for c in constructs for j in children[c["id"]]]
    final = [j for a in actions for j in children[a["id"]]]
    jobs = eager + final
    plan_recs = [r for a in actions for r in plans[a["id"]]]

    def total(recs, key):
        return sum(r[key] for r in recs)

    m = {
        "entry.construct_s": sum(self_time(c, children[c["id"]]) for c in constructs) / 1e3,
        "operators.eager_jobs": len(eager),
        "operators.eager_job_s": sum(covered((c["start"], c["end"]),
                                             [(j["start"], j["end"]) for j in children[c["id"]]])
                                     for c in constructs) / 1e3,
        "operators.eager_tasks": total(eager, "tasks"),
        "plan.s": total(plan_recs, "plan_s"),
        "plan.nodes": total(plan_recs, "nodes"),
        "plan.exchanges": total(plan_recs, "exchanges"),
        "plan.depth": max((r["depth"] for r in plan_recs), default=0),
        "plan.codegen_fallbacks": total(plan_recs, "codegen_fallbacks"),
        "action.jobs": len(final),
        "action.job_s": sum(covered((a["start"], a["end"]),
                                    [(j["start"], j["end"]) for j in children[a["id"]]])
                            for a in actions) / 1e3,
        "action.stages": sum(j["stages"] - j["skipped_stages"] for j in final),
        "action.tasks": total(final, "tasks"),
        "tasks.run_s": total(jobs, "run_s"),
        "tasks.cpu_s": total(jobs, "cpu_s"),
        "tasks.gc_s": total(jobs, "gc_s"),
        "tasks.sched_wait_s": total(jobs, "sched_wait_s"),
        "tasks.failed": total(jobs, "failed_tasks"),
        "sources.input_mb": total(jobs, "input_bytes") / MB,
        "sources.input_rows": total(jobs, "input_rows"),
        "shuffle.write_mb": total(jobs, "shuffle_write_bytes") / MB,
        "shuffle.read_mb": total(jobs, "shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": total(jobs, "fetch_wait_s"),
        "shuffle.spill_mb": total(jobs, "spill_bytes") / MB,
        "cache.cached_rdds": p["cached_rdds"],
        "cache.cached_scans": total(plan_recs, "cached_scans"),
        "jvm.gc_s": p["gc_s"],
        "jvm.jit_s": p["jit_s"],
        "jvm.classes_loaded": p["classes_loaded"],
        "jvm.rss_peak_mb": p["rss_peak_mb"],
        "host.calib_s": (p["calib_before_s"] + p["calib_after_s"]) / 2,
        "host.steal_cores": p["steal_cores"],
    }
    stages = total(jobs, "stages")
    m["cache.stage_skip_ratio"] = total(jobs, "skipped_stages") / stages if stages else 0.0
    m["driver.cpu_s"] = p["cpu_s"] - m["tasks.cpu_s"]
    m["tasks.core_util"] = m["tasks.run_s"] / (p["wall_s"] * cpus)
    m["sources.rows_per_result"] = m["sources.input_rows"] / result_rows if result_rows else 0.0
    return m


def query_seconds(p, name):
    for q in p["queries"]:
        if q["name"] == name:
            return q["construct_s"] + q["action_s"]
    return None


def per_layer(record, spans):
    cold, warm = split_passes(record)
    idx = index_spans(spans)
    rows = sum(max(c["rows"], 0) for c in record.get("check", []))
    cpus = record["cpus"]
    traced = [p for p in settled(warm) if p["traced"]]
    untraced = [p for p in settled(warm) if not p["traced"]]
    if not traced or not untraced:
        raise ValueError("a traced run needs settled traced and untraced warm passes")
    out = {f"cold.{k}": v for k, v in pass_layers(cold, idx, cpus, rows).items()}
    warm_layers = [pass_layers(p, idx, cpus, rows) for p in traced]
    for k in LAYER:
        out[f"warm.{k}"] = median([w[k] for w in warm_layers])
    for q, name in QUERY_COLD.items():
        # a workload that does not run the query spends 0 s in it
        out[name] = query_seconds(cold, q) or 0.0
    out["trace.overhead_ratio"] = (median([p["wall_s"] for p in traced])
                                   / median([p["wall_s"] for p in untraced]))
    return out


def result_line(correct, attempted, failed, values, units):
    missing = [k for k in units if k not in values]
    if missing:
        raise ValueError(f"metrics not produced: {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
