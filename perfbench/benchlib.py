"""Pure metric logic of the benchmark: percentiles, span self time, the
failure ratio, and the reduction of one run's JVM records to metrics.
Kept free of I/O so `test_benchlib.py` can check it directly."""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so item_p90_s needs 100 samples.
MIN_BEYOND = 10


def percentile(samples, q):
    """Nearest-rank percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it."""
    n = len(samples)
    if n == 0:
        return None
    rank = math.ceil(q * n)
    if n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the parent."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def failed_ratio(instances, bad_names):
    """(items that threw + items whose output failed the check) / attempted.

    `instances` are the item records of every pass; `bad_names` the items
    whose checked output differed from the expected answer. An instance
    whose output differs from the checked one of its item, or whose own
    output failed its check, also fails."""
    if not instances:
        return 0, 0, 0.0
    failed = sum(1 for r in instances
                 if not r["ok"] or r["name"] in bad_names
                 or not r.get("same_as_checked", True) or not r.get("check_ok", True))
    return len(instances), failed, failed / len(instances)


def item_seconds(r):
    return (r["end_us"] - r["start_us"]) / 1e6


def build_spans(passes):
    """Span tree run -> pass -> item -> phase -> job -> stage, plus
    micro-batches under the build phase of the drain that ran them.
    Times are epoch microseconds."""
    spans = []

    def add(name, kind, start, end, parent, trace_id=None, **attrs):
        spans.append(dict(id=len(spans), name=name, kind=kind, start_us=start,
                          end_us=end, parent=parent, trace_id=trace_id, **attrs))
        return len(spans) - 1

    run = add("run", "run", min(p["start_us"] for p in passes),
              max(p["end_us"] for p in passes), None)
    for p in passes:
        pid = add(f"pass{p['index']}", "pass", p["start_us"], p["end_us"], run,
                  traced=p["traced"])
        for it in p["items"]:
            tid = it["trace_id"]
            iid = add(it["name"], "item", it["start_us"], it["end_us"], pid, tid)
            phase_ids = [(add(ph["name"], "phase", ph["start_us"], ph["end_us"], iid, tid),
                          ph) for ph in it["phases"]]
            ev = it.get("events")
            if not ev:
                continue
            job_ids = {}
            for j in ev["jobs"]:
                start = j["start_ms"] * 1000
                end = j.get("end_ms", j["start_ms"]) * 1000
                parent = next((sid for sid, ph in phase_ids
                               if ph["start_us"] <= start <= ph["end_us"]), iid)
                job_ids[j["id"]] = add(f"job{j['id']}", "job", start, end, parent, tid)
            for st in ev["stages"]:
                if "submit_ms" in st and "complete_ms" in st:
                    add(f"stage{st['id']}", "stage", st["submit_ms"] * 1000,
                        st["complete_ms"] * 1000, job_ids.get(st["job"], iid), tid)
            build = next((sid for sid, ph in phase_ids if ph["name"] == "build"), iid)
            for b in ev["batches"]:
                dur = b["durations_ms"].get("triggerExecution", 0)
                add(f"batch{b['batch']}", "batch", b["start_ms"] * 1000,
                    (b["start_ms"] + dur) * 1000, build, tid)
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    for s in spans:
        s["self_us"] = self_time((s["start_us"], s["end_us"]), by_parent.get(s["id"], []))
    return spans


def pass_layers(p, cores, spans):
    """Per-layer figures of one traced pass."""
    items = p["items"]
    wall = p["wall_s"]
    ev = [it["events"] for it in items if it.get("events")]
    jobs = [j for e in ev for j in e["jobs"]]
    stages = [s for e in ev for s in e["stages"]]
    execs = [x for e in ev for x in e["executions"]]
    streams = [s for e in ev for s in e["streams"]]
    batches = [b for e in ev for b in e["batches"]]

    def phase_sum(name):
        return sum((ph["end_us"] - ph["start_us"]) / 1e6
                   for it in items for ph in it["phases"] if ph["name"] == name)

    def ssum(key):
        return sum(s.get(key, 0) for s in stages)

    build_phases = {sp["id"] for sp in spans if sp["kind"] == "phase" and sp["name"] == "build"}
    pass_span = next(sp["id"] for sp in spans if sp["kind"] == "pass"
                     and sp["name"] == f"pass{p['index']}")
    item_ids = {sp["id"] for sp in spans if sp["kind"] == "item" and sp["parent"] == pass_span}
    phase_ids = {sp["id"] for sp in spans if sp["kind"] == "phase" and sp["parent"] in item_ids}
    pass_jobs = [sp for sp in spans if sp["kind"] == "job"
                 and (sp["parent"] in phase_ids or sp["parent"] in item_ids)]
    job_union = union_length([(max(j["start_us"], it["start_us"]), min(j["end_us"], it["end_us"]))
                              for it in items for j in pass_jobs
                              if j["trace_id"] == it["trace_id"] and j["end_us"] > it["start_us"]])
    run_s = ssum("run_ms") / 1000

    writes = [w for x in execs for w in x["writes"]]
    write_execs = [x for x in execs if x["writes"]]
    extras = p.get("extras", {})
    runlog = extras.get("runlog_path")
    runlog_execs = [x for x in write_execs
                    if runlog and any(runlog in w["path"] for w in x["writes"])]
    under = sum(x["join_rows_under_filter"] for x in execs)
    durations = lambda key: sum(b["durations_ms"].get(key, 0) for b in batches) / 1000
    first_batch = {}
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        first_batch.setdefault(b["run_id"], b)
    start_s = sum((first_batch[s["run_id"]]["start_ms"]
                   + first_batch[s["run_id"]]["durations_ms"].get("triggerExecution", 0)
                   - s["start_ms"]) / 1000
                  for s in streams if s["run_id"] in first_batch)
    last_batch = {}
    for b in sorted(batches, key=lambda b: b["batch"]):
        last_batch[b["run_id"]] = b
    triggers = [b["durations_ms"].get("triggerExecution", 0) for b in batches]
    by_name = {}
    for it in items:
        by_name.setdefault(it["name"], []).append(item_seconds(it))
    checkpointed = sum(by_name.get("checkpointed", []))
    lazy = sum(by_name.get("lazy", []))
    return {
        "queries.build_s": phase_sum("build"),
        "queries.build_jobs": sum(1 for sp in spans if sp["kind"] == "job"
                                  and sp["parent"] in build_phases & phase_ids),
        "queries.plan_s": phase_sum("plan"),
        "queries.exec_s": phase_sum("exec"),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": ssum("tasks"),
        "spark.no_job_s": max(0.0, wall - job_union / 1e6),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": ssum("cpu_ns") / 1e9,
        "spark.gc_s": ssum("gc_ms") / 1000,
        "spark.core_util": run_s / (wall * cores) if wall > 0 else 0.0,
        "spark.task_wait_s": ssum("task_wait_ms") / 1000,
        "spark.shuffle_write_bytes": ssum("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": ssum("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": ssum("fetch_wait_ms") / 1000,
        "spark.spill_bytes": ssum("spill_bytes"),
        "spark.failed_tasks": ssum("failed_tasks"),
        "io.read_bytes": ssum("read_bytes"),
        "io.read_rows": ssum("read_rows"),
        "io.write_bytes": ssum("write_bytes"),
        "io.write_files": sum(w["files"] for w in writes),
        "io.write_s": sum(x["duration_ns"] for x in write_execs) / 1e9,
        "core.checkpointed_s": checkpointed,
        "core.lazy_s": lazy,
        "core.checkpoint_overhead": checkpointed / lazy if lazy > 0 else 0.0,
        "core.replay_s": sum(by_name.get("replay", [])),
        "core.stored_bytes_per_input_byte":
            extras["checkpoint_bytes"] / extras["input_bytes"] if extras.get("input_bytes") else 0.0,
        "core.runlog_jobs": len(runlog_execs),
        "types.roundtrip_s": extras.get("roundtrip_s", 0.0),
        "ops.join_rows_out": sum(x["join_rows"] for x in execs),
        "functions.pairs_kept_ratio":
            sum(x["filter_rows_above_join"] for x in execs) / under if under else 0.0,
        "plans.native_nodes": sum(x["native_nodes"] for x in execs),
        "streaming.queries_started": len(streams),
        "streaming.batches": len(batches),
        "streaming.start_s": start_s,
        "streaming.trigger_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "streaming.add_batch_s": durations("addBatch"),
        "streaming.wal_commit_s": durations("walCommit"),
        "streaming.planning_s": durations("queryPlanning"),
        "streaming.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1000,
        "streaming.state_rows": sum(b["state_rows"] for b in last_batch.values()),
    }


def item_table(passes, spans):
    """Per item name: jobs, build/plan/exec seconds and files written, as
    medians over the traced instances (the census of where time goes)."""
    rows = {}
    jobs_by_trace = {}
    for sp in spans:
        if sp["kind"] == "job":
            jobs_by_trace[sp["trace_id"]] = jobs_by_trace.get(sp["trace_id"], 0) + 1
    for p in passes:
        for it in p["items"]:
            if not it.get("events"):
                continue
            ph = {x["name"]: (x["end_us"] - x["start_us"]) / 1e6 for x in it["phases"]}
            files = sum(w["files"] for x in it["events"]["executions"] for w in x["writes"])
            r = rows.setdefault(it["name"], {"jobs": [], "build_s": [], "plan_s": [],
                                             "exec_s": [], "write_files": []})
            r["jobs"].append(jobs_by_trace.get(it["trace_id"], 0))
            r["build_s"].append(ph.get("build", 0.0))
            r["plan_s"].append(ph.get("plan", 0.0))
            r["exec_s"].append(ph.get("exec", 0.0))
            r["write_files"].append(files)
    return {name: {k: statistics.median(v) for k, v in r.items()} for name, r in sorted(rows.items())}


def end_to_end(result):
    """End-to-end metrics of an untraced run."""
    passes = result["passes"]
    return {
        "setup_s": statistics.median(s["session_s"] + s["warmup_s"] for s in result["setups"]),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "item_p50_s": statistics.median(item_seconds(it) for p in passes for it in p["items"]),
        "heap_peak_mb": max(it["heap_live_mb"] for p in passes for it in p["items"]
                            if "heap_live_mb" in it),
    }


def per_layer(result, bad_names):
    """Per-layer metrics of a traced run: medians over its traced passes."""
    passes = result["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    # the first pass warms the JVM; it only stands in when it is the one
    # untraced pass
    untraced_steady = untraced[1:] or untraced
    spans = build_spans(traced)
    cores = result["meta"]["cores"]
    layers = [pass_layers(p, cores, spans) for p in traced]
    out = {k: statistics.median(l[k] for l in layers) for k in layers[0]}
    setups = result["setups"]
    out["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
    out["setup.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    instances = [it for p in passes for it in p["items"]]
    _, _, ratio = failed_ratio(instances, bad_names)
    out["items.failed_ratio"] = ratio
    p90 = percentile([item_seconds(it) for it in instances], 0.9)
    out["items.p90_s"] = p90 if p90 is not None else 0.0
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    untraced_wall = statistics.median(p["wall_s"] for p in untraced_steady)
    out["trace.wall_s"] = traced_wall
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    return out, spans, item_table(traced, spans)
