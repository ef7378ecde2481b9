"""Turns the JVM driver's raw record into the benchmark's metrics.

End-to-end metrics (`--trace 0`) are the same three for every workload;
per-layer metrics (`--trace 1`) are the full list in PER_LAYER, with a
layer the workload does not reach reported as 0."""
import math

from stats import (attach_jobs, children_of, clip, count_failed, geomean, median,
                   ok_walls, self_time, tail_percentile, union_length)

MB = 1024.0 * 1024.0
MODULES = ("Relational", "TextOps", "Ingest", "UrlOps", "Multimodal", "Dedup",
           "Similarity")
STREAM_JOBS = ("text", "parquet", "hive", "stream_curation")
STREAM_PHASES = (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                 ("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
                 ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                 ("commit_offsets_ms", "commitOffsets"))
CURATION_STAGES = ("1_url", "2_exact", "3_neardup", "4_decon", "5_substr",
                   "6_quality", "7_mix", "pack")
EXEC_FIELDS = (("exec.task_run_ms", "run_ms"), ("exec.task_cpu_ms", "cpu_ms"),
               ("exec.gc_ms", "gc_ms"), ("scan.bytes", "scan_bytes"),
               ("scan.rows", "scan_rows"), ("shuffle.write_bytes", "shuffle_write_bytes"),
               ("shuffle.read_bytes", "shuffle_read_bytes"),
               ("shuffle.write_ms", "shuffle_write_ms"),
               ("shuffle.fetch_wait_ms", "shuffle_fetch_wait_ms"),
               ("spill.bytes", "spill_bytes"))

E2E = (("setup_s", "s"), ("pass_s", "s"), ("query_geomean_ms", "ms"))

PER_LAYER = (
    [(f"{m}.{k}", u) for m in MODULES
     for k, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("build_jobs", "count"))]
    + [("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
       ("catalyst.planning_ms", "ms"), ("aqe.replans", "count"),
       ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
       ("scheduler.tasks", "count"), ("scheduler.gap_ms", "ms"),
       ("exec.utilization", "ratio")]
    + [(n, "ms" if n.endswith("_ms") else "bytes" if n.endswith("bytes") else "count")
       for n, _ in EXEC_FIELDS]
    + [("functions.verify_in_rows", "rows"), ("functions.verify_out_rows", "rows"),
       ("functions.verify_yield", "ratio")]
    + [(f"stream.{j}.{k}", "ms") for j in STREAM_JOBS for k, _ in STREAM_PHASES]
    + [(f"stream.{j}.batches", "count") for j in STREAM_JOBS]
    + [("stream.stream_curation.state_rows", "rows"),
       ("stream.stream_curation.state_mem_bytes", "bytes"),
       ("stream.stream_curation.late_dropped_rows", "rows")]
    + [(f"jobs.{j}.start_ms", "ms") for j in
       ("text", "parquet", "hive", "curation", "stream_curation")]
    + [("Ingest.dropped_rows", "rows"), ("Ingest.error_bucket_rows", "rows"),
       ("Sinks.files", "count"), ("Sinks.bytes", "bytes"),
       ("Sinks.partitions_committed", "count"), ("Sinks.commit_ms", "ms"),
       ("Sinks.compact_ms", "ms")]
    + [(f"Curation.{s}_ms", "ms") for s in CURATION_STAGES]
    + [("etl_rows_per_s", "rows/s"), ("wave_latency_ms_p50", "ms"),
       ("wave_latency_ms_p90", "ms"), ("curation_s", "s"),
       ("stream_curation_rows_per_s", "rows/s"), ("stored_bytes_per_input_byte", "ratio"),
       ("sink_files", "count"), ("failed_frac", "ratio")]
    + [("peak_cached_mb", "MB"), ("trace.overhead_frac", "ratio"),
       ("trace.pass_self_ms", "ms"), ("trace.build_outside_jobs_ms", "ms"),
       ("trace.exec_outside_jobs_ms", "ms")]
)


def metrics(values, names):
    """The metric block: every name in `names`, in order, with its unit.
    A value that could not be measured (no successful sample) reads -1,
    never a timing."""
    def value(n):
        v = float(values.get(n, 0.0))
        return v if math.isfinite(v) else -1.0
    return {n: {"value": value(n), "unit": u} for n, u in names}


def _stage_sums(stage_recs):
    out = {name: sum(s.get(f, 0) for s in stage_recs) for name, f in EXEC_FIELDS}
    out["scheduler.stages"] = len(stage_recs)
    out["scheduler.tasks"] = sum(s["tasks"] for s in stage_recs)
    return out


def _stages_of(jobs, stages):
    ids = {sid for j in jobs for sid in j["stages"]}
    return [s for s in stages if s["stage"] in ids]


def _outside_jobs(span, jobs, stages):
    """(job time with no stage running, span time with no job running)."""
    lo, hi = span["start"], span["end"]
    job_iv = clip([(j["start"], j["end"]) for j in jobs], lo, hi)
    st_iv = clip([(s["submit"], s["end"]) for s in _stages_of(jobs, stages)], lo, hi)
    job_wall = union_length(job_iv)
    return max(0.0, job_wall - union_length(st_iv)), (hi - lo) - job_wall


def _qe_sums(tr, exec_ids):
    """Catalyst phases, AQE re-plans and verify-kernel rows of the SQL
    executions in `exec_ids`."""
    exec_of = dict(tr["exec_of_qe"])
    mine = [q for q in tr["qes"] if exec_of.get(q["qe_id"]) in exec_ids]
    aqe = tr["aqe_updates"]
    vin = sum(q["verify_in"] for q in mine)
    vout = sum(q["verify_out"] for q in mine)
    return {"catalyst.analysis_ms": sum(q["analysis_ms"] for q in mine),
            "catalyst.optimization_ms": sum(q["optimization_ms"] for q in mine),
            "catalyst.planning_ms": sum(q["planning_ms"] for q in mine),
            "aqe.replans": sum(1 for e in aqe if e in exec_ids),
            "functions.verify_in_rows": vin, "functions.verify_out_rows": vout,
            "functions.verify_yield": vout / vin if vin else 0.0}


def _exec_ids(jobs):
    return {int(j["exec_id"]) for j in jobs if j.get("exec_id") is not None}


# --------------------------------------------------------------------- batch

def batch(raw, names, module_of, mismatches, t_setup, cpus, trace):
    samples = raw["samples"]
    spans = raw["spans"]
    failed = count_failed(samples) + len(mismatches)
    attempted = len(samples) + len(names)
    pass_spans = {int(s["name"].split(":")[1]): s for s in spans
                  if s["name"].startswith("pass:")}
    by_pass = {}
    for s in samples:
        by_pass.setdefault(s["pass"], []).append(s)

    def pass_ms(p):
        return pass_spans[p]["end"] - pass_spans[p]["start"]

    clean = [p for p, ss in by_pass.items() if all(s["ok"] for s in ss)]
    timed = [p for p in clean if by_pass[p][0]["traced"] == bool(trace)]
    walls = ok_walls([s for s in samples if s["pass"] in timed])
    per_query = [median(w) for w in walls.values()]
    values = {
        "setup_s": raw["measure_start_ms"] / 1000.0 - t_setup,
        # a typical pass: each query at its median over the timed passes
        "pass_s": sum(per_query) / 1000.0 if per_query else math.nan,
        "query_geomean_ms": geomean(per_query),
    }
    lines = []
    context = {"passes": len(by_pass), "queries": len(names),
               "peak_cached_mb": raw["peak_cached_bytes"] / MB,
               "failed_queries": sorted({s["query"] for s in samples if not s["ok"]}),
               "mismatches": mismatches}
    if not trace:
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics(values, E2E), "context": context}

    tr = raw["trace"]
    by_span = attach_jobs(spans, tr["jobs"])
    kids = children_of(spans)
    per_pass, remainders = [], []
    for p in timed:
        v = {}
        pspan = pass_spans[p]
        pjobs = [j for j in tr["jobs"] if str(j.get("group", "")).startswith(f"p{p}:")]
        for m in set(module_of[q] for q in names):
            qs = [s for s in by_pass[p] if module_of[s["query"]] == m]
            v[f"{m}.build_ms"] = sum(s["build_ms"] for s in qs)
            v[f"{m}.exec_ms"] = sum(s["exec_ms"] for s in qs)
            v[f"{m}.build_jobs"] = sum(
                1 for j in pjobs if j["group"] in {f"p{p}:{s['query']}:build" for s in qs})
        v.update(_stage_sums(_stages_of(pjobs, tr["stages"])))
        v["scheduler.jobs"] = len(pjobs)
        v.update(_qe_sums(tr, _exec_ids(pjobs)))
        v["exec.utilization"] = v["exec.task_run_ms"] / (pass_ms(p) * cpus)
        gap = b_out = e_out = 0.0
        for q in kids.get(pspan["id"], []):
            row = {"pass": p, "query": q["name"].split(":", 1)[1]}
            for k in kids.get(q["id"], []):
                g, out = _outside_jobs(k, by_span.get(k["id"], []), tr["stages"])
                gap += g
                row[f"{k['name']}_ms"] = k["end"] - k["start"]
                row[f"{k['name']}_gap_ms"] = g
                row[f"{k['name']}_outside_jobs_ms"] = out
                if k["name"] == "build":
                    b_out += out
                else:
                    e_out += out
            row["self_ms"] = self_time(q, kids.get(q["id"], []))
            remainders.append(row)
        v["scheduler.gap_ms"] = gap
        v["trace.build_outside_jobs_ms"] = b_out
        v["trace.exec_outside_jobs_ms"] = e_out
        v["trace.pass_self_ms"] = self_time(pspan, kids.get(pspan["id"], []))
        per_pass.append(v)
    layer = {k: median([v.get(k, 0.0) for v in per_pass]) for k in per_pass[0]} \
        if per_pass else {}
    # each traced pass against the mean of the untraced passes around it
    ratios = [pass_ms(p) / ((pass_ms(p - 1) + pass_ms(p + 1)) / 2) for p in timed
              if p - 1 in clean and p + 1 in clean]
    if ratios:
        layer["trace.overhead_frac"] = median(ratios) - 1
    layer["failed_frac"] = failed / attempted
    layer["peak_cached_mb"] = raw["peak_cached_bytes"] / MB
    for r in remainders:
        lines.append("trace.remainder " + " ".join(
            f"{k}={v:.1f}" if isinstance(v, float) else f"{k}={v}" for k, v in r.items()))
    context["remainders"] = remainders
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics(layer, PER_LAYER), "context": context, "lines": lines}


# ----------------------------------------------------------------- pipelines

def _check_pipelines(raw, exp):
    """Each mismatch between a sink and the generator's numbers."""
    ch, bad = raw["checks"], []

    def same(name, key, want):
        got = ch.get(name, {}).get(key)
        if str(got) != str(want):
            bad.append(f"{name}.{key}: got {got}, expected {want}")

    for twin in ("text", "parquet", "hive"):
        for k, want in exp[twin].items():
            same(twin, k, want)
    if not ch.get("curation", {}).get("rows"):
        bad.append("curation: no packed output")
    st = ch.get("stream_curation")
    if st is None:
        bad.append("stream_curation: no output")
    else:
        ids = st["doc_ids"]
        admitted = set(ids)
        if len(ids) != len(admitted):
            bad.append("stream_curation: a doc admitted twice")
        if not ids:
            bad.append("stream_curation: nothing admitted")
        hist = admitted & set(exp["stream"]["from_history"])
        if hist:
            bad.append(f"stream_curation: {len(hist)} docs already in history admitted")
        both = [p for p in exp["stream"]["dup_pairs"] if p[0] in admitted and p[1] in admitted]
        if both:
            bad.append(f"stream_curation: {len(both)} exact-dup pairs both admitted")
    return bad


def pipeline_ops(recs):
    """One time per operation of each job, so that each job counts once
    in the geomean: each twin's drain and median wave latency, the final
    commit with its compaction, and each curation job."""
    ops = [r["drain_ms"] for r in recs if r["kind"] == "drain"]
    for twin in ("text", "parquet", "hive"):
        lat = [r["latency_ms"] for r in recs if r["kind"] == "wave" and r["job"] == twin]
        if lat:
            ops.append(median(lat))
    for r in recs:
        if r["kind"] == "commit":
            ops.append(r["commit_ms"] + r["compact_ms"])
        elif r["kind"] in ("curation", "stream_curation"):
            ops.append(r["run_ms"])
    return ops


def engine_drops(tr, stream_queries, job):
    """Rows a job's parse dropped, as the engine counts them: the rows its
    micro-batches read (progress events) less the rows their writes kept
    (task output metrics of the Spark jobs its streaming queries ran)."""
    ids = {q for q, j in stream_queries.items() if j == job}
    stages = {sid for j in tr["jobs"] if j.get("stream_query") in ids for sid in j["stages"]}
    read = sum(p["rows"] for p in tr["progress"] if p["job"] == job)
    kept = sum(s.get("records_written", 0) for s in tr["stages"] if s["stage"] in stages)
    return read - kept


def pipelines(raw, exp, t_setup, cpus, trace):
    recs = raw["records"]
    bad = _check_pipelines(raw, exp) + list(raw["errors"])
    drains = [r for r in recs if r["kind"] == "drain"]
    waves = [r for r in recs if r["kind"] == "wave"]
    commit = next((r for r in recs if r["kind"] == "commit"), {})
    cur = next((r for r in recs if r["kind"] == "curation"), {})
    scur = next((r for r in recs if r["kind"] == "stream_curation"), {})
    n_ops = len(drains) + len(waves) + 2 * bool(commit) + bool(cur) + bool(scur)
    expected_ops = 3 + 3 * exp["waves"] + 2 + 1 + 1
    # + the output checks: six, and in a traced run the engine's drop count
    attempted = max(n_ops, expected_ops) + 6 + bool(trace)
    failed = len(bad) + (expected_ops - min(n_ops, expected_ops))
    ops = pipeline_ops(recs)
    run_span = next(s for s in raw["spans"] if s["name"] == "pipelines")
    values = {
        "setup_s": raw["measure_start_ms"] / 1000.0 - t_setup,
        # the pass is the whole sequence: drains, waves, final commit
        # and compaction, and the two curation jobs
        "pass_s": (run_span["end"] - run_span["start"]) / 1000.0,
        "query_geomean_ms": geomean(x for x in ops if x > 0),
    }
    ch = raw["checks"]
    lat = [r["latency_ms"] for r in waves]
    p50 = tail_percentile(lat, 0.5)
    p90 = tail_percentile(lat, 0.9)
    files = ch.get("sink_files", {})
    sink_bytes = sum(f["bytes"] for f in files.values())
    drain_ms = sum(r["drain_ms"] for r in drains)
    layer = {
        "etl_rows_per_s": sum(exp["backlog_rows"][r["job"]] for r in drains)
        / (drain_ms / 1000.0) if drain_ms else 0.0,
        "wave_latency_ms_p50": p50[0], "wave_latency_ms_p90": p90[0],
        "curation_s": cur.get("run_ms", 0) / 1000.0,
        "stream_curation_rows_per_s": exp["stream"]["docs"] / (scur["run_ms"] / 1000.0)
        if scur.get("run_ms") else 0.0,
        "stored_bytes_per_input_byte": sink_bytes / exp["input_bytes"],
        "sink_files": sum(f["files"] for f in files.values()),
        "peak_cached_mb": raw["peak_cached_bytes"] / MB,
    }
    context = {"wave_samples": p90[2], "wave_p90_quantile_used": p90[1],
               "checks_s": raw["checks_ms"] / 1000.0,
               "errors": bad, "checks": {k: v for k, v in ch.items() if k != "stream_curation"}}
    if not trace:
        context["pipeline"] = layer
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics(values, E2E), "context": context}

    tr = raw["trace"]
    v = dict(layer)
    v.update(_stage_sums(tr["stages"]))
    v["scheduler.jobs"] = len(tr["jobs"])
    v["exec.utilization"] = v["exec.task_run_ms"] / ((run_span["end"] - run_span["start"]) * cpus)
    v.update(_qe_sums(tr, {e for _, e in tr["exec_of_qe"]}))
    for j in STREAM_JOBS:
        ps = [p for p in tr["progress"] if p["job"] == j]
        v[f"stream.{j}.batches"] = len(ps)
        for name, key in STREAM_PHASES:
            v[f"stream.{j}.{name}"] = sum(p["durations"].get(key, 0) for p in ps)
        if j == "stream_curation" and ps:
            v[f"stream.{j}.state_rows"] = max(p["state_rows"] for p in ps)
            v[f"stream.{j}.state_mem_bytes"] = max(p["state_mem_bytes"] for p in ps)
            v[f"stream.{j}.late_dropped_rows"] = sum(p["late_dropped_rows"] for p in ps)
    for r in drains:
        v[f"jobs.{r['job']}.start_ms"] = r["start_ms"]
    v["jobs.curation.start_ms"] = cur.get("run_ms", 0)
    v["jobs.stream_curation.start_ms"] = next(
        (r["start_ms"] for r in recs if r["kind"] == "stream_curation_start"), 0)
    v["Ingest.dropped_rows"] = engine_drops(tr, raw["stream_queries"], "hive")
    if v["Ingest.dropped_rows"] != exp["hive_dropped"]:
        bad.append(f"Ingest.dropped_rows: got {v['Ingest.dropped_rows']}, "
                   f"expected {exp['hive_dropped']}")
        failed += 1
    v["failed_frac"] = failed / attempted
    v["Ingest.error_bucket_rows"] = ch.get("parquet", {}).get("error_bucket", 0)
    v["Sinks.files"] = layer["sink_files"]
    v["Sinks.bytes"] = sink_bytes
    v["Sinks.partitions_committed"] = ch.get("hive_partitions", 0)
    v["Sinks.commit_ms"] = commit.get("commit_ms", 0)
    v["Sinks.compact_ms"] = commit.get("compact_ms", 0)
    for q in tr["qes"]:
        # CurationJob writes each stage to cur_staging/<stage>, the pack to cur_out
        leaf = (q.get("output") or "").rstrip("/").rsplit("/", 1)[-1]
        stage = "pack" if leaf == "cur_out" else leaf
        if stage in CURATION_STAGES:
            v[f"Curation.{stage}_ms"] = v.get(f"Curation.{stage}_ms", 0) + q["duration_ms"]
    ref = next((r for r in recs if r["kind"] == "untraced_drains"), None)
    if ref and drain_ms:
        v["trace.overhead_frac"] = drain_ms / sum(ref["drain_ms"]) - 1
    kids = children_of(raw["spans"])
    v["trace.pass_self_ms"] = self_time(run_span, kids.get(run_span["id"], []))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics(v, PER_LAYER), "context": context}
