"""Arithmetic on a run's raw record: quantiles, tail percentile, span
self time, job attribution and the end-to-end and per-layer metrics.

Pure Python on the JSON the harness writes, so it is testable without
Spark (see tests/test_metrics.py).
"""
import math
import statistics

MIN_BEYOND = 10


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_percentile(n, min_beyond=MIN_BEYOND):
    """Highest whole percentile p (50..99) whose nearest-rank value has at
    least `min_beyond` of `n` samples ranked above it; None if even the
    median has fewer."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= min_beyond:
            return p
    return None


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of it that its children cover}."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def phase_windows(queries):
    """[(query id, phase, start, end)] of the phases that ran to the end."""
    out = []
    for q in queries:
        for ph in ("construct", "plan", "exec"):
            a, b = q[ph]
            if a is not None and b is not None:
                out.append((q["id"], ph, a, b))
    return out


def attribute(start, span, windows):
    """(query id, phase) of a job: its `perfbench.span` property when it
    has one (set on the driver thread, inherited by threads it starts),
    else the phase window its start time falls in; None outside all."""
    if span:
        qid, _, phase = span.rpartition("/")
        return qid, phase
    for qid, phase, a, b in windows:
        if a <= start < b:
            return qid, phase
    return None


def module(callsite):
    """The graft module (`graft.<package>`) of a job: the package of the
    first graft frame in the job's call site; `perfbench` when the first
    project frame is the harness itself (the exec action), else `other`."""
    for line in (callsite or "").splitlines():
        frame = line.strip()
        if frame.startswith("graft."):
            return ".".join(frame.split(".")[:2])
        if frame.startswith("perfbench."):
            return "perfbench"
    return "other"


def is_schema_job(job):
    """A Parquet schema read triggered by `graft.sources.Tables.table`."""
    frames = [l.strip() for l in (job.get("callsite") or "").splitlines()]
    first = next((f for f in frames if f.startswith(("graft.", "perfbench."))), "")
    return (first.startswith("graft.sources.Tables$.table(")
            and (job.get("site") or "").startswith("parquet at "))


def latency(q):
    """Construct start to exec end of a query that succeeded, in seconds."""
    if q["error"] is None and q["exec"][1] is not None:
        return (q["exec"][1] - q["construct"][0]) / 1000
    return None


def end_to_end(raw):
    """End-to-end figures of an untraced run: {name: (value, note)}."""
    walls = [p["wall_s"] for p in raw["passes"]]
    cpus = [p["cpu_s"] for p in raw["passes"]]
    timed = [q for q in raw["queries"] if q["id"].startswith("p") and latency(q) is not None]
    lats = [latency(q) for q in timed]
    qcpu = [q["cpu_s"] for q in timed]
    p = tail_percentile(len(lats))
    out = {}

    def spread(name, xs, what):
        q1, med, q3 = quartiles(xs)
        out[name] = (med, f"median of {len(xs)} {what}; quartiles {q1:.4f} / {q3:.4f}")

    def tail(name, xs):
        v = nearest_rank(xs, p or 50)
        beyond = sum(1 for x in xs if x > v)
        out[name] = (v, f"p{p} by nearest rank of n={len(xs)}, {beyond} samples beyond" if p
                     else f"n={len(xs)} is too few for 10 samples beyond any percentile; median")

    out["setup_s"] = (raw["setup_cpu_s"], "CPU seconds from JVM start to the end of the warm pass")
    out["setup_wall_s"] = (raw["setup_s"], "wall seconds from JVM start to the end of the warm pass")
    spread("round_s", walls, "timed passes")
    spread("round_cpu_s", cpus, "timed passes")
    spread("query_s_p50", lats, "query executions")
    tail("query_s_tail", lats)
    spread("query_cpu_s_p50", qcpu, "query executions")
    tail("query_cpu_s_tail", qcpu)
    out["heap_retained_mb"] = (raw["heap_retained_mb"],
                               "driver heap in use after full GCs, end of timed region")
    return out


def _jobs(raw):
    ends = {e["id"]: e for e in raw["job_ends"]}
    return [dict(j, end=ends.get(j["id"], {}).get("end", j["start"])) for j in raw["jobs"]]


def _stage_jobs(jobs):
    """{stage id: the lowest-numbered job that lists it}."""
    out = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for s in j["stages"]:
            out.setdefault(s, j["id"])
    return out


def per_layer(raw, cpus):
    """Per-layer metrics of a traced run, as means per traced pass."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    tq = [q for q in raw["queries"] if q["traced"]]
    windows = phase_windows(tq)
    jobs = _jobs(raw)
    job_phase = {j["id"]: attribute(j["start"], j.get("span"), windows) for j in jobs}
    stage_job = _stage_jobs(jobs)
    done_stages = {s["id"] for s in raw["stages"]}
    n = max(1, len(traced))

    def per_pass(x):
        return x / n

    def ssum(key):
        return sum(s.get(key, 0) or 0 for s in raw["stages"])

    def phase_s(ph):
        return sum(q[ph][1] - q[ph][0] for q in tq if q[ph][1] is not None) / 1000

    phase_jobs = {"construct": 0, "plan": 0, "exec": 0}
    for j in jobs:
        a = job_phase[j["id"]]
        if a:
            phase_jobs[a[1]] = phase_jobs.get(a[1], 0) + 1
    exec_jobs = {j["id"] for j in jobs if (job_phase[j["id"]] or ("", ""))[1] == "exec"}
    out_rows = sum(s.get("output_rows", 0) for s in raw["stages"]
                   if stage_job.get(s["id"]) not in exec_jobs)
    out_bytes = sum(s.get("output_bytes", 0) for s in raw["stages"]
                    if stage_job.get(s["id"]) not in exec_jobs)
    listed = {s for j in jobs for s in j["stages"]}
    bd = [b["durations_ms"] for b in raw["batches"]]
    wall = sum(p["wall_s"] for p in traced)
    spans = build_spans(raw)
    selfs = self_times(spans)
    kind_self = {}
    for s in spans:
        kind_self[s["kind"]] = kind_self.get(s["kind"], 0.0) + selfs[s["id"]] / 1000

    m = {
        "phase.construct_s": per_pass(phase_s("construct")),
        "phase.plan_s": per_pass(phase_s("plan")),
        "phase.exec_s": per_pass(phase_s("exec")),
        "phase.construct_jobs": per_pass(phase_jobs["construct"]),
        "phase.exec_jobs": per_pass(phase_jobs["exec"]),
        "phase.construct_self_s": per_pass(kind_self.get("construct", 0.0)),
        "phase.exec_self_s": per_pass(kind_self.get("exec", 0.0)),
        "sources.schema_jobs": per_pass(sum(1 for j in jobs if is_schema_job(j))),
        "sources.scan_rows": per_pass(ssum("input_rows")),
        "sources.scan_bytes": per_pass(ssum("input_bytes")),
        "sources.staging_builds": raw["staging_builds"],
        "ckpt.rdds": per_pass(len(raw["stored_rdds"])),
        "ckpt.block_mb": per_pass(sum(p["block_mb"] for p in traced)),
        "exec.jobs": per_pass(len(jobs)),
        "exec.job_self_s": per_pass(kind_self.get("job", 0.0)),
        "exec.stages": per_pass(len(raw["stages"])),
        "exec.stages_skipped": per_pass(len(listed - done_stages)),
        "exec.tasks": per_pass(ssum("tasks")),
        "exec.task_run_s": per_pass(ssum("run_ms") / 1000),
        "exec.task_cpu_s": per_pass(ssum("cpu_ns") / 1e9),
        "exec.task_gc_s": per_pass(ssum("gc_ms") / 1000),
        "exec.core_util": (ssum("run_ms") / 1000) / (wall * cpus) if wall else 0.0,
        "exec.shuffle_write_bytes": per_pass(ssum("shuffle_write_bytes")),
        "exec.shuffle_read_bytes": per_pass(ssum("shuffle_read_bytes")),
        "exec.spill_bytes": per_pass(ssum("spill_bytes")),
        "exec.plan_exchanges": per_pass(sum(max(0, q["exchanges"]) for q in tq)),
        "stream.batches": per_pass(len(bd)),
        "stream.trigger_s": per_pass(sum(d.get("triggerExecution", 0) for d in bd) / 1000),
        "stream.addbatch_s": per_pass(sum(d.get("addBatch", 0) for d in bd) / 1000),
        "stream.planning_s": per_pass(sum(d.get("queryPlanning", 0) for d in bd) / 1000),
        "stream.commit_s": per_pass(sum(d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                        for d in bd) / 1000),
        "stream.state_rows": per_pass(sum(b["state_rows"] for b in raw["batches"])),
        "stream.input_rows": per_pass(sum(b["input_rows"] for b in raw["batches"])),
        "sink.output_bytes": per_pass(out_bytes),
        "sink.output_rows": per_pass(out_rows),
        "sink.bytes_per_row": out_bytes / out_rows if out_rows else 0.0,
        "jvm.jit_s": raw["jit_setup_s"],
        "jvm.gc_s": per_pass(sum(p["gc_s"] for p in traced)),
        "trace.round_s": statistics.median(p["wall_s"] for p in traced),
        "trace.overhead_s": (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in plain)) if plain else 0.0,
    }
    return m


def build_spans(raw):
    """Spans of the traced passes: query -> construct/plan/exec -> job ->
    stage, and stream batches under the phase they ran in. Times in epoch
    ms; every span carries its query id."""
    tq = [q for q in raw["queries"] if q["traced"]]
    windows = phase_windows(tq)
    spans = []
    for q in tq:
        end = max(x for ph in ("construct", "plan", "exec") for x in q[ph] if x is not None)
        spans.append({"id": q["id"], "parent": None, "kind": "query", "query": q["id"],
                      "name": q["name"], "start": q["construct"][0], "end": end})
        for qid, ph, a, b in windows:
            if qid == q["id"]:
                spans.append({"id": f"{qid}/{ph}", "parent": qid, "kind": ph,
                              "query": qid, "name": q["name"], "start": a, "end": b})
    names = {q["id"]: q["name"] for q in tq}
    jobs = _jobs(raw)
    job_span = {}
    for j in jobs:
        a = attribute(j["start"], j.get("span"), windows)
        parent = f"{a[0]}/{a[1]}" if a else None
        job_span[j["id"]] = (f"job{j['id']}", a[0] if a else None)
        spans.append({"id": f"job{j['id']}", "parent": parent, "kind": "job",
                      "query": a[0] if a else None, "name": j.get("site"),
                      "module": module(j.get("callsite")),
                      "start": j["start"], "end": max(j["end"], j["start"])})
    stage_job = _stage_jobs(jobs)
    for s in raw["stages"]:
        if s.get("start") is None or s.get("end") is None:
            continue
        pid, qid = job_span.get(stage_job.get(s["id"]), (None, None))
        spans.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": pid, "kind": "stage",
                      "query": qid, "name": None, "start": s["start"], "end": s["end"]})
    for b in raw["batches"]:
        a = attribute(b["start"], None, windows)
        spans.append({"id": f"batch{b['run'][:8]}.{b['batch']}",
                      "parent": f"{a[0]}/{a[1]}" if a else None, "kind": "batch",
                      "query": a[0] if a else None, "name": names.get(a[0]) if a else None,
                      "start": b["start"], "end": b["end"]})
    return spans
