"""Arithmetic of the benchmark: medians, quartiles, the percentile
sample rule, span trees with self time, and the per-layer roll-up.

Everything here is a pure function of the harness artifact
(`result.json` + `spans.jsonl`), so `test_metrics.py` can pin it on
hand-made inputs.
"""
import statistics

MB = float(1 << 20)

# planning phases as named by Catalyst's QueryPlanningTracker
PLAN_PHASES = {"analysis": "plan.analysis_ms",
               "optimization": "plan.optimizer_ms",
               "planning": "plan.physical_ms"}

# listener timestamps are whole milliseconds; a span whose start falls
# this close outside a query still belongs to it
SLACK_US = 2000


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def percentile_supported(n, p):
    """A percentile is reported only with at least ten samples beyond
    it: samples strictly above rank ceil(p*n)."""
    k = -(-p * n // 1)  # ceil without floats drifting past integers
    return n - int(k) >= 10


def percentile(xs, p):
    """Inclusive-method percentile, p in hundredths (0.01 .. 0.99)."""
    qs = statistics.quantiles(xs, n=100, method="inclusive")
    return qs[int(round(p * 100)) - 1]


def failed_frac(attempted, failed_names, mismatched_names):
    """Share of the attempted queries that raised or failed the oracle;
    a query that does both counts once."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return len(set(failed_names) | set(mismatched_names)) / attempted


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Span duration minus the part of it its children cover (children
    are clipped to the span; overlapping children count once)."""
    s, e = span["start_us"], span["end_us"]
    clipped = [(max(s, c["start_us"]), min(e, c["end_us"]))
               for c in children]
    return (e - s) - union_length(clipped)


def query_spans(samples):
    """query, build and action spans from the harness's own timings."""
    out = []
    for x in samples:
        q = "q%d" % x["qid"]
        base = {"qid": x["qid"], "pass": x["pass"], "attrs": {}}
        out.append(dict(base, kind="query", name=x["name"], id=q,
                        parent=None, start_us=x["start_us"],
                        end_us=x["end_us"]))
        out.append(dict(base, kind="build", name=x["name"], id=q + ".b",
                        parent=q, start_us=x["start_us"],
                        end_us=x["build_end_us"]))
        out.append(dict(base, kind="action", name=x["name"], id=q + ".a",
                        parent=q, start_us=x["build_end_us"],
                        end_us=x["end_us"]))
    return out


def link(spans):
    """Fills in qid and parent for listener spans.

    Jobs carry their query id from the submitting thread; plan phases
    and micro-batches are placed by time, since queries run one at a
    time. Within a query a span's parent is the build or action phase
    its start falls in, or for a job the micro-batch that holds its
    start; a stage's parent is its job. Returns the spans with `qid` and
    `parent` set where known.
    """
    queries = sorted((s for s in spans if s["kind"] == "query"),
                     key=lambda s: s["start_us"])
    phases = {}
    for s in spans:
        if s["kind"] in ("build", "action"):
            phases.setdefault(s["qid"], {})[s["kind"]] = s

    def holding(t):
        for q in queries:
            if q["start_us"] - SLACK_US <= t <= q["end_us"] + SLACK_US:
                return q["qid"]
        return None

    for s in spans:
        if s["kind"] in ("plan", "batch", "job") and s.get("qid") is None:
            s["qid"] = holding(s["start_us"])
    batches = {}
    for s in spans:
        if s["kind"] == "batch" and s["qid"] is not None:
            batches.setdefault(s["qid"], []).append(s)

    jobs = {}
    for s in spans:
        if s["kind"] not in ("plan", "batch", "job") or s["qid"] not in phases:
            continue
        ph = phases[s["qid"]]
        p = ph["build"] if s["start_us"] < ph["build"]["end_us"] \
            else ph["action"]
        if s["kind"] == "job":
            inside = [b for b in batches.get(s["qid"], [])
                      if b["start_us"] <= s["start_us"] <= b["end_us"]]
            if inside:
                p = min(inside, key=lambda b: b["end_us"] - b["start_us"])
            jobs[s["id"]] = s
        s["parent"] = p["id"]
    for s in spans:
        if s["kind"] == "stage":
            j = jobs.get(s.get("parent"))
            s["qid"] = j["qid"] if j else s.get("qid")
    return spans


def self_times(spans):
    """Self time per span kind, summed over the given spans."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0) + self_time(
            s, kids.get(s["id"], []))
    return out


def _pass_layers(spans, wall_ms, pins, gc_ms):
    """Per-layer totals of one traced pass."""
    by_id = {s["id"]: s for s in spans}
    kind = lambda k: [s for s in spans if s["kind"] == k]
    jobs, stages = kind("job"), kind("stage")
    a = lambda ss, key: sum(s["attrs"].get(key, 0.0) for s in ss)
    ms = lambda ss: sum(s["end_us"] - s["start_us"] for s in ss) / 1000.0

    def job_phase(j):
        p = by_id.get(j.get("parent"))
        while p is not None and p["kind"] not in ("build", "action"):
            p = by_id.get(p.get("parent"))
        return p["kind"] if p else None

    phase_of_job = {j["id"]: job_phase(j) for j in jobs}
    sink_stages = [s for s in stages
                   if phase_of_job.get(s.get("parent")) != "action"]
    job_iv = {}
    for j in jobs:
        job_iv.setdefault(j["qid"], []).append((j["start_us"], j["end_us"]))
    nojob = sum(self_time(q, [{"start_us": s, "end_us": e}
                              for s, e in job_iv.get(q["qid"], [])])
                for q in kind("query")) / 1000.0
    run_ms = a(stages, "run_ms")
    batches = kind("batch")
    st = self_times(spans)
    m = {
        "build.ms": ms(kind("build")),
        "build.jobs": sum(1 for j in jobs if phase_of_job[j["id"]] == "build"),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": a(stages, "tasks"),
        "driver.nojob_ms": nojob,
        "exec.run_ms": run_ms,
        "exec.cpu_ms": a(stages, "cpu_ms"),
        "exec.gc_ms": a(stages, "gc_ms"),
        "exec.core_busy": run_ms / wall_ms if wall_ms > 0 else 0.0,
        "scan.mb": a(stages, "in_bytes") / MB,
        "scan.rows": a(stages, "in_rows"),
        "shuffle.write_mb": a(stages, "shuffle_write_bytes") / MB,
        "shuffle.read_mb": a(stages, "shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_ms": a(stages, "fetch_wait_ms"),
        "spill.mb": a(stages, "spill_bytes") / MB,
        "pin.blocks": pins[0],
        "pin.mb_peak": pins[1] / MB,
        "stream.batches": len(batches),
        "stream.input_rows": a(batches, "input_rows"),
        "stream.addbatch_ms": a(batches, "addbatch_ms"),
        "stream.commit_ms": a(batches, "commit_ms"),
        "stream.state_commit_ms": a(batches, "state_commit_ms"),
        "stream.state_rows": a(batches, "state_rows"),
        "sink.output_mb": a(sink_stages, "out_bytes") / MB,
        "sink.output_rows": a(sink_stages, "out_rows"),
        "driver.gc_ms": gc_ms,
    }
    for phase, name in PLAN_PHASES.items():
        m[name] = ms([s for s in kind("plan") if s["name"] == phase])
    for k in ("build", "action", "plan", "job", "stage", "batch"):
        m["self.%s_ms" % k] = st.get(k, 0) / 1000.0
    return m


def pass_walls(samples):
    """Per pass: sum of the timed query latencies, in seconds."""
    walls = {}
    for x in samples:
        walls[x["pass"]] = walls.get(x["pass"], 0.0) + (
            x["end_us"] - x["start_us"]) / 1e6
    return walls


def layer_metrics(result, listener_spans):
    """Per-layer metrics of a traced run: the median over traced passes
    of each per-pass total, the table-open probe, and the tracing
    overhead from the interleaved untraced passes."""
    samples = result["samples"]
    spans = link(query_spans(samples) + listener_spans)
    walls = pass_walls(samples)
    traced = sorted({x["pass"] for x in samples if x["traced"]})
    untraced = sorted({x["pass"] for x in samples if not x["traced"]})
    pins = {c["pass"]: (c["blocks"], c["peak_bytes"])
            for c in result["pin_counters"]}
    qpass = {x["qid"]: x["pass"] for x in samples}
    per_pass = []
    for p in traced:
        ss = [s for s in spans if qpass.get(s.get("qid")) == p]
        gc = sum(x["gc_ms"] for x in samples if x["pass"] == p)
        per_pass.append(_pass_layers(ss, walls[p] * 1000.0,
                                     pins.get(p, (0, 0)), gc))
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    probe = result["table_probe"]
    probe_q = {t["qid"] for t in probe}
    out["table.open_ms"] = median([t["ms"] for t in probe])
    out["table.open_jobs"] = sum(
        1 for s in spans
        if s["kind"] == "job" and s.get("qid") in probe_q) / len(probe)
    out["trace.overhead_frac"] = (
        median([walls[p] for p in traced])
        / median([walls[p] for p in untraced]) - 1.0)
    return out
