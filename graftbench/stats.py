"""Arithmetic behind the benchmark's metrics: percentiles with the tail
rule, unions of time intervals, span self time, and the reduction of one
run's raw record (written by graftbench.Main) to end-to-end and per-layer
metrics. Times are epoch milliseconds unless a name says otherwise."""
import math
from collections import defaultdict

WRITE_VERBS = ["upsert", "append", "delete", "upsert_concurrent", "compact"]
READ_KINDS = ["point", "point_sql", "narrow_range", "wide_range", "time_travel"]
# Must match graftbench.Analytics.Queries.
QUERIES = ["q1_pricing_summary", "q5_local_supplier", "events_sessionized", "asof_join",
           "quantile_sketch", "text_normalize", "ann_ivf"]
# The op kinds whose medians make up `op_p50_ms` on each workload: kinds
# that every run of the workload samples several times.
PRIMARY_KINDS = {
    "store_ingest": ["upsert", "append", "point"],
    "analytics": QUERIES,
}
TAIL_LADDER = [99.9, 99.0, 95.0, 90.0, 75.0]
TAIL_MIN_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(xs)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n):
    """The highest percentile on the ladder that leaves at least ten of n
    samples beyond it, or None when even p75 does not."""
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= TAIL_MIN_BEYOND - 1e-9:
            return p
    return None


def tail(xs):
    """(percentile, value) for the tail rule, or (None, None)."""
    p = tail_percentile(len(xs))
    return (p, percentile(xs, p)) if p is not None else (None, None)


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    """The parts of the intervals that lie inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(clipped(kids[s["id"]], s["start"], s["end"]))
            for s in spans}


def driver_only(span, job_intervals):
    """Wall time of a span during which none of its jobs was running."""
    return (span["end"] - span["start"]
            - union_length(clipped(job_intervals, span["start"], span["end"])))


def job_spans(raw):
    """spark.job spans: each job's parent is the span that launched it
    (tagged through a Spark local property); an untagged job goes to the
    op whose interval contains it."""
    ops = raw["ops"]
    op_of = {s["id"]: s["op"] for s in raw.get("spans", [])}
    out = []
    for j in raw["jobs"]:
        parent = j["span"]
        if not parent:
            inside = [o for o in ops if o["start"] <= j["start"] and j["end"] <= o["end"]]
            parent = inside[0]["id"] if inside else 0
        out.append({"id": -1 - j["id"], "name": "spark.job", "start": j["start"],
                    "end": j["end"], "parent": parent, "op": op_of.get(parent, parent),
                    "job": j["id"]})
    return out


def end_to_end(raw):
    """Every end-to-end figure of one run, plus sample counts."""
    ops = raw["ops"]
    secs = (raw["t1"] - raw["t0"]) / 1000
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o["end"] - o["start"])
    wl = raw["workload"]
    prim = [median(by_kind[k]) for k in PRIMARY_KINDS[wl] if by_kind[k]]
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "ops_per_s": (len(ops) / secs if secs > 0 else 0.0, "1/s"),
        "op_p50_ms": (math.exp(sum(math.log(x) for x in prim) / len(prim)) if prim else None, "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    counts = {}

    def lat(name, kinds, tails=True):
        xs = [x for k in kinds for x in by_kind[k]]
        if not xs:
            return
        m[f"{name}_p50_ms"] = (median(xs), "ms")
        counts[f"{name}_p50_ms"] = len(xs)
        if tails:
            p, v = tail(xs)
            if p is not None:
                key = f"{name}_p{p:g}_ms".replace(".", "_")
                m[key] = (v, "ms")
                counts[key] = len(xs)

    lat("write", WRITE_VERBS)
    lat("upsert", ["upsert"], tails=False)
    lat("append", ["append"], tails=False)
    lat("read", READ_KINDS)
    lat("point_read", ["point", "point_sql"], tails=False)
    lat("range_read", ["narrow_range", "wide_range"], tails=False)
    if wl == "analytics":
        meds = [median(by_kind[q]) for q in QUERIES]
        m["query_set_s"] = (sum(meds) / 1000 if all(x is not None for x in meds) else None, "s")
        counts["query_set_s"] = min(len(by_kind[q]) for q in QUERIES)
    f = raw.get("facts", {})
    if f.get("live_rows"):
        m["live_bytes_per_row"] = (f["live_bytes"] / f["live_rows"], "B")
    submitted = sum(o["rows"] for o in ops if o["kind"] in WRITE_VERBS)
    if submitted:
        added = f["warehouse_bytes"] - f["warehouse_bytes_before"]
        m["bytes_written_per_row"] = (added / submitted, "B")
    return m, counts, {k: len(v) for k, v in sorted(by_kind.items())}


def per_layer(raw):
    """The traced run's per-layer metrics: name -> (value, unit). Every name
    is present on every workload; a layer the workload does not use reads 0."""
    spans = raw["spans"] + job_spans(raw)
    by_id = {s["id"]: s for s in spans}
    jobs = {j["id"]: j for j in raw["jobs"]}
    stages = {s["id"]: s for s in raw["stages"]}
    ops = raw["ops"]

    def stage_sum(job_ids, field):
        return sum(stages[s][field] for j in job_ids for s in jobs[j]["stages"] if s in stages)

    # every job under each span, at any depth
    jobs_under = defaultdict(list)
    for s in spans:
        if s["name"] != "spark.job":
            continue
        p = s["parent"]
        while p:
            jobs_under[p].append(s["job"])
            p = by_id[p]["parent"] if p in by_id else 0

    def intervals(job_ids):
        return [(jobs[j]["start"], jobs[j]["end"]) for j in job_ids]

    named = defaultdict(list)
    for s in spans:
        if s["name"] != "spark.job":
            named[s["name"]].append(s)
    m = {}

    def put(name, value, unit):
        m[name] = (value if value is not None else 0, unit)

    for verb in WRITE_VERBS:
        ss = named[f"store.write.{verb}"]
        n = len(ss)
        js = [j for s in ss for j in jobs_under[s["id"]]]
        wall = [s["end"] - s["start"] for s in ss]
        drv = [driver_only(s, intervals(jobs_under[s["id"]])) for s in ss]
        wf = raw.get("write_files", {}).get(verb, {})
        p = f"store.write.{verb}"
        put(f"{p}.calls", n, "count")
        put(f"{p}.ms_p50", median(wall), "ms")
        put(f"{p}.jobs_per_call", len(js) / n if n else 0, "count")
        put(f"{p}.driver_only_ms_p50", median(drv), "ms")
        put(f"{p}.task_s", stage_sum(js, "task_s"), "s")
        put(f"{p}.bytes_written", wf.get("bytes", 0), "B")
        put(f"{p}.files_added", wf.get("files", 0), "count")

    op_rows = {o["id"]: o["rows"] for o in ops}
    for kind in READ_KINDS:
        p = f"store.read.{kind}"
        plans, execs = named[f"{p}.plan"], named[f"{p}.exec"]
        n = len(plans)
        pj = [j for s in plans for j in jobs_under[s["id"]]]
        ej = [j for s in execs for j in jobs_under[s["id"]]]
        rows = sum(op_rows.get(s["op"], 0) for s in execs)
        put(f"{p}.plan_ms_p50", median([s["end"] - s["start"] for s in plans]), "ms")
        put(f"{p}.plan_jobs_per_call", len(pj) / n if n else 0, "count")
        put(f"{p}.exec_ms_p50", median([s["end"] - s["start"] for s in execs]), "ms")
        put(f"{p}.exec_jobs_per_call", len(ej) / len(execs) if execs else 0, "count")
        put(f"{p}.input_records_per_row",
            stage_sum(pj + ej, "input_records") / rows if rows else 0, "ratio")

    f = raw.get("facts", {})
    for k, unit in [("versions", "count"), ("live_files", "count"),
                    ("max_files_per_bucket", "count"), ("manifest_bytes", "B")]:
        put(f"store.meta.{k}", f.get(f"store.meta.{k}", 0), unit)

    for q in QUERIES:
        qs = [o for o in ops if o["kind"] == q]
        put(f"query.{q}.ms_p50", median([o["end"] - o["start"] for o in qs]), "ms")
        put(f"query.{q}.jobs", len([j for o in qs for j in jobs_under[o["id"]]]) / len(qs) if qs else 0,
            "count")

    timed = [j for j in raw["jobs"] if raw["t0"] <= j["start"] <= raw["t1"]]
    tj = [j["id"] for j in timed]
    gaps = []
    for o in ops:  # gap between consecutive jobs of one op
        iv = sorted(intervals(jobs_under[o["id"]]))
        gaps += [max(0.0, b[0] - a[1]) for a, b in zip(iv, iv[1:])]
    busy = union_length(intervals(tj))
    put("spark.plan_ms", sum(p["plan_ms"] for p in raw["plans"] if raw["t0"] <= p["start"] <= raw["t1"]), "ms")
    put("spark.jobs", len(tj), "count")
    put("spark.stages", sum(len([s for s in jobs[j]["stages"] if s in stages]) for j in tj), "count")
    put("spark.tasks", stage_sum(tj, "tasks"), "count")
    put("spark.task_s", stage_sum(tj, "task_s"), "s")
    put("spark.job_busy_s", busy / 1000, "s")
    put("spark.job_gap_ms_p50", median(gaps), "ms")
    put("spark.shuffle_bytes", stage_sum(tj, "shuffle_bytes"), "B")
    put("spark.spill_bytes", stage_sum(tj, "spill_bytes"), "B")
    put("spark.input_bytes", stage_sum(tj, "input_bytes"), "B")
    put("driver.only_s", sum(driver_only(o, intervals(jobs_under[o["id"]])) for o in ops) / 1000, "s")
    put("jvm.gc_s", raw["gc_s"], "s")
    put("jvm.heap_peak_mb", raw["heap_peak_mb"], "MB")
    secs = (raw["t1"] - raw["t0"]) / 1000
    put("trace.ops_per_s", len(ops) / secs if secs > 0 else 0, "1/s")
    put("trace.spans", len(spans), "count")
    return m


def spans_with_self_time(raw):
    """All spans of a traced run, spark.job spans included, with self time."""
    spans = raw["spans"] + job_spans(raw)
    st = self_times(spans)
    return [dict(s, self_ms=round(st[s["id"]], 3)) for s in sorted(spans, key=lambda s: s["start"])]
