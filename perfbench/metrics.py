"""Pure metric arithmetic for the benchmark: percentiles, failure
accounting, result hashing and span self time. No I/O; run.py feeds it the
harness's raw samples and test_harness.py pins its rules."""
import hashlib
import math
import statistics

FAILED = math.inf  # a failed sample misses every latency limit


# ---- percentiles -----------------------------------------------------------

def tail_percentile(n, beyond=10):
    """The highest whole percentile p with at least `beyond` of `n` samples
    above its nearest-rank position; None when n cannot support one."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def nearest_rank(values, p):
    """The nearest-rank p-th percentile (a value that was observed)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def finite(x, sentinel=1e9):
    """JSON has no infinity: a failed sample's latency prints as `sentinel`."""
    return sentinel if math.isinf(x) else x


# ---- closed-loop accounting ------------------------------------------------

def closed_loop_counts(passes, bad_results):
    """(attempted, failed): every timed registry call is one attempt. A call
    fails when it raised, or when its query's checked result was wrong."""
    attempted = failed = 0
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            if not q["ok"] or q["name"] in bad_results:
                failed += 1
    return attempted, failed


def query_latencies_ms(passes, bad_results):
    """Per-call latency (builder call + plan + materialize); failed calls
    count as infinitely late."""
    return [FAILED if (not q["ok"] or q["name"] in bad_results) else q["elapsed_s"] * 1000.0
            for p in passes for q in p["queries"]]


# ---- result checks -----------------------------------------------------------

def canon(df):
    """Column- and row-order-free form of a result frame."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def table_hash(df):
    """sha256 over column names and cell renderings (floats via repr)."""
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        for v in df[col]:
            h.update((repr(v) if isinstance(v, float) else str(v)).encode())
    return h.hexdigest()


def result_digest(df):
    c = canon(df)
    return {"rows": len(c), "sha256": table_hash(c)}


# ---- spans -------------------------------------------------------------------

def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(start, s), min(end, e)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(s["start"], s["end"],
                                                        children.get(s["id"], []))
            for s in spans}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def build_spans(records):
    """Spans from the harness's trace records: harness spans as written,
    plus stream, batch, job and stage spans built from listener events and
    linked to the span that caused them."""
    spans = [dict(r) for r in records if r["kind"] in ("span", "stream")]
    streams = {r["run"] for r in records if r["kind"] == "stream"}
    batch_ids = {}
    for r in records:
        if r["kind"] == "batch":
            sid = f"b{r['query']}/{r['batch']}"
            batch_ids[(r["query"], str(r["batch"]))] = sid
            spans.append({"id": sid, "name": "batch", "trace": r.get("trace"),
                          "parent": f"s{r['run']}" if r["run"] in streams else None,
                          "start": r["start"], "end": r["end"]})
    ends = {r["job"]: r["end"] for r in records if r["kind"] == "job_end"}
    jobs = {}
    for r in records:
        if r["kind"] == "job_start" and r["job"] in ends:
            parent = batch_ids.get((r.get("stream_query"), r.get("batch"))) or r.get("span")
            jobs[r["job"]] = r.get("trace")
            spans.append({"id": f"j{r['job']}", "name": "job", "trace": r.get("trace"),
                          "parent": parent, "start": r["start"], "end": ends[r["job"]]})
    for r in records:
        if r["kind"] == "stage" and r.get("start") is not None and r.get("end") is not None:
            spans.append({"id": f"g{r['stage']}.{r['attempt']}", "name": "stage",
                          "trace": jobs.get(r.get("job")),
                          "parent": f"j{r['job']}" if r.get("job") in jobs else None,
                          "start": r["start"], "end": r["end"]})
    return spans
