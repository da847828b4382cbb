#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload keyed-state|batch-mix|live-stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and the
library from source (sbt, offline) and generates the input tables under
.bench_build/; later runs reuse both while their sources are unchanged.
With --trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer metrics (see perfbench/README.md). The last stdout line is the
result; the exit code is 0 only when a result was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import metrics as M

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 170  # every run ends well inside the 180 s a run may take
BUILD_LIMIT_S = 850

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

# One entry per workload. `tail` is the latency tail percentile: the highest
# whole percentile with at least ten samples beyond it at the workload's
# smallest sample count (`min_samples`), which every valid run reaches.
WORKLOADS = {
    "keyed-state": {"kind": "closed", "list": "keyed-state.txt", "sf": 0.01,
                    "tables": ["events"], "min_samples": 24},
    "batch-mix": {"kind": "closed", "list": "batch-mix.txt", "sf": 0.01,
                  "tables": ALL_TABLES, "min_samples": 24},
    # `rate` (files per second, one trading day of `symbols` quotes each) is
    # a quarter of the rate at which the four streams start to back up, as
    # measured by probe_live.py (workloads/live-stream.probe.json)
    "live-stream": {"kind": "live", "symbols": 50, "rate": 8.0, "warm_ticks": 40,
                    "warm_paced_s": 6, "min_samples": 120},
}
for _w in WORKLOADS.values():
    _w["tail"] = M.tail_percentile(_w["min_samples"])

# a fixed heap size, so the collector does not resize it; heap pages count in
# the resident set only once they are used
JAVA_OPTS = ["-Xms2g", "-Xmx2g"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=1):
    log(msg)
    sys.exit(code)


# ---- build and inputs ----------------------------------------------------------

def source_stamp():
    """Digest of every file the harness build compiles or configures."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt once per source state; returns the
    runtime classpath."""
    stamp, cp_file = source_stamp(), BUILD / "classpath.json"
    if cp_file.exists():
        cached = json.loads(cp_file.read_text())
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building the library and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    sbt_opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
                f"-J-Djava.io.tmpdir={BUILD / 'tmp'}"]
    if Path(os.path.expanduser("~/.sbt/repositories")).exists():
        sbt_opts.append("-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    out = subprocess.run(["sbt", "--batch", *sbt_opts, "compile", "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, capture_output=True, text=True,
                         timeout=BUILD_LIMIT_S)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    cp = [l for l in out.stdout.splitlines() if not l.startswith("[")][-1].strip()
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    return cp


def tables(sf, names):
    """Generated input tables at `sf`, made once per generator version."""
    stamp = hashlib.sha256((BENCH / "gen_tables.py").read_bytes()).hexdigest()[:16]
    d = BUILD / "data" / f"sf{sf}-{stamp}"
    if not all((d / f"{t}.parquet").exists() for t in names):
        log(f"generating tables at sf{sf}")
        subprocess.run([sys.executable, str(BENCH / "gen_tables.py"), str(d), str(sf), *names],
                       check=True, timeout=300)
    return d


def harness(cp, args, out_dir, timeout_s):
    """Run the JVM harness in its own process group; kill the group (the
    harness and any generator it started) if it overruns."""
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness", *args]
    with open(out_dir / "jvm.log", "w") as jlog:
        p = subprocess.Popen(cmd, cwd=out_dir, stdout=jlog, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(5.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("harness overran its time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def jvm_log_tail(out_dir, n=30):
    lines = (out_dir / "jvm.log").read_text(errors="replace").splitlines()
    return "\n".join(l for l in lines[-400:] if "[perfbench]" in l or "Exception" in l)[-3000:] \
        or "\n".join(lines[-n:])


# ---- checks ------------------------------------------------------------------

def expected_results(workload):
    return json.loads((BENCH / "expected" / f"{workload}.json").read_text())["queries"]


def check_results(expected, out_dir, warmup):
    """Listed queries whose dumped result differs from the stored oracle
    digest, or that produced no result, mapped to the reason."""
    import pandas as pd
    bad = {}
    for w in warmup:
        name = w["name"]
        if not w["ok"]:
            bad[name] = w["error"]
            continue
        got = M.result_digest(pd.read_parquet(out_dir / "results" / name))
        if got != expected.get(name):
            bad[name] = f"result {got} != oracle {expected.get(name)}"
    return bad


# ---- closed loops ------------------------------------------------------------

def closed_metrics(s, bad, cfg):
    passes = s["passes"]
    untraced = [p for p in passes if not p["traced"]]
    lat = M.query_latencies_ms(untraced, bad)
    attempted, failed = M.closed_loop_counts(passes, bad)
    if len(lat) < cfg["min_samples"]:
        die(f"only {len(lat)} latency samples; the workload needs {cfg['min_samples']}")
    wall = sum(p["wall_s"] for p in untraced)
    ok = sum(1 for x in lat if x != M.FAILED)
    e2e = {
        "setup_s": ((s["setup_end_ms"] - s["jvm_start_ms"]) / 1000.0, "s"),
        "pass_s": (M.median([p["wall_s"] for p in untraced]), "s"),
        "latency_ms.p50": (M.finite(M.median(lat)), "ms"),
        "latency_ms.tail": (M.finite(M.nearest_rank(lat, cfg["tail"])), "ms"),
        "throughput_per_s": (ok / wall, "1/s"),
        "peak_rss_mb": (s["rss_hwm_mb"], "MB"),
    }
    info = {"samples": len(lat), "tail_percentile": cfg["tail"],
            "passes": len(untraced), "failed_frac": failed / attempted}
    return e2e, attempted, failed, info


# ---- live stream -------------------------------------------------------------

def read_manifest(path):
    return [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]


def live_emits(s, man, since_ms=None, until_ms=None):
    """Emit latency per (query, file) delivery: arrival at the sink minus the
    creation stamp of the file holding the last quote that contributes to a
    row (the row's ord is that file's day). All rows a query emits for one
    file arrive in one batch, so each delivery is one sample, not one per row."""
    created = {m["day"]: m["created_ms"] for m in man}
    out = []
    for sink in s["sinks"].values():
        for a in sink:
            for o in set(a["ords"]):
                c = created.get(o)  # None: a warm-up tick
                if c is not None and (since_ms is None or c >= since_ms) \
                        and (until_ms is None or c < until_ms):
                    out.append(a["at_ms"] - c)
    return out


def live_batches(s, since_ms, until_ms=None):
    """(duration ms, files read) of every micro-batch with input that started
    in [since_ms, until_ms), from the queries' own progress reports, which
    exist traced or not."""
    return [(b["batch_ms"], b["rows"] / s["symbols"])
            for prog in s["progress"].values() for b in prog
            if b["start_ms"] >= since_ms and (until_ms is None or b["start_ms"] < until_ms)]


def live_metrics(s, cfg):
    man = read_manifest(s["manifest"])
    # latency samples: files created after the first second of ticks
    lat = live_emits(s, man, man[0]["created_ms"] + 1000.0)
    if len(lat) < cfg["min_samples"]:
        die(f"only {len(lat)} emit samples; the workload needs {cfg['min_samples']}")
    # throughput: the timed ticks' input rows over the time from the first
    # tick's due time to the last row emitted; a growing backlog delays that
    # last row, so this falls below the offered rate
    last_row = max(a["at_ms"] for sink in s["sinks"].values() for a in sink)
    pass_s = (last_row - man[0]["due_ms"]) / 1000.0
    chk = s["check"]
    attempted, failed = chk["expected"], chk["missing"] + chk["extra"]
    e2e = {
        "setup_s": ((s["setup_end_ms"] - s["jvm_start_ms"]) / 1000.0, "s"),
        "pass_s": (pass_s, "s"),
        "latency_ms.p50": (M.median(lat), "ms"),
        "latency_ms.tail": (M.nearest_rank(lat, cfg["tail"]), "ms"),
        "throughput_per_s": (sum(m["rows"] for m in man) / pass_s, "1/s"),
        "peak_rss_mb": (s["rss_hwm_mb"], "MB"),
    }
    late = max(m["created_ms"] - m["due_ms"] for m in man)
    batches = live_batches(s, man[0]["due_ms"])
    # a stream that keeps up has no trend in emit latency; one that backs up
    # delays each file more than the one before
    third = (man[-1]["created_ms"] - man[0]["created_ms"]) / 3.0
    first = live_emits(s, man, man[0]["created_ms"] + 1000.0, man[0]["created_ms"] + third)
    last = live_emits(s, man, man[-1]["created_ms"] - third)
    info = {"samples": len(lat), "tail_percentile": cfg["tail"],
            "offered_rows_per_s": cfg["rate"] * cfg["symbols"],
            "batch_ms_p50": M.median([d for d, _ in batches]),
            "files_per_batch_p50": M.median([f for _, f in batches]),
            "files_per_batch_max": max(f for _, f in batches),
            "latency_growth": M.median(last) / M.median(first),
            "generator_late_ms_max": late, "failed_frac": failed / max(1, attempted),
            "per_query": chk["per_query"]}
    return e2e, attempted, failed, info


# ---- per-layer metrics -------------------------------------------------------

LAYER_UNITS = {
    "build_s": "s", "catalyst.plan_s": "s", "exec.materialize_s": "s",
    "self_s.query": "s", "self_s.build": "s", "self_s.plan": "s",
    "self_s.materialize": "s", "self_s.stream": "s", "self_s.batch": "s", "self_s.job": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_gc_s": "s",
    "spark.task_wait_s": "s", "spark.tasks_failed": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "io.input_rows": "count", "io.input_bytes": "bytes",
    "streaming.queries": "count", "streaming.batches": "count",
    "streaming.empty_batch_frac": "fraction", "streaming.batch_ms.p50": "ms",
    "streaming.batch_ms.p99": "ms", "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.offset_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.outside_batch_s": "s",
    "state.commit_ms": "ms", "state.update_ms": "ms", "state.rows_total": "count",
    "state.rows_updated": "count", "state.memory_bytes": "bytes",
    "generator.late_ms.max": "ms", "generator.files": "count",
    "streaming.backlog_files.max": "count",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "trace.overhead_frac": "fraction",
}


def backlog_files_max(batches, rate, symbols):
    """The most files one micro-batch read beyond those that arrived since
    the previous batch of its query started. A batch reads every file present
    when it starts, so this is 0 (up to tick jitter) while the streams keep
    up, and counts files left over from earlier batches when they do not."""
    excess = [0.0]
    for run in {b["run"] for b in batches}:
        seq = sorted((b for b in batches if b["run"] == run), key=lambda b: b["batch"])
        excess += [b["input_rows"] / symbols - rate * (b["start"] - prev["start"]) / 1000.0
                   for prev, b in zip(seq, seq[1:])]
    return max(excess)


def layer_metrics(s, records):
    """Per-layer totals over the traced part of the run: per traced pass for
    closed loops, per traced window for the live stream."""
    spans = M.build_spans(records)
    selfs = M.self_times(spans)
    live = s["workload_kind"] == "live"
    if live:
        man = read_manifest(s["manifest"])
        # tracing overhead: traced against untraced micro-batch durations
        mid = s["trace_from_ms"]
        plain = [d for d, _ in live_batches(s, man[0]["due_ms"], mid)]
        traced = [d for d, _ in live_batches(s, mid)]
        scale, overhead = 1.0, M.median(traced) / M.median(plain) - 1.0
    else:
        tp = [p for p in s["passes"] if p["traced"]]
        up = [p for p in s["passes"] if not p["traced"]]
        scale = 1.0 / len(tp)
        overhead = (M.median([p["wall_s"] for p in tp]) /
                    M.median([p["wall_s"] for p in up]) - 1.0)
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)

    def total(name):
        return sum(sp["end"] - sp["start"] for sp in by_name.get(name, [])) / 1000.0

    def self_total(name):
        return sum(selfs[sp["id"]] for sp in by_name.get(name, [])) / 1000.0

    stages = [r for r in records if r["kind"] == "stage"]
    batches = [r for r in records if r["kind"] == "batch"]

    def ssum(key):
        return sum(r.get(key) or 0 for r in stages)

    def dsum(*keys):
        return sum(r["durations"].get(k, 0) for r in batches for k in keys)

    last_total = {}
    for b in sorted(batches, key=lambda r: r["batch"]):
        last_total[b["run"]] = sum(x["rows_total"] for x in b["state"])
    trig = [b["durations"].get("triggerExecution", 0) for b in batches]
    if live:
        window = (s["gen_end_ms"] - s["trace_from_ms"])
        outside = sum(max(0.0, window - sum(b["end"] - b["start"] for b in batches
                                           if b["run"] == run)) for run in last_total) / 1000.0
        gen = {"generator.late_ms.max": max(m["created_ms"] - m["due_ms"] for m in man),
               "generator.files": len(man),
               "streaming.backlog_files.max": backlog_files_max(batches, s["rate"], s["symbols"])}
    else:
        outside = self_total("stream")
        gen = {"generator.late_ms.max": 0.0, "generator.files": 0,
               "streaming.backlog_files.max": 0}
    v = {
        "build_s": total("build"), "catalyst.plan_s": total("plan"),
        "exec.materialize_s": total("materialize"),
        "self_s.query": self_total("query"), "self_s.build": self_total("build"),
        "self_s.plan": self_total("plan"), "self_s.materialize": self_total("materialize"),
        "self_s.stream": self_total("stream"), "self_s.batch": self_total("batch"),
        "self_s.job": self_total("job"),
        "spark.jobs": len(by_name.get("job", [])), "spark.stages": len(stages),
        "spark.tasks": ssum("tasks"), "spark.task_run_s": ssum("run_ms") / 1000.0,
        "spark.task_cpu_s": ssum("cpu_ns") / 1e9, "spark.task_gc_s": ssum("gc_ms") / 1000.0,
        "spark.task_wait_s": ssum("task_wait_ms") / 1000.0,
        "spark.tasks_failed": ssum("tasks_failed"),
        "shuffle.write_bytes": ssum("shuffle_write_bytes"),
        "shuffle.read_bytes": ssum("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": ssum("fetch_wait_ms") / 1000.0,
        "spill.bytes": ssum("spill_bytes"),
        "io.input_rows": ssum("input_rows"), "io.input_bytes": ssum("input_bytes"),
        "streaming.queries": len(last_total), "streaming.batches": len(batches),
        "streaming.planning_ms": dsum("queryPlanning"),
        "streaming.add_batch_ms": dsum("addBatch"),
        "streaming.offset_ms": dsum("latestOffset", "getBatch"),
        "streaming.wal_commit_ms": dsum("walCommit", "commitOffsets"),
        "streaming.outside_batch_s": outside,
        "state.commit_ms": sum(x["commit_ms"] for b in batches for x in b["state"]),
        "state.update_ms": sum(x["update_ms"] for b in batches for x in b["state"]),
        "state.rows_total": sum(last_total.values()),
        "state.rows_updated": sum(x["rows_updated"] for b in batches for x in b["state"]),
        "jvm.gc_s": s["jvm"]["gc_s"],
    }
    v = {k: x * scale for k, x in v.items()}  # per traced pass (closed loops)
    v.update(gen)
    v.update({
        "streaming.empty_batch_frac":
            sum(1 for b in batches if b["input_rows"] == 0) / len(batches) if batches else 0.0,
        "streaming.batch_ms.p50": M.median(trig),
        "streaming.batch_ms.p99": M.nearest_rank(trig, 99) if trig else 0.0,
        "state.memory_bytes": max([sum(x["memory_bytes"] for x in b["state"])
                                   for b in batches] or [0]),
        "jvm.heap_peak_mb": s["jvm"]["heap_peak_mb"],
        "trace.overhead_frac": overhead,
    })
    return {k: (v[k], LAYER_UNITS[k]) for k in LAYER_UNITS}, spans, selfs


# ---- main ----------------------------------------------------------------------

def measure(workload, cfg, seed, seconds, trace):
    """One run of `workload` under `cfg`. Returns (valid, attempted, failed,
    info, metrics) with metrics mapping name -> (value, unit): end-to-end
    untraced, per-layer traced."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            die(f"no library sources at {need.relative_to(ROOT)}: run from a full checkout")
    cp = build()
    t_ready = time.time()
    out_dir = BUILD / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    try:
        args = ["run", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace), "--out", str(out_dir),
                "--cpus", str(os.cpu_count() or 4)]
        if cfg["kind"] == "closed":
            data = tables(cfg["sf"], cfg["tables"])
            args += ["--data", str(data), "--list", str(BENCH / "workloads" / cfg["list"])]
        else:
            args += ["--python", sys.executable, "--livegen", str(BENCH / "livegen.py"),
                     "--symbols", str(cfg["symbols"]), "--rate", str(cfg["rate"]),
                     "--warm-ticks", str(cfg["warm_ticks"]),
                     "--warm-paced-seconds", str(cfg["warm_paced_s"])]
        # a first run may build for minutes; the run's own limit starts after
        code = harness(cp, args, out_dir, RUN_LIMIT_S - (time.time() - t_ready))
        if code == 3:
            die("workload list drifted from the registry:\n" + jvm_log_tail(out_dir), 3)
        if code != 0:
            die(f"harness exited with {code}:\n" + jvm_log_tail(out_dir))
        s = json.loads((out_dir / "samples.json").read_text())
        if cfg["kind"] == "closed":
            bad = check_results(expected_results(workload), out_dir, s["warmup"])
            for name, why in sorted(bad.items()):
                log(f"WRONG {name}: {why}")
            e2e, attempted, failed, info = closed_metrics(s, bad, cfg)
            valid = True
        else:
            e2e, attempted, failed, info = live_metrics(s, cfg)
            # a generator that fell behind its schedule offered less load than
            # stated: the run is invalid, never fast
            valid = info["generator_late_ms_max"] <= 1000.0 / cfg["rate"]
            if not valid:
                log(f"generator ran {info['generator_late_ms_max']:.1f} ms late: run invalid")
        if not trace:
            return valid, attempted, failed, info, e2e
        records = json.loads((out_dir / "trace.json").read_text())
        layers, spans, selfs = layer_metrics(s, records)
        trace_dir = BUILD / "traces"
        trace_dir.mkdir(exist_ok=True)
        with open(trace_dir / f"{workload}-seed{seed}.spans.jsonl", "w") as f:
            for sp in spans:
                f.write(json.dumps(dict(sp, self_ms=selfs[sp["id"]])) + "\n")
        return valid, attempted, failed, info, layers
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    valid, attempted, failed, info, shown = measure(
        a.workload, WORKLOADS[a.workload], a.seed, a.seconds, a.trace)
    for k, v in info.items():
        print(f"{k}: {v}")
    for k, (v, unit) in shown.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({"correct": valid and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
