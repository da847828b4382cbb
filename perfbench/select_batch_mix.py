#!/usr/bin/env python3
"""Derive the batch-mix query list from a registry probe.

    python3 perfbench/select_batch_mix.py PROBE_JSON

PROBE_JSON is the output of `perfbench.Harness probe --repeat 2` on the
generated sf0.01 tables (committed as workloads/batch-mix.probe.json). The
rule, applied to the warm (second) round:

1. Candidates are registry queries that ran without error and started no
   streaming query in any round (some start one only on their first call
   in a session, then reuse its result), minus the keyed-state workload's
   queries and those in workloads/batch-mix.exclude (they start one only
   when they are the first caller of a per-session cache).
2. A query's module is the operator object its registry entry calls
   (`Module.method` in SparkEntry.scala).
3. Every module contributes its slowest query. The remaining slots of
   SLOTS go to modules in proportion to their summed batch time (largest
   remainder), each filled from the module's queries at evenly spaced ranks
   of its time-sorted list, so a module's sample spans its cost range.

Writes workloads/batch-mix.txt and the annotated probe.
"""
import json
import re
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SLOTS = 24


def modules(entry_src):
    found = {}
    for m in re.finditer(r'"([A-Za-z0-9_]+)"\s*->\s*\(\(s, dir\)\s*=>\s*(\{?)\s*([A-Z][A-Za-z]+)?',
                         entry_src):
        found.setdefault(m.group(1), m.group(3) or "SparkEntry")
    return found


def select(rows, module_of, exclude, slots=SLOTS):
    cand = [r for r in rows
            if r["ok"] and not any(r["streams_by_round"]) and r["name"] not in exclude]
    by_mod = {}
    for r in cand:
        by_mod.setdefault(module_of[r["name"]], []).append(r)
    for qs in by_mod.values():
        qs.sort(key=lambda r: (-r["elapsed_s"], r["name"]))
    total = sum(r["elapsed_s"] for r in cand)
    share = {m: sum(r["elapsed_s"] for r in qs) / total * slots for m, qs in by_mod.items()}
    alloc = {m: 1 for m in by_mod}
    for _ in range(slots - len(alloc)):
        open_ = [m for m in by_mod if alloc[m] < len(by_mod[m])]
        if not open_:
            break
        # the next slot goes to the module furthest below its share
        alloc[max(open_, key=lambda m: (share[m] - alloc[m], m))] += 1
    picked = []
    for m, qs in sorted(by_mod.items()):
        k = min(alloc[m], len(qs))
        ranks = sorted({round(i * (len(qs) - 1) / max(1, k - 1)) for i in range(k)}) if k > 1 else [0]
        picked += [(m, qs[i]["name"]) for i in ranks]
    return picked, share


def main():
    probe = json.loads(Path(sys.argv[1]).read_text())
    root = BENCH.parent
    module_of = modules((root / "src/main/scala/graft/SparkEntry.scala").read_text())
    def names(f):
        return {l.split()[0] for l in (BENCH / "workloads" / f).read_text().splitlines()
                if l.strip() and not l.startswith("#")}
    picked, share = select(probe, module_of, names("keyed-state.txt") | names("batch-mix.exclude"))
    for r in probe:
        r["module"] = module_of[r["name"]]
    rows = sorted(probe, key=lambda r: r["name"])
    (BENCH / "workloads/batch-mix.probe.json").write_text(
        "[\n" + ",\n".join(json.dumps(r, sort_keys=True) for r in rows) + "\n]\n")
    lines = ["# batch-mix: registry queries that start no streaming query, sampled",
             "# across source modules by perfbench/select_batch_mix.py from",
             "# workloads/batch-mix.probe.json (rule in that script's docstring).",
             "# Regenerate: python3 perfbench/select_batch_mix.py <probe.json>"]
    lines += [f"{name:40s} batch   # {m}" for m, name in picked]
    (BENCH / "workloads/batch-mix.txt").write_text("\n".join(lines) + "\n")
    print(f"{len(picked)} queries from {len(share)} modules")


if __name__ == "__main__":
    main()
