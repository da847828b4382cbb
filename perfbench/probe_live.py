#!/usr/bin/env python3
"""Offered-load probe for the live-stream workload.

    python3 perfbench/probe_live.py [--seconds 12] [--seed 1]

Runs the live-stream workload (untraced) at a doubling ladder of tick rates,
one trading day of quotes for the workload's symbols per tick, and writes one
row per rate to perfbench/workloads/live-stream.probe.json.

A micro-batch reads every file present when it starts, and while its time
is mostly fixed cost (planning, state-store commit) more files per batch
cost little more: the ladder's median batch times form a plateau. The
streams start to back up at the lowest rate whose median batch takes more
than BACKUP_FACTOR times the plateau (the median of the ladder's median
batch times): there the batch time grows with the files it reads, so each
longer batch leaves more files for the next. The workload offers
OFFERED_SHARE of that rate, rounded down to a ladder rate, which leaves room
for the run-to-run variation of the batch time; run.py's live-stream `rate`
is the probe's `offered_rate`. Each row also records `latency_growth`, the
emit latency of the run's last third over its first: well above 1 when a
stream no longer keeps up.
"""
import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import metrics as M  # noqa: E402
import run as R  # noqa: E402

LADDER = [0.5, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0]
BACKUP_FACTOR = 1.5
OFFERED_SHARE = 0.25


def choose_rate(rows):
    """(backed-up rate, offered rate) from the probe rows, by the rule above;
    (None, None) when no ladder rate backed the streams up."""
    limit = BACKUP_FACTOR * M.median([r["batch_ms_p50"] for r in rows])
    backed_up = min((r["rate"] for r in rows if r["batch_ms_p50"] > limit), default=None)
    if backed_up is None:
        return None, None
    return backed_up, max(r for r in LADDER if r <= OFFERED_SHARE * backed_up)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    base = R.WORKLOADS["live-stream"]
    rows = []
    for rate in LADDER:
        # low rates give fewer emit samples than a timed run needs
        cfg = dict(base, rate=rate, min_samples=1)
        valid, attempted, failed, info, e2e = R.measure("live-stream", cfg, a.seed, a.seconds, 0)
        row = {"rate": rate, "rows_per_s": rate * base["symbols"], "valid": valid,
               "failed": failed, **{k: info[k] for k in (
                   "batch_ms_p50", "files_per_batch_p50", "files_per_batch_max",
                   "latency_growth", "generator_late_ms_max")},
               **{k: v for k, (v, _) in e2e.items()}}
        rows.append(row)
        print(json.dumps(row), flush=True)
    backed_up, offered = choose_rate(rows)
    if backed_up is None:
        sys.exit("no ladder rate backed the streams up; extend the ladder")
    out = {"symbols": base["symbols"], "seconds": a.seconds, "seed": a.seed,
           "rule": "backed_up_rate: lowest rate whose batch_ms_p50 exceeds backup_factor "
                   "times the median batch_ms_p50 of all rates; offered_rate: largest "
                   "ladder rate <= offered_share * backed_up_rate",
           "backup_factor": BACKUP_FACTOR, "offered_share": OFFERED_SHARE, "backed_up_rate": backed_up,
           "offered_rate": offered, "runs": rows}
    (R.BENCH / "workloads" / "live-stream.probe.json").write_text(json.dumps(out, indent=1) + "\n")
    print(f"the streams back up at {backed_up} ticks/s; offer {offered} ticks/s "
          f"({offered * base['symbols']:.0f} rows/s)")


if __name__ == "__main__":
    main()
