#!/usr/bin/env python3
"""Live quote generator for the live-stream workload.

A single-threaded process that writes one HDFC-shaped quote CSV per tick,
one trading day for each of SYMBOLS symbols, into DIR on a fixed schedule.
Each file is written under a hidden temporary name (the file source skips
names starting with '.') and then renamed, so a reader never sees a partial
file. Every file's due time and creation time go to the manifest, one JSON
line per file; the last stdout line summarises how late the ticks ran.

    livegen.py --dir D --manifest M --seed N --symbols S [--first-tick F]
               (--ticks T | --seconds X) --rate R
                                        # R ticks/s, 0 = no pacing

Ticks are numbered from 0, one trading day each; with --first-tick F the
generator replays ticks 0..F-1 without writing them, so a second invocation
continues the series a first one (--ticks F) wrote.
"""
import argparse
import datetime as dt
import json
import os
import random
import time

HEADER = ("Date,Symbol,Series,PrevClose,Open,High,Low,Last,Close,VWAP,Volume,"
          "Turnover,Trades,DeliverableVolume,PctDeliverable")
FIRST_DAY = dt.date(2020, 1, 1)
EPOCH = dt.date(1970, 1, 1)


def day_rows(rng, day, prices):
    """One trading day for every symbol; closes random-walk around 300 so
    the 300.0 threshold of the gap job is crossed both ways."""
    rows = []
    for i, prev in enumerate(prices):
        close = round(max(1.0, prev * (1.0 + rng.gauss(0.0, 0.03))), 2)
        open_ = round(prev * (1.0 + rng.gauss(0.0, 0.01)), 2)
        high = round(max(open_, close) * (1.0 + abs(rng.gauss(0.0, 0.01))), 2)
        low = round(min(open_, close) * (1.0 - abs(rng.gauss(0.0, 0.01))), 2)
        vwap = round((high + low + close) / 3.0, 2)
        volume = rng.randint(10_000, 5_000_000)
        deliverable = rng.randint(volume // 10, volume)
        rows.append(f"{day.isoformat()},SYM{i:04d},EQ,{prev:.2f},{open_:.2f},{high:.2f},"
                    f"{low:.2f},{close:.2f},{close:.2f},{vwap:.2f},{volume},"
                    f"{volume * vwap:.2f},{rng.randint(100, 90_000)},{deliverable},"
                    f"{deliverable / volume:.4f}")
        prices[i] = close
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--symbols", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--first-tick", type=int, default=0)
    ap.add_argument("--ticks", type=int)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    ticks = a.ticks if a.ticks is not None else int(round(a.seconds * a.rate))
    rng = random.Random(a.seed)
    prices = [rng.uniform(200.0, 400.0) for _ in range(a.symbols)]
    for i in range(a.first_tick):
        day_rows(rng, FIRST_DAY + dt.timedelta(days=i), prices)
    os.makedirs(a.dir, exist_ok=True)
    late_max = 0.0
    t0 = time.time()
    with open(a.manifest, "w") as man:
        for k in range(ticks):
            i = a.first_tick + k
            due = t0 + (k / a.rate if a.rate > 0 else 0.0)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            day = FIRST_DAY + dt.timedelta(days=i)
            body = HEADER + "\n" + "\n".join(day_rows(rng, day, prices)) + "\n"
            name = f"quotes-{i:06d}.csv"
            tmp = os.path.join(a.dir, "." + name + ".tmp")
            with open(tmp, "w") as f:
                f.write(body)
            os.rename(tmp, os.path.join(a.dir, name))
            created = time.time()
            late = max(0.0, (created - due) * 1000.0) if a.rate > 0 else 0.0
            late_max = max(late_max, late)
            man.write(json.dumps({"file": name, "day": (day - EPOCH).days,
                                  "due_ms": due * 1000.0, "created_ms": created * 1000.0,
                                  "rows": a.symbols}) + "\n")
            man.flush()
    print(json.dumps({"files": ticks, "late_ms_max": late_max}))


if __name__ == "__main__":
    main()
