#!/usr/bin/env python3
"""Super-linear-shape detector over three bench scales.

Usage: scaling_ratio.py BENCH_sf0.001.json BENCH_sf0.01.json BENCH_sf0.1.json OUT.json [VERIFY_OUT_DIR]

Model: t(s) = c + v*s for a linear-in-data query, where c is the
per-query fixed floor (JVM/planning/micro-batch scaffold) and v the
data-proportional cost. The two small scales identify the model
(data ratio 10x): c = max(0, (10*t1 - t2) / 9), v10 = t2 - c
(the per-sf0.01-unit variable cost). A linear query then predicts
t(sf0.1) = c + 10*v10; a super-linear one overshoots. Flag when the
measured sf0.1 time exceeds the prediction by BOTH a ratio (>2x the
predicted variable part, i.e. measured_var > 2 * 10*v10) and an
absolute margin (>1.0 s), so noise on sub-second queries never flags.
Queries with negligible variable cost at both small scales use the
absolute test against the floor alone.

Small-pair detector (r17 advice): when t2 > 10*t1 the fitted floor
clamps to 0 and v10 absorbs the blowup, so the sf0.1 extrapolation
already bakes the super-linearity in and a steady super-linear shape
(t ~ s^1.3) passes the main test. So the small-scale pair is ALSO
tested directly: 10*t1 is the most generous linear prediction of t2
(floor >= 0 implies t2 = c + 10*v <= 10*(c + v) = 10*t1 for any linear
query), and a query is flagged when t2 exceeds it by the same margins
(>1.0 s absolute AND >2x ratio).

Pair-volume self-adjudication (r19 verdict ask #7): the doc-sim and
ngram-dedup families are SUPER-LINEAR BY DECLARED SHAPE — their cost is
the df/frequency-capped candidate pair count, not the row count — and
both have standing observable queries (doc_sim_df_stats,
dedup_ngram_shingle_stats) whose outputs state that pair volume exactly.
When the optional VERIFY_OUT_DIR argument points at a `graft.Verify`
dump, the observables' committed numbers are read from the parquet and
attached as a "pair_observables" block, and each affected query's row
gets a "pair_note" naming its governing observable — so a small-pair
flag on these families is adjudicated by the artifact itself instead of
a prose cross-reference.

Sentinel normalization (r18 verdict ask #6): when the sf0.1 bench is a
seal_bench.py artifact (carries the "sentinel" bracket block), each
query also gets t_sf0.1_sentinel_units = t_sf0.1 / sentinel_mid, where
sentinel_mid is the mean of the before/after bracket totals. The
sentinel set is code-stable across rounds, so this column is directly
comparable between two rounds' artifacts with NO further arithmetic —
the prose normalize-by-offset rule, made a diffable field.
"""
import json
import sys


# query -> the observable whose candidate_pairs number governs its cost
PAIR_GOVERNED = {
    "doc_sim_sparse_topk": "doc_sim_df_stats",
    "dedup_ngram_jaccard": "dedup_ngram_shingle_stats",
    "dedup_containment": "dedup_ngram_shingle_stats",
    "cosine_near_dup": "doc_sim_df_stats",
}


def read_pair_observables(verify_dir):
    """Read the pair-volume observables' committed numbers from a
    graft.Verify parquet dump. A missing, unreadable or not-exactly-one-row
    output becomes an error entry for that observable, not a fatal error."""
    import glob
    try:
        import pandas as pd
    except ImportError:
        return {"error": "pandas unavailable; pair observables not read"}
    obs = {}
    for name in sorted(set(PAIR_GOVERNED.values())):
        files = glob.glob(f"{verify_dir}/{name}/*.parquet")
        if not files:
            obs[name] = {"error": f"no parquet under {verify_dir}/{name}"}
            continue
        try:
            df = pd.concat([pd.read_parquet(f) for f in files])
        except Exception as e:  # corrupt/unreadable file: report, don't abort
            obs[name] = {"error": f"unreadable parquet under {verify_dir}/{name}: {e}"}
            continue
        if len(df) != 1:
            obs[name] = {"error": f"expected exactly 1 row under {verify_dir}/{name}, "
                                  f"got {len(df)}"}
            continue
        row = df.iloc[0]
        obs[name] = {k: int(row[k]) for k in row.index
                     if k in ("candidate_pairs", "dropped_pairs",
                              "n_terms_indexed", "n_shingles_indexed",
                              "max_df", "max_freq")}
    return obs


def main() -> None:
    b1, b2, b3, out = sys.argv[1:5]
    verify_dir = sys.argv[5] if len(sys.argv) > 5 else None
    t1 = json.load(open(b1))["queries"]  # sf0.001
    t2 = json.load(open(b2))["queries"]  # sf0.01
    bench3 = json.load(open(b3))
    t3 = bench3["queries"]  # sf0.1
    sentinel_mid = None
    if "sentinel" in bench3:
        s = bench3["sentinel"]
        sentinel_mid = (s["total_before_sec"] + s["total_after_sec"]) / 2.0
        # fail loudly on a corrupt seal artifact rather than silently
        # dropping the normalization column the comparison rule relies on
        assert sentinel_mid > 0, f"sentinel bracket totals are 0 in {b3}"
    rows = {}
    flagged = []
    skipped = []  # no silent coverage shrink: every skip is in the artifact
    for q in sorted(set(t1) | set(t2) | set(t3)):
        a, b, c3 = t1.get(q), t2.get(q), t3.get(q)
        if not all(isinstance(x, (int, float)) for x in (a, b, c3)):
            skipped.append(q)
            continue
        floor = max(0.0, (10.0 * a - b) / 9.0)
        v10 = max(0.0, b - floor)  # variable cost at sf0.01
        pred = floor + 10.0 * v10
        measured_var = max(0.0, c3 - floor)
        ratio = (measured_var / (10.0 * v10)) if v10 > 1e-3 else None
        over = c3 - pred
        is_flag = over > 1.0 and (ratio is None or ratio > 2.0)
        # small-pair test: t2 vs its most generous linear bound 10*t1
        sp_over = b - 10.0 * a
        sp_ratio = (b / (10.0 * a)) if a > 1e-3 else None
        sp_flag = sp_over > 1.0 and (sp_ratio is None or sp_ratio > 2.0)
        rows[q] = {
            "t_sf0.001": round(a, 3), "t_sf0.01": round(b, 3),
            "t_sf0.1": round(c3, 3), "floor_est": round(floor, 3),
            "pred_sf0.1_linear": round(pred, 3),
            "excess_sec": round(over, 3),
            "var_ratio_vs_linear": round(ratio, 2) if ratio is not None else None,
            "small_pair_excess_sec": round(sp_over, 3),
            "small_pair_ratio": round(sp_ratio, 2) if sp_ratio is not None else None,
            "flagged": is_flag,
            "flagged_small_pair": sp_flag,
        }
        if sentinel_mid is not None:
            rows[q]["t_sf0.1_sentinel_units"] = round(c3 / sentinel_mid, 4)
        if q in PAIR_GOVERNED:
            rows[q]["pair_note"] = (
                f"cost governed by {PAIR_GOVERNED[q]}.candidate_pairs (see "
                "pair_observables), super-linear in rows by declared shape")
        if is_flag or sp_flag:
            flagged.append(q)
    artifact = {
        "model": "t(s) = floor + var*s; floor from (sf0.001, sf0.01); "
                 "flag: sf0.1 exceeds linear prediction by >1.0s AND >2x "
                 "the predicted variable part; small-pair flag: sf0.01 "
                 "exceeds 10*t(sf0.001) by the same margins",
        "n_queries": len(rows), "flagged": flagged,
        "skipped_missing_or_nonnumeric": skipped, "queries": rows,
    }
    if verify_dir is not None:
        artifact["pair_observables"] = read_pair_observables(verify_dir)
        artifact["pair_observables_source"] = verify_dir
    if sentinel_mid is not None:
        artifact["sentinel_total_mid_sec"] = round(sentinel_mid, 3)
        artifact["sentinel_rule"] = (
            "t_sf0.1_sentinel_units = t_sf0.1 / sentinel_total_mid_sec; "
            "the sentinel set is code-stable, so this column is directly "
            "comparable across rounds' artifacts")
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"{len(rows)} queries, {len(flagged)} flagged: {flagged}")
    if skipped:
        print(f"WARNING: {len(skipped)} queries skipped "
              f"(missing from a bench or non-numeric): {skipped}")


if __name__ == "__main__":
    main()
