#!/usr/bin/env python
"""Render the examination checklist of an OPTIMIZATION_r<N>.md ledger.

Joins three evidence sources into one markdown table, one row per
registered query:

- seconds from a full-registry sweep run (scripts/sweep_bench.py with
  the ``timings`` key — pass the captured JSON line's file),
- the plan-shape columns from PLANS.md (auto-generated per-query
  physical-plan audit),
- the round's per-query decision (changed / left alone + why), kept as
  data per round in ``ROUNDS`` below; queries without a round entry
  fall back to their family default.

Usage: python scripts/gen_checklist.py --round 17 /tmp/sweep_r17.json
Prints markdown to stdout; OPTIMIZATION_r<N>.md includes the output.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Family-level default decisions for queries left alone.  Wording is
# deliberate: each names the property that makes further optimization
# not worth a change at this scale, verified from PLANS.md + the sweep.
FAMILY_DEFAULTS = {
    "a": "left alone: staging/scan surface — scan-bounded, pruned ReadSchema/PushedFilters (PLANS.md), 0-1 exchanges; sink queries pay the write itself",
    "b": "left alone: relational surface — broadcast on the provably small side, partial map-side aggregation before the single exchange (PLANS.md row)",
    "c": "left alone: one partitionBy exchange + a single Window pass; no redundant second shuffle (PLANS.md)",
    "d": "left alone: pure projection packs — zero exchanges, one codegen span; scan-bounded (PLANS.md)",
    "e": "left alone: cost is the AvailableNow micro-batch drain machinery; state bounded by watermarks both sides (r15 verdict plan audit); emitted rows must stay batch-boundary-identical, so batching is pinned",
    "f": "left alone: Python-boundary surface — Arrow/pandas forms with select-before-UDF column pruning; per-task init amortized (guide §4.5)",
    "g": "left alone: explode+agg / broadcast-dim shapes in single codegen spans where eligible (PLANS.md); no pair explosion anywhere",
}

#: decision cell for a query whose family has no default yet
NO_DECISION = "no decision recorded"

# Per-query overrides where the family default would be vague or the
# query has a deliberate, documented posture worth naming (round 16).
_OVERRIDES_R16 = {
    "a31_versioned_compaction": "left alone after isolation (r16): sweep 40.8 s was cold-session + storm; isolated warm 12.9-13.0 s, split drain1 2 micro-batches / versioned compact / late drain — per-micro-batch streaming+publish machinery; maxFilesPerTrigger=1 IS the multi-committed-leaf scenario the query exists to prove, not a tunable",
    "a18_python_datasource": "left alone BY DESIGN: the declared Python DataSource API surface — the per-row Python reader is the API's cost; bounded fixture input",
    "g02c_dedup_simhash": "left alone after isolation (r16): 10.3-11.9 s warm = OUTPUT-bound — 4.41M distinct candidate pairs (35% of all doc pairs; corpus-correlated block collisions) from a 12.6M-row collision stream, sim+banding only 2.3 s; docstring already positions it as the unverified candidate GENERATOR, g02b/g02e are the recall-safe scale paths; rep-spacing the sig join would shave only the 2.9x key-duplication for real churn on an R-tier output",
    "g03d_embed_neardup": "left alone: threshold pairs over bounded anchors; norms precomputed map-side",
    "a09_sink_parquet_partitioned": "left alone: partitioned sink; output sizing via the staged coalesce; cost is the write (headline row, stable 1.0-1.3 s)",
    "a13_stream_ingest_foreachbatch": "left alone: the reference pipeline e2e; foreachBatch upsert, landing copy amortized via runner cache",
    "a15_bucketed_join": "left alone: bucketed co-located join — zero-exchange join is the point (headline row)",
    "a26_scan_binaryfile": "left alone: binaryFile ingest; opaque payload never crosses a shuffle",
    "b19_join_cross": "left alone: the DECLARED cartesian surface (125 rows, bounded)",
    "b31_agg_salted_skew": "left alone: IS the two-level salted aggregation pattern (guide §2.5)",
    "b35_join_salted_skew": "left alone: IS the salted-join pattern (guide §2.5); broadcast dims",
    "b36_histogram": "left alone: broadcast-bounds crossJoin is 1-row x N — bounded by construction",
    "e10_batch_twin": "left alone: batch twin of the env-gated e10 runtime; FlatMapGroupsInPandas with pruned input",
    "f01_udf_python": "left alone BY DESIGN: the declared row-at-a-time UDF surface; f02/f07 carry the vectorized twins (plan table pins BatchEvalPython vs ArrowEvalPython)",
    "f06_udtf": "left alone BY DESIGN: the declared UDTF surface (eval per row is the API's cost)",
    "f08_multimodal_decode": "left alone: Arrow mapInPandas decode, select-first pruning, decoder init once per task (guide §4.5)",
    "f08b_multimodal_quarantine": "left alone: quarantine-not-crash decode twin; same Arrow batch shape",
    "f09_multimodal_framesample": "left alone: 1:N frame expansion without a shuffle",
    "g03_simsearch_topk": "left alone: bounded 10-query-vector cross-score; norms precomputed map-side",
    "g03b_simsearch_knn": "left alone: broadcast brute-force KNN over bounded queries (headline row)",
    "g03c_simsearch_lsh": "left alone: hyperplane-LSH buckets — the designed sublinear path",
    "g03e_simsearch_ivf": "left alone: IVF inverted lists, nprobe-bounded candidates",
    "g04_centroids": "left alone: one exchange, map-side partial agg over exploded vectors",
    "g13_kmeans_iterations": "left alone: 2 Lloyd iterations, broadcast centroids, persisted input (value-pinned vs seeded NumPy)",
    "g19_stratified_sample": "left alone: digest-prefix rule — deterministic, layout-independent, no shuffle",
    "g22_corpus_split": "left alone: digest-prefix split, membership survives ingest; no shuffle",
    "g25_sequence_pack": "left alone: FFD-style packing via window over bounded capacity groups",
    "g28_semantic_dedup": "left alone: IVF-bucketed candidates -> in-bucket exact cosine; never all-pairs",
    "g31_dedup_segments": "left alone: segment digest dedup + reassembly, window-based (headline row, 1.0-1.2 s)",
}

# Per round: the queries restructured that round ("changed": ledger
# sections, plan dumps in plans/r<N>/) and the examined-and-left-alone
# overrides.  A "changed" entry wins over an override.
ROUNDS = {
    16: {
        "changed": {
            "g02_dedup_near": "CHANGED §2: prefix-collision join SMJ -> size-gated BroadcastHashJoin (10x: 37-46 -> 11-14 s)",
            "g02b_dedup_lsh": "CHANGED §1: probe-side round-robin spread before the banding self-join; pre-verify distinct dropped (10x: 50.6 -> 6-12 s)",
            "g02d_dedup_ngram": "CHANGED §1+§2 (routes to banding at 10x): same spread + broadcast tiers (10x: 85-96 -> 52 s)",
            "g02e_dedup_lsh_shingle": "CHANGED §1: banding spread + no pre-verify distinct (10x: 100-104 -> 39-48 s); masks-inline on its verify tried and reverted (negative result, §2)",
            "g12_contamination": "CHANGED §2 via _jaccard_pairs: broadcast collision tier (10x: 38-41 -> 10-15 s)",
            "g21_dedup_agreement": "CHANGED §2 via _jaccard_pairs: broadcast collision tier (10x: 46-53 -> 23-28 s)",
            "g26_dedup_clusters": "CHANGED §2: masks-INLINE fused-verify tier feeds its rep graph (expand=False terminus; 10x: 48.5 -> 18-28 s)",
            "g30_dedup_incremental": "CHANGED §2: masks-INLINE tier — popcount verify fused into the collision join condition (plans/r16/g30_*.10x.txt; 10x: 39-42 -> 36-38 s)",
            "g32_dedup_band_probe": "CHANGED (r15 rep-space probe carried; §6 broadcast gate): probe O(batch), corpus-size-flat to 30x (BASELINE.md r16 curve)",
            "a14_bad_records": "CHANGED §4: R-tier -> hash tier via deterministic key-rule corruption (VERDICT r15 #5); sub-second 25-row ingest",
            "b20_agg_groupby": "measurement fix §3: untimed re-warm after the g32 index build de-positions it (1.2-1.9 s band restored); plan already minimal (partial agg + 1 exchange)",
        },
        "overrides": _OVERRIDES_R16,
    },
    17: {
        "changed": {
            "g02_dedup_near": "CHANGED S4+S5: vocab size observe-fused onto its checkpoint (one fewer job per strategy invocation); exact PPJoin length filter rides the banding-route collision join (activates past 8192 reps -- the new 3x bench row, 6.1-6.4 s, is its first driver-visible measurement) + S15: expansion fan-out spread (the frozen 2-partition checkpoint explosion; sweep second here PREDATES S15)",
            "g02b_dedup_lsh": "CHANGED S4+S5+S5b: n_reps rides the d2r checkpoint; PPJoin length filter in _minhash_lsh_neardup; collision join's broadcast tier restored under an exact-count 32 MB gate after the sizes join wrecked Catalyst's estimate (plans/r17/g02b_*) + S15: expansion fan-out spread (the frozen 2-partition checkpoint explosion; sweep second here PREDATES S15)",
            "g02d_dedup_ngram": "CHANGED S5: the 10x popcount-verify floor cut by the length filter -- collision rows 30.52M -> 20.78M, 10x median ~72 -> ~61 s (6 interleaved pairs, steal recorded); hash oracle green + S15: expansion fan-out spread (the frozen 2-partition checkpoint explosion; sweep second here PREDATES S15)",
            "g02e_dedup_lsh_shingle": "CHANGED S5: same length filter via _minhash_lsh_neardup; 10x 53.2 -> 43.9 s; R-tier rows re-proven byte-for-byte + S15: expansion fan-out spread (the frozen 2-partition checkpoint explosion; sweep second here PREDATES S15)",
            "g02c_dedup_simhash": "CHANGED S6 (VERDICT r16 #5, output changed): Manku Hamming verify bit_count(xor)<=8 rides the collision join -- candidates 4.41M -> 1.52M at sf0.1 (2.9x), recall 0.92/0.9219 inside the pin; >=5x shown mutually exclusive with the recall floor on this corpus",
            "g12_contamination": "CHANGED S4 via the strategy core: vocab-size job fused into the checkpoint (one fewer job per invocation) + S15: expansion fan-out spread (the frozen 2-partition checkpoint explosion; sweep second here PREDATES S15)",
            "g21_dedup_agreement": "CHANGED S4 (ADVICE r16 both items): NULL-safe dim probe, shared projection, 32 MB gate + S15: the expansion fan-out spread took it 5.6-5.9 -> 2.6-2.7 s warm (its 2.97M-pair explosion ran in 2 tasks; sweep second predates S15)",
            "g26_dedup_clusters": "CHANGED S4 job cuts; S8: large-star/small-star edge-halving measured at 10x and DECLINED with numbers (4 broadcast-frontier rounds, memory-resident edges -- a per-round edge shuffle buys back ~1 s/round scan); 10x wall 26.6 -> 24.5 s from the strategy-core cuts",
            "g30_dedup_incremental": "CHANGED S4 via the strategy core (vocab job fused); bench row 3.2-3.3 s calm + S15: expansion fan-out spread (the frozen 2-partition checkpoint explosion; sweep second here PREDATES S15)",
            "g32_dedup_band_probe": "CHANGED S4 (strategy core); probe-chain job audit (VERDICT r16 #3): 34 jobs/invocation profiled phase-by-phase -- the lazy tail is 14 small AQE/broadcast jobs; eager grp checkpoint measured jobs 34 -> 35 and 4.2-5.2 -> 5.3-7.1 s, REVERTED (negative result at the site)",
            "e01_stream_tumbling": "CHANGED S7: run_to_memory freezes the sink JVM-side (localCheckpoint) instead of collect+createDataFrame -- the Python row round-trip is gone from every drain; measured a wash at this output size, bounded-positive for large outputs",
            "e02_stream_sliding": "CHANGED S7: same JVM-side sink freeze (all run_to_memory drains)",
            "e03_stream_session": "CHANGED S7: same JVM-side sink freeze",
            "e04_stream_watermark": "CHANGED S7: same JVM-side sink freeze",
            "e05_stream_dedup": "CHANGED S7: same JVM-side sink freeze",
            "e06_stream_stateful": "CHANGED S7: same JVM-side sink freeze",
            "e07_stream_late_data": "CHANGED S7: same JVM-side sink freeze",
            "e08_stream_stream_join": "CHANGED S7: JVM-side sink freeze; drain profiled (batch 0 addBatch 1.1-1.6 s = the join's real work, mandatory watermark-flush batch 0.8-1.0 s, planning ~0.4 s) -- remaining cost is emitted-row-pinned or engine-fixed, further cuts declined with the profile",
            "e09_stream_static_join": "CHANGED S7: same JVM-side sink freeze",
            "e11_stream_dedup_then_window": "CHANGED S7: same JVM-side sink freeze",
            "e12_stream_outer_join": "CHANGED S7: JVM-side sink freeze; same drain profile as e08 (state rows 40,344 -- only purchases buffer right)",
            "g03e_simsearch_ivf": "CHANGED S9: normalized working set localCheckpointed once (was re-scanned 4x) + map-only centroid assignment (k x N row_number windows -> in-row comparator sort vs a one-row broadcast codebook) -- warm 7.7-8.8 -> 3.9-4.4 s (~1.9x); output byte-identical at 3 SFs (plans/r17/g03e_*)",
            "g28_semantic_dedup": "CHANGED S9: same map-only assignment (k ~ sqrt(N) -- its assignment exchange was already 5.7M rows at sf0.1) + k-sizing count observe-fused; wash at sf0.1 (cost is the in-bucket exact-cosine join), scale lever past it; output byte-identical at 3 SFs",
            "f10_cogroup_in_pandas": "CHANGED S11: the customer side's c_custkey<200 transits the cogroup key -- events scan now carries PushedFilters LessThan(user_id,200); 100k -> ~200 users' rows over the Python boundary, 3.6 -> 0.9 s (4.0x); output byte-identical at 3 SFs, oracle green (plans/r17/f10_*)",
            "a14_bad_records": "carried from r16 (hash-tier corruption rule); no r17 change",
            "b20_agg_groupby": "r16 re-warm measurement fix carried; plan already minimal (partial agg + 1 exchange); 1.4 s calm this round",
        },
        "overrides": {
            **_OVERRIDES_R16,
            "a31_versioned_compaction": "re-examined r17 at 0% steal: warm 5.5-5.9 s (r16's 13 s was storm-inflated) = drain1 2.5 s (2 micro-batches) + versioned compact 1.4 s + late drain 1.7 s + read 0.2 s -- query start/stop and micro-batch machinery shared with the e-family (S7); maxFilesPerTrigger=1 IS the multi-committed-leaf scenario the query exists to prove, not a tunable; left alone",
            "a18_python_datasource": "re-examined r17: isolated warm 0.7 s (the sweep row is cold Python-worker spin-up); left alone BY DESIGN — the per-row Python reader is the declared DataSource API surface's cost",
            "g03c_simsearch_lsh": "re-examined r17: profiled (sigs checkpoint 2.5 s scan+UDF, collision+distinct 1.5 s, score-join tail); checkpointing the full vector frame instead of the skinny signature table measured a WASH at sf0.1 and is strictly worse I/O at scale -- negative result recorded at the site; left alone",
        },
    },
}


def plan_rows(path: str = os.path.join(ROOT, "PLANS.md")) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in open(path):
        m = re.match(r"\| `([a-z0-9_]+)` \| (.+) \|$", line.strip())
        if m:
            name = m.group(1)
            cells = [c.strip() for c in m.group(2).split(" | ")]
            if len(cells) == 5:
                scans, joins, shuffles, codegen, notable = cells
                out[name] = f"shuffles={shuffles}, joins={joins}, {notable}" if notable != "—" else f"shuffles={shuffles}, joins={joins}"
    return out


def render(round_: int, timings: dict, names, plans: dict[str, str]) -> str:
    notes = ROUNDS[round_]
    lines = [
        "| query | sf0.1 sweep (s) | plan shape (PLANS.md) | decision |",
        "| --- | --- | --- | --- |",
    ]
    for name in sorted(names):
        t = timings.get(name)
        tcell = f"{t:.2f}" if t is not None else "—"
        decision = (
            notes["changed"].get(name)
            or notes["overrides"].get(name)
            or FAMILY_DEFAULTS.get(name[0], NO_DECISION)
        )
        lines.append(f"| `{name}` | {tcell} | {plans.get(name, 'executes-internally')} | {decision} |")
    return "\n".join(lines) + "\n"


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, choices=sorted(ROUNDS))
    ap.add_argument("sweep", help="sweep_bench.py JSON with a timings key")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from data_lake_staging_engine_spark.registry import registry

    sweep = json.load(open(args.sweep))
    timings = sweep.get("parsed", sweep).get("timings") or sweep["timings"]
    sys.stdout.write(render(args.round, timings, registry(), plan_rows()))


if __name__ == "__main__":
    main()
