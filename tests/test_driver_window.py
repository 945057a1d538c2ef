"""Pin the driver's value-check window.

The external driver value-checks only the FIRST 50 registered
``queries()`` keys; everything later relies on the local sweep
(tools/check_oracle.py). Registration order therefore silently
decides which queries get the strongest per-round check — r5 showed
a new registration displacing q_ann_ivf from the window by accident.
This test pins the window's exact composition so any displacement is
a CONSCIOUS diff of this list, and keeps one representative of each
major family (core ops, joins, reshaping, text, the full dedup
ladder, ANN, as-of, cube/rollup, quantiles) inside it.

New queries must register AFTER the first 50 unless deliberately
promoted here.
"""

from __future__ import annotations

import __spark_entry__ as entry

DRIVER_WINDOW = [
    "q_group_fold",
    "q_mean_ratio",
    "q_col_means",
    "q_filter_project",
    "q_mutate",
    "q_take",
    "q_drop",
    "q_argmax",
    "q_distinct",
    "q_sort",
    "q_join_inner",
    "q_join_multi",
    "q_join_left",
    "q_join_right",
    "q_join_outer",
    "q_semi_join",
    "q_anti_join",
    "q_melt",
    "q_pivot",
    "q_categorical",
    "q_missing_fill",
    "q_missing_drop",
    "q_zip_frames",
    "q_topk_per_group",
    "q_running_sum",
    "q_sessionize",
    "q_events_window",
    "q_text_stats",
    "q_langid",
    "q_fingerprint",
    "q_tokens_bpe",
    "q_dedup_exact",
    # round-14 deliberate promotion (VERDICT r13 #2): the governed
    # twins replace their fixed-cap formulations so the EXTERNAL
    # driver gate certifies the governor paths (the library defaults
    # since r13). q_dedup_ngram / q_dedup_embed re-register at 51-52.
    "q_dedup_ngram_auto",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_dedup_simhash",
    "q_hard_negatives_auto",
    "q_dedup_embed_lsh",
    "q_dedup_embed_small",
    "q_embed_lsh_recall",
    "q_ann_bruteforce",
    "q_ann_lsh",
    "q_asof_join",
    "q_cube",
    "q_rollup",
    "q_count_distinct",
    # round-8 deliberate promotion (VERDICT r7 #3): the oracle-exact
    # sketch twins replace the rows-only approx pair in the window —
    # driver gate goes 48+2 no_oracle -> 50 full-value checks. The
    # approx pair re-registers at positions 51-52.
    "q_hll_estimate",
    "q_quantiles",
    "q_hist_quantiles",
    "q_range_join",
]


def test_driver_window_composition_is_pinned():
    got = list(entry.queries())[:50]
    assert got == DRIVER_WINDOW, (
        "the driver's first-50 value-check window changed — if this "
        "displacement is deliberate, update DRIVER_WINDOW; otherwise "
        "register the new query further down frames_spark/queries/ "
        "(module order q01..q09, then source order)"
    )


def test_every_window_query_has_a_full_oracle():
    oracles = entry.oracle_sql()
    missing = [q for q in DRIVER_WINDOW if q not in oracles]
    # since the r8 promotion of the oracle-exact sketch twins, EVERY
    # window query carries a full oracle — the driver gate is 50/50
    assert missing == [], missing


def test_displaced_parents_register_immediately_after_window():
    # the fixed-cap formulations displaced by the r14 promotion stay
    # adjacent to the window (positions 51-52), then the rows-only
    # approx sketches next to their exact twins (53-54) — both
    # families remain easy to audit
    got = list(entry.queries())[50:54]
    assert got == [
        "q_dedup_ngram",
        "q_dedup_embed",
        "q_approx_distinct",
        "q_approx_quantiles",
    ], got
