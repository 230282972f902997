"""Driver-contract query registry (package form).

Formerly the single-file ``queries.py`` (12.9k lines); split by family
in round 10 with an identical public contract: ``REGISTRY``,
``register``, ``_t``, ``queries()``, ``oracle_sql()``, the gate prefix,
and every per-query function/constant are re-exported here, so
``from python_etl_pipeline_spark.queries import <anything>`` works
exactly as before the split.

Registration order: submodules import in family order below; within a
family the original definition order is preserved, so QUERIES.md
(grouped by family) and the driver's 50-slot gate prefix are unchanged
by the split.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import (  # noqa: F401
    _FIRST_ROUND,
    _t,
    AS_OF,
    QuerySpec,
    REGISTRY,
    register,
)
from . import _helpers  # noqa: E402
from . import core, dd, ann, tx, hh, mm, xcur, xana, xbiz  # noqa: E402

# Re-export every submodule name — tests pin per-query constants
# (sketch widths, LSH planes, chunker geometry, ...) by importing them
# from this package exactly as they did from the flat module.
for _m in (_helpers, core, dd, ann, tx, hh, mm, xcur, xana, xbiz):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__") and _k not in globals():
            globals()[_k] = _v
del _m, _k, _v

# The external driver's correctness gate verifies exactly the FIRST 50
# ``queries()`` entries against their DuckDB oracles.
#
# STANDING GATE-ROTATION POLICY (adopted round 6, per the r5 verdict;
# staleness anchored to _GATE_ROUND and horizon raised to 4 in round 7
# — arithmetic in tests/test_gate_policy.py's module docstring):
# every round, _GATE_PREFIX =
#   (1) every query ADDED or whose code/oracle CHANGED that round —
#       a prior green row stops vouching the moment the code moves;
#   (2) the ~12 semantically subtle §2 sentinels under permanent watch
#       (f2 date-pivot, o2/o3 keep-last/first, i2 upsert, i3 watermark
#       + anti-join, j1 anti/semi split, s4 file identity, w1/o5
#       sequence engine, flagship) — the queries whose semantics are
#       easiest to silently regress;
#   (3) rotating fill, oldest last-driver-row first, so no query's
#       last hard verification ages out.
# The staleness contract is ENFORCED in tests/test_gate_policy.py,
# which recomputes each query's last-verified round from the
# CORRECTNESS_r*.json files of rounds BEFORE _GATE_ROUND and fails CI
# if a query past the horizon (including brand-new queries, never
# verified) is missing from this prefix.
_GATE_ROUND = 16  # the round this prefix was built for

# GATE ARITHMETIC, round-16 state — the round-15 prefix stands unchanged
# as the round-16 gate (CORRECTNESS_r16.json holds exactly these 50
# rows). (1) is empty: no query's code or oracle changed in round 16.
# (2) the 4 sentinels lead. (3) at gate round 16 no query is past the
# horizon-7 bound (the r9 cohort's last driver rows are exactly 7 rounds
# old), so the staleness check finds nothing to rotate in. Owed at r17:
# the 13 deferred r9 rows (x49/x50/x52-x62), now overdue there.
#
# GATE ARITHMETIC, round-15 state — HORIZON STAYS 7 (bound 7*46 + 4 =
# 326 vs registry 279; the binding constraint remains the SCHEDULE).
# Last-driver-row cohorts entering this round: r8:10 (the deferred
# remainder — owed NOW per the r14 smoothing), r9:42 (mandatory at
# r16), r10:43, r11:44, r12:46, r13:44, r14:50.
#
# CORRECTED r14 arithmetic (per the r14 ADVICE): the r14 gate rotated
# 36 of the 46-query r8 cohort (not 40), deferred 6 cheap untouched
# pure-function twins (tx11/tx12/tx13/tx14/x44/x45), and spent 4
# head-start slots (x26/x27/x28/x29) on the r14 additions — so r15
# owes exactly 10 r8 rows (the 6 deferred + 4 displaced), which this
# gate pays in full.
#
# This gate, FINAL round-15 form: 4 sentinels + 10 r8 + 29 of the
# 42-query r9 cohort + the round's 7 additions (ann33-ann38 + dd26).
# Deferred to r16: the 6 cheap untouched business-analytics twins
# x57/x58/x59/x60/x61/x62 (single-table event rollups, semantics
# pinned by their module tests) PLUS the 7 r9 tail members the
# additions displaced (x55/x56 were the planned head-start slots;
# x49/x50/x52/x53/x54 were displaced as the serve path, tree search,
# recall contract, drift report, and partial refresh landed). r16
# therefore owes exactly 13 r9 rows + its own changes against
# capacity 46, leaving ~33 slots to pre-rotate the 43-query r10
# cohort (mandatory r17). Steady-state retirement 286/7 ~ 40.9/round
# vs capacity 46 — no zero-slack round in the window.
#
# Rule-1 note for round 15: the kernel fixes from the r14 ADVICE
# (derived-k N counted as DISTINCT non-null ids to match the oracle
# kk CTEs; near-tie re-score tolerance folding the batch vector
# scale) are result-preserving at gate SFs — verified by this round's
# full-registry DuckDB parity sweep at sf0.001 and sf0.01 (the r13/
# r14 precedent for kernel-internal hardening); their consumer family
# (ann9-ann18, ann31/ann32) holds r14 driver rows, none older than
# one round.
_GATE_PREFIX = [
    # (1) permanent sentinels (4)
    "flagship_customer_segments",
    "f2_safe_date",
    "i2_upsert_last_writer_wins",
    "s4_file_identity",
    # (2) the 10 owed r8-cohort rows (6 deferred + 4 displaced by the
    # r14 additions), in registry order
    "tx11_normalize_text",
    "tx12_token_budget",
    "tx13_quality_topfrac",
    "tx14_token_entropy",
    "x26_fuzzy_match",
    "x27_corpus_mix",
    "x28_source_cap",
    "x29_doc_chunks",
    "x44_temperature_mix",
    "x45_temperature_mix_threshold",
    # (3) 29 of the 42-query r9 cohort in registry order (x57-x62
    # defer to r16; x49/x50/x52-x56 were displaced by this round's
    # seven additions — see (0) at the tail)
    "i5_incremental_agg_merge",
    "a7_shipping_priority",
    "a8_local_supplier_volume",
    "i6_scd2_history",
    "i7_pointintime_join",
    "i10_fk_integrity_audit",
    "i8_schema_evolution",
    "dd1_exact_dedup",
    "dd17_minhash_estimator_error",
    "ann8_embedding_moments",
    "ann19_sq8_topk",
    "ann21_probe_recall_curve",
    "ann22_binary_hamming_topk",
    "tx21_dsir_importance",
    "tx22_winnow_fingerprint",
    "tx23_nb_quality_score",
    "tx24_novelty_score",
    "tx26_readability",
    "tx25_zipf_heaps",
    "hh1_countmin_topk",
    "hh2_countmin_fold",
    "hh3_linear_counting",
    "hh4_hll_cardinality",
    "hh5_logbin_quantiles",
    "mm2_frame_sample",
    "mm3_frame_dedup",
    "mm4_block_dedup",
    "x46_retractable_mv",
    "x47_epoch_mixture",
    # (0) ADDED this round — the first two take the x55/x56
    # head-start slots; the next five displace x49/x50/x52/x53/x54
    # (the cheapest remaining r9 tail members), so x49/x50/x52-x56
    # defer to r16 with the deferred six and r16 owes 13 r9 rows +
    # its changes (capacity 46 — still ~33 slots of r10 pre-rotation
    # slack): the complete two-level index lifecycle — build (bounded
    # broadcast at any corpus size, r14 verdict #2), serve/grow
    # (stored-index assignment, ann12's split), top-k tree search
    # (cached persisted index, ann11's pattern), recall contract
    # (every approximation ships with a measured error certificate),
    # super-level drift report (ann13's signal at the tree's
    # actionable granularity), and PARTIAL refresh (only drifted
    # supers re-train, locally) — plus the sampled estimator-error
    # contract (dd17's truth side at O(sample) — r14 verdict #3).
    # Registry 279 + 7 = 286 <= horizon-7 bound 326.
    "ann33_two_level_assign",
    "ann34_two_level_serve",
    "ann35_two_level_topk",
    "ann36_two_level_recall",
    "ann37_two_level_drift",
    "ann38_two_level_partial_refresh",
    "dd26_sampled_estimator_error",
]

# Beyond the gate prefix: queries with non-trivial wall time (multi-job
# iterative plans, Python-worker stages, or large compare row counts)
# go last so a time-budgeted run maximizes checked queries; registry
# definition order is kept for everything else.
_EXPENSIVE_LAST = [
    "dd6_lsh_dup_clusters",
    "ann4_kmeans_train",
    "tx10_bigram_lm_score",
    "dd7_simhash_hamming",
    # round-7 heavies (in the r7 gate, so tail-ordered only once they
    # rotate out): ann10 runs two subspace trainings + coarse assign;
    # tx17 re-runs tx10's LM join before the tercile rank
    "ann10_ivfpq_topk",
    "tx17_perplexity_buckets",
    # round-8 heavies: ann11's FIRST invocation per dataset builds the
    # whole IVF-PQ index (later ones serve from the cache); tx19 folds
    # three batch count states before scoring; ann16 runs three Lloyd
    # passes (two base + one warm full) in-plan for oracle replay
    "ann11_ivfpq_from_index",
    "tx19_incremental_lm_score",
    "ann16_centroid_refresh",
    # round-9 heavies: tx22 runs the w-fold window explode + the
    # fine-grained (doc, window) rank; ann18 pays the cached-index
    # build on first invocation like ann11; tx21 explodes every bigram
    # (even fused, the explode is the dominant stage); x48 trains
    # k-means in-plan for the oracle twin
    "tx22_winnow_fingerprint",
    "ann18_index_delete",
    "tx21_dsir_importance",
    "x48_density_downsample",
    # x51 pays ann5's full graph build (Lloyd + per-cell gram) plus an
    # eager edge checkpoint before the three PR iterations
    "x51_graph_pagerank",
    # round-9 third-wave heavies: ann21 runs four searches (brute
    # truth + three probe levels) in one plan by design; dd17 pays
    # dd2's candidate build PLUS the exact-Jaccard truth join; ann22's
    # 48-projection agg is its fixed build cost
    "ann21_probe_recall_curve",
    "dd17_minhash_estimator_error",
    "ann22_binary_hamming_topk",
    # round-9 fourth-wave heavies: x67 pays the bipartite projection +
    # triangle joins; x68 pays the full buyer-keyed co-occurrence
    # build (support-1 pairs dominate before the HAVING)
    "x67_copurchase_triangles",
    "x68_item_similarity_topk",
    # round-10 heavy: ann28 pays the dims^2 covariance self-join before
    # its (cheap) power iterations — tail-ordered once it rotates out
    # of the r10 gate
    "ann28_top_eigen",
    # round-15 heavies (tail-ordered once they rotate out of the r15
    # gate): ann33 trains supers in-plan then runs the per-super local
    # Lloyd; ann34/ann37/ann38 train the base clustering in-plan for
    # their oracles; ann35's FIRST invocation per dataset builds the
    # cached two-level index (later ones serve from it, like ann11);
    # dd26 pays dd2's full pair build before its O(sample) truth side
    "ann33_two_level_assign",
    "ann34_two_level_serve",
    "ann35_two_level_topk",
    "ann37_two_level_drift",
    "ann38_two_level_partial_refresh",
    "dd26_sampled_estimator_error",
]

# Fail fast on typos: a name that silently fell out of the prefix would
# skip its driver verification without any signal.
_unknown = [n for n in _GATE_PREFIX + _EXPENSIVE_LAST if n not in REGISTRY]
assert not _unknown, f"gate/tail entries not in REGISTRY: {_unknown}"
assert len(_GATE_PREFIX) == len(set(_GATE_PREFIX)) == 50, (
    f"_GATE_PREFIX must hold exactly the driver's 50 slots, "
    f"got {len(_GATE_PREFIX)}"
)
# _GATE_PREFIX may temporarily absorb an expensive-tail query (the
# round it is re-gated); _ordered_names drops it from the tail then.


def _ordered_names() -> list[str]:
    tail = [n for n in _EXPENSIVE_LAST if n not in _GATE_PREFIX]
    mid = [n for n in REGISTRY if n not in _GATE_PREFIX and n not in tail]
    return _GATE_PREFIX + mid + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql
        for name in _ordered_names()
        if REGISTRY[name].sql is not None
    }
