#!/usr/bin/env python
"""The plan and work gates: executed-plan fingerprints for the pinned
set, the nested-loop audit for every registered query, and the
work-growth gate (operator row counts at two scales) for every
registered query.

Answers are hash-gated (tests/test_oracle.py), but a value hash cannot
see a Catalyst strategy flip — the recsys_holdout_hitrate nested loop
(111 s at sf0.1) ran green for nine rounds because nothing
machine-checked the PHYSICAL plan.  This module normalizes an
EXECUTED plan (the AQE final plan, not the initial one — runtime
broadcast conversions are part of the strategy under test) into a small
dict of node counts that PLAN_PINS below pins per query and
tests/test_plans.py checks:

    {"scan_parquet": 1, "scan_rdd": 0, "local_scan": 0, "bhj": 2,
     "smj": 0, "shj": 0, "bnlj": 0, "cartesian": 0, "cache": 0}

* ``scan_parquet`` — FileSourceScan count: a query that promises "one
  corpus scan" must not silently grow a second scan branch; a
  checkpointed iteration (pc1 / pc1_gram) must show ZERO parquet scans
  in its returned plan, else the fold is no longer physically real (the
  r9 lesson: Catalyst re-derives subtrees from the scan unless the
  materialization actually happened).
* ``bhj``/``smj``/``shj`` — join strategies on named joins: a dimension
  join that loses its broadcast (a side's size estimate grown past the
  session's broadcast threshold, the threshold misread, an
  ``EQUI_JOIN_HINTS`` hint dropped) flips bhj -> smj deterministically
  at the pinned sf/session.
* ``bnlj``/``cartesian`` — always pinned, almost always to zero; the
  only nonzero pins are the deliberate broadcast-hinted crossJoins
  (kmeans centroid assignment and friends), which
  test_every_crossjoin_is_broadcast_hinted separately proves are
  hinted.
* ``cache`` — InMemoryTableScan count; cached-relation plans are walked
  too (once per distinct cache), so nothing hides under a cache().

The pins cover a chosen set; the rest of the registry is covered by the
nested-loop audit (``ALLOWED`` + ``nested_loop_counts`` below), which
tests/test_oracle.py runs on every query it builds, and by the
work-growth gate (``measure_work`` + ``WORK_ALLOWED`` below), which
tests/test_work_growth.py runs on every query at sf0.01 (reading the
oracle comparison's measured collect) and at a 10x smaller fixture.

The fingerprint is taken at a FIXED condition (sf dir + the tuned test
session: local[8], shuffle.partitions=8, AQE on) — AQE's runtime
broadcast conversions depend on observed sizes, so the pins are
statements about the plan AT that condition, exactly the condition the
suite reruns them under.  UPDATE PATH when a plan legitimately changes:
rerun this script for the touched names and paste the new dict into
PLAN_PINS below, with a commit message saying WHY the shape moved (a
pin update without a rationale is the smell the gate exists to
produce).

    python scripts/plan_fingerprint.py [--sf /root/testdata/sf0.001]
                                       [--only a,b,...] [--pins]

``--pins`` prints the ready-to-paste PLAN_PINS body for every pinned
query (or the ``--only`` names).
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Physical-node classification by JVM class name.  The extractor WALKS
# THE PLAN OBJECTS (py4j) instead of parsing explain strings: three
# successive review passes each found a leak in a string approach,
# because EVERY string view — explain("formatted"), sparkPlan
# .treeString(), executedPlan().treeString() — prints a materialized
# adaptive subtree twice (== Final Plan == / == Initial Plan == pairs,
# nested and indentation-restarting under cached relations), and
# whole-stage-codegen prefixes defeat line parsers.  The object tree has
# each node exactly once, exposes a join's condition as an Option (the
# nested-loop audit asks only whether one is defined), and lets intent
# pick the plan per AdaptiveSparkPlanExec: initialPlan (static Catalyst strategy,
# cache-state-immune) or executedPlan (runtime strategy, after an
# action).
_CLS_KEYS = {
    "FileSourceScanExec": "scan_parquet",
    "RDDScanExec": "scan_rdd",
    "LocalTableScanExec": "local_scan",
    "BroadcastHashJoinExec": "bhj",
    "SortMergeJoinExec": "smj",
    "ShuffledHashJoinExec": "shj",
    "BroadcastNestedLoopJoinExec": "bnlj",
    "CartesianProductExec": "cartesian",
    "InMemoryTableScanExec": "cache",
}


def _walk(jplan, executed: bool, visited: set):
    """Yield (simpleClassName, node) for every DISTINCT physical node
    reachable from ``jplan``: through adaptive plans (final if
    ``executed`` else initial), query stages, cached relations
    (InMemoryTableScan -> cachedPlan), subquery plans held in a node's
    expressions (``subqueries()`` — a nested loop inside a scalar
    subquery is still a nested loop), and children.  ``Reused*``
    wrappers are skipped (their target is reached through its owner),
    and a global visited set on SparkPlan.id guarantees a shared
    subtree (one cached plan scanned from several places) counts once —
    physically it computes once.

    Subqueries are read per node, not once from the root: under AQE the
    root is an AdaptiveSparkPlanExec, a leaf whose ``subqueriesAll()``
    is empty, so the subquery plans are only reachable from the node
    whose expression holds them (a FilterExec for a scalar subquery)."""
    cls = jplan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        child = jplan.executedPlan() if executed else jplan.initialPlan()
        yield from _walk(child, executed, visited)
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(jplan.plan(), executed, visited)
        return
    if cls.startswith("Reused"):
        return
    node_id = jplan.id()
    if node_id in visited:
        return
    visited.add(node_id)
    yield cls, jplan
    if cls == "InMemoryTableScanExec":
        yield from _walk(jplan.relation().cachedPlan(), executed, visited)
    for seq in (jplan.subqueries(), jplan.children()):
        for i in range(seq.size()):
            yield from _walk(seq.apply(i), executed, visited)


def iter_physical_nodes(df, *, executed: bool):
    """All distinct physical nodes of ``df``'s prepared plan, subquery
    plans included.  ``executed=True`` runs the DataFrame first so every
    adaptive plan reports its FINAL tree; ``executed=False`` reads
    initial plans — the static Catalyst strategy, identical whether or
    not a builder's internal actions pre-materialized cached stages."""
    if executed:
        df.collect()
    yield from _walk(df._jdf.queryExecution().executedPlan(), executed, set())


def fingerprint(df, *, executed: bool = True) -> dict[str, int]:
    """Normalized node counts of the (executed) physical plan."""
    counts = dict.fromkeys(_CLS_KEYS.values(), 0)
    for cls, _node in iter_physical_nodes(df, executed=executed):
        key = _CLS_KEYS.get(cls)
        if key is not None:
            counts[key] += 1
    return counts


# Executed-plan pins: name -> the nonzero fingerprint() counts of the
# query's executed (AQE-final) plan at sf0.001 in the suite's session
# (local[8], shuffle.partitions=8, AQE on, 64 MiB broadcast threshold).
# tests/test_plans.py::test_executed_plan_fingerprint compares each pin
# live.  Answers are hash-gated, but a value hash cannot see a Catalyst
# strategy flip — the recsys_holdout_hitrate nested loop ran green until
# the physical plan was machine-checked.  The pinned set is every
# bench=True query (tests/test_plans.py checks that none is missing)
# plus the hand-chosen tiers below, each with its reason.
#
# What each key catches:
#   scan_parquet  a "one corpus scan" promise growing a second branch, or
#                 a checkpointed iteration silently re-deriving the corpus
#                 (pc1/pc1_gram pin ZERO parquet scans: the fold must be
#                 physically materialized)
#   bhj/smj/shj   a dimension join losing its broadcast (estimate past the
#                 threshold, threshold misread, an EQUI_JOIN_HINTS hint
#                 dropped) flips bhj -> smj deterministically
#   bnlj/cartesian  nonzero ONLY for the deliberate broadcast-hinted
#                 scalar crossJoins (test_every_crossjoin_is_broadcast_hinted
#                 proves each is hinted)
#
# UPDATE PATH when a plan legitimately changes: rerun
#   python scripts/plan_fingerprint.py --pins --only <name>
# and paste the new entry here, saying WHY the shape moved in the commit
# message — a pin update without a rationale is the smell this gate
# exists to produce.  Zero-valued keys are omitted.
PLAN_PINS: dict[str, dict[str, int]] = {
    # -- scale story: queries whose 100 TB story IS a plan shape — the
    #    bucketed/salted/as-of join demos and the production twins of the
    #    all-pairs baselines.  The pin protects the CLAIMED strategy (a
    #    bucket join that quietly un-buckets, an IVF candidate join that
    #    falls back to brute force, a pruned index that loses its
    #    broadcast), the part a value hash cannot see.
    "agg_salted_skew_safe": {"scan_parquet": 1},
    "asof_join_events": {"scan_parquet": 1},
    "asof_join_tolerance": {"scan_parquet": 1},
    "dedup_embedding_bucketed": {"scan_parquet": 2, "bhj": 1},
    # The LSH skew guards: the width filter must join on the bucket key
    # BEFORE candidate generation.  MinHash: localCheckpointed bands
    # (scan_rdd x2: aggregate input + join probe), BHJ for the width
    # filter + the two verify text joins, one parquet scan for the
    # verify text.  phash: localCheckpointed hash stage (scan_rdd x5
    # across exact/banded/member-expansion branches), BHJ x6 = the
    # uncapped path's 4 + the width-filter join on (band, sig) on BOTH
    # sides' candidate generation.  A dropped width filter reverts to
    # uncapped O(width²) emission while values stay plausible at fixture
    # scale, and shows here as a lost join/scan.
    "dedup_minhash_capped_pairs": {"scan_parquet": 1, "scan_rdd": 2, "bhj": 3},
    "multimodal_phash_capped_pairs": {"scan_rdd": 5, "bhj": 6},
    "join_skew_salted": {"scan_parquet": 2, "bhj": 1},
    "range_join_bucketed": {"scan_parquet": 2, "bhj": 1},
    "similarity_ivf_topk": {"scan_parquet": 5, "bhj": 3, "bnlj": 1},
    "text_search_bm25_pruned_topk": {"scan_rdd": 5, "bhj": 3, "smj": 1, "bnlj": 4},
    # -- expensive tail: the costliest sf0.1 walls outside the bench set
    #    when the tier was chosen.  Each one's cost is acceptable only
    #    under its current shape (banded pHash equi-join, per-cluster
    #    semdedup pairs, blocked Levenshtein, broadcast-dim audits,
    #    daily-rollup Theil-Sen bnlj); a flip to a broader join
    #    multiplies a double-digit wall.
    # Window generation runs ONCE: the (w, doc_id) multiplicity
    # aggregation + a w-partitioned count window, no second documents
    # scan or membership join.
    "dedup_doc_duplication_score": {"scan_parquet": 1},
    "dedup_semdedup": {"scan_parquet": 1, "scan_rdd": 2, "bhj": 3},
    "fuzzy_join_levenshtein_blocked": {"scan_parquet": 2, "bhj": 1},
    # The 64-bit hash is a localCheckpointed map stage (scan_rdd leaves),
    # and the exact-pair, banded-candidate and two member-expansion joins
    # are all BHJ at this sf — zero parquet rescans of the payload.
    "multimodal_phash_dedup": {"scan_rdd": 4, "bhj": 4},
    "pricing_consistency_audit": {"scan_parquet": 2, "bhj": 1},
    # daily is localCheckpointed, so both pair-join sides read the
    # checkpoint RDD; the median is sort+rank, one BNLJ pair join.
    "stats_theil_sen_trend": {"scan_rdd": 2, "bnlj": 1},
    # -- API surface: the user-facing curation compositions end to end
    #    (curation.dedup_corpus / dedup_media / search_corpus /
    #    profile_table).  Their stages are pinned above, but a regression
    #    in the glue (a lost broadcast on the report attach, a
    #    re-shuffled survivor join, a dropped width filter at the call
    #    site) is invisible to the stage pins.  The dedup APIs share one
    #    shape: one parquet payload scan, a localCheckpointed
    #    hash/signature stage (scan_rdd x2 across pair generation and
    #    member expansion), one BHJ survivor join, and the audited one-row
    #    broadcast report attach (bnlj) — the report is a driver-built
    #    LocalRelation (session.local_frame), so it scans as local_scan.
    #    search_corpus is the checkpointed-postings BM25 composition
    #    (scan_rdd x4) with the hit-scoped df join + 1-row corpus-stats
    #    attach; profile_table is deliberately a SINGLE parquet scan.
    "curation_dedup_corpus": {"scan_parquet": 1, "scan_rdd": 2, "local_scan": 1, "bhj": 1, "bnlj": 1},
    "curation_dedup_media": {"scan_parquet": 1, "scan_rdd": 2, "local_scan": 1, "bhj": 1, "bnlj": 1},
    "curation_dedup_media_capped": {"scan_parquet": 1, "scan_rdd": 2, "local_scan": 1, "bhj": 1, "bnlj": 1},
    "curation_search_corpus": {"scan_rdd": 4, "bhj": 2, "bnlj": 1},
    "curation_profile_table": {"scan_parquet": 1},
    # The backfill CLI verb's audit report: a driver-local LocalRelation
    # (the ingest jobs are actions inside pipeline.backfill, not part of
    # the returned plan).  A join against the lake, or an RDD scan of a
    # list-built frame, appearing here means the audit's shape regressed.
    "backfill_audit_table": {"local_scan": 1},
    # -- the bench set, plus the scale-killers whose plan shape was the
    #    bug once already: recsys_holdout_hitrate (an OR-of-equalities
    #    join nested-looped; now a union of two hash equi-joins),
    #    dedup_minhash_eval (driver count() actions re-ran the all-pairs
    #    join; now ONE plan) and embedding_power_iteration_pc1/_gram (the
    #    covariance fold must be physically materialized: zero parquet
    #    scans in the returned iteration plan).
    "corpus_curate_pipeline": {"scan_parquet": 1},
    "dedup_cc_starcontraction": {"scan_rdd": 2},
    # the one caching query in the set: the walker descends into each
    # of its 3 distinct cached-relation plans, so the counts cover the
    # WHOLE plan, caches included
    "dedup_connected_components": {"scan_rdd": 6, "bhj": 1, "cache": 3},
    "dedup_exact_hash": {"scan_parquet": 1},
    # The exact-jaccard side generates pairs from posting lists
    # (_posting_pair_counts: no self-join, so no second documents scan
    # or hash join), and the minhash side reads the shared per-session
    # pair-graph checkpoint (scan_rdd) instead of re-running the
    # signature pipeline.
    "dedup_minhash_eval": {"scan_parquet": 2, "scan_rdd": 1, "bhj": 2, "smj": 1},
    "dedup_minhash_lsh": {"scan_parquet": 2, "bhj": 2},
    "embedding_power_iteration_pc1": {"scan_rdd": 3, "bhj": 3, "bnlj": 4},
    "embedding_power_iteration_pc1_gram": {"scan_rdd": 3, "bhj": 3, "bnlj": 4},
    "events_hourly_agg": {"scan_parquet": 1},
    "feature_hashing_vectorize": {"scan_parquet": 1},
    "flagship_scan_filter_limit": {"scan_parquet": 1},
    "graph_pagerank_coorder": {"scan_rdd": 3, "bhj": 5},
    "graph_triangle_count": {"scan_rdd": 3, "bhj": 2},
    "join_broadcast_part_agg": {"scan_parquet": 2, "bhj": 1},
    "kmeans_embeddings_fixed": {"scan_parquet": 4, "bnlj": 3},
    # The bigram-instance counts are materialized once (2 checkpoint
    # reads: LM side + scoring probe), and the context totals come from a
    # w1-window over the bigram counts instead of a second agg + join.
    "lm_bigram_surprisal": {"scan_rdd": 2, "bhj": 1},
    "q1_pricing_summary": {"scan_parquet": 1},
    "q3_shipping_priority": {"scan_parquet": 3, "bhj": 2},
    "q5_regional_revenue": {"scan_parquet": 6, "bhj": 5},
    "recsys_holdout_hitrate": {"scan_parquet": 1, "bhj": 2, "bnlj": 1},
    # Session bounds are materialized once; the sweep and carry branches
    # read the checkpoint instead of re-running the events scan and the
    # sessionization windows per consumer.
    "sessions_max_concurrency": {"scan_rdd": 2},
    "similarity_topk_bruteforce": {"scan_parquet": 2, "bnlj": 1},
    "sort_topk_orders": {"scan_parquet": 1},
    "text_chunk_sliding": {"scan_parquet": 1},
    "text_search_bm25_topk": {"scan_rdd": 5, "bhj": 3, "bnlj": 1},
    "text_search_inverted_topk": {"scan_rdd": 2, "bhj": 1},
    "text_stats_by_lang": {"scan_parquet": 1},
}


# The registry-wide nested-loop audit.  A nested-loop join can enter a
# plan with no crossJoin anywhere in the source: an OR-of-equalities
# join condition (the recsys_holdout_hitrate bug, 111 s at sf0.1 until
# rewritten as a union of two hash equi-joins), a non-equi band
# predicate, any condition Catalyst cannot decompose into hash-join
# keys.  tests/test_oracle.py counts, on every registered query it
# builds, the BroadcastNestedLoopJoin / CartesianProduct nodes that
# carry a join condition, and asserts the count EQUALS the query's
# allowance below (0 if unlisted) — so a new unaudited loop and a stale
# allowance both fail on the query they belong to — and that the plan
# holds no CartesianProductExec at all.  The fix for a failure is a
# plan rewrite (decompose the OR into a union of equi-joins, block or
# bucket the band join); an entry here is only for a build side with a
# written O(1)/tiny bound, and "it was green" is not a reason.
#
# Condition-less nested loops (``Join condition: None``) are the
# deliberate broadcast-hinted scalar-aggregate crossJoin pattern and
# are not counted here.  Dropping their per-query count from the gate
# is deliberate: every such cross is hint-checked at source level
# (tests/test_plans.py::test_every_crossjoin_is_broadcast_hinted), and
# the pinned plans (PLAN_PINS) still pin ``bnlj``.
#
# name -> (exact conditioned count, why the build side is bounded).
# Audit basis: source inspection of every join below plus its sf0.1
# wall; four bound classes appear —
#   scalar:    the broadcast side is a 1-row/tiny aggregate (a threshold,
#              a max date, bin edges) and the "condition" is a filter
#              Catalyst folded into the join
#   fixed:     the broadcast side is a fixed-size slice (anchor set,
#              query set) independent of corpus size
#   calendar:  a self-join over a day/week rollup bounded by the time
#              span, not the corpus (pairs grow with years^2, not rows)
#   baseline:  the DOCUMENTED all-pairs exactness baseline (also in
#              WORK_ALLOWED below)
ALLOWED: dict[str, tuple[int, str]] = {
    "join_range_band_pricing": (
        1,
        "DOCUMENTED non-equi band lookup: broadcast side is the 4-row "
        "price-band table (test_range_band_pricing_is_deliberate_bnlj "
        "pins exactly this shape)",
    ),
    "contrastive_pair_mining": (1, "fixed: broadcast mini-batch anchor set"),
    "dedup_embedding_cosine": (
        1,
        "baseline: the deliberate all-pairs exact-cosine ground truth "
        "(WORK_ALLOWED; bucketed twin dedup_embedding_bucketed is the "
        "production path)",
    ),
    "embedding_triplet_check": (
        1,
        "fixed: positive/negative selection joins against a fixed anchor "
        "slice (0.6 s at sf0.1)",
    ),
    "q11_important_stock": (1, "scalar: 1-row value-share threshold"),
    "q22_global_sales_opportunity": (1, "scalar: 1-row avg-acctbal threshold"),
    "sample_balance_classes": (1, "scalar: 1-row min-class-size m"),
    "similarity_ann_multiprobe_recall": (
        1,
        "fixed: broadcast query set, self-exclusion filter in-condition",
    ),
    "similarity_ann_recall": (1, "fixed: broadcast query set, self-exclusion"),
    "similarity_int8_recall": (2, "fixed: broadcast query set, self-exclusion"),
    "similarity_ivf_topk": (1, "fixed: broadcast query set, self-exclusion"),
    "similarity_matryoshka_recall": (
        2,
        "fixed: broadcast query set, self-exclusion",
    ),
    "similarity_topk_bruteforce": (
        1,
        "fixed: broadcast query set, self-exclusion",
    ),
    "stats_psi_value_drift": (2, "scalar: broadcast decile-edge table, once per compared side"),
    "stats_survival_km_repurchase": (
        1,
        "scalar: broadcast 1-row censoring max-date; the condition is the "
        "folded event/censor CASE filter",
    ),
    "stats_theil_sen_trend": (
        1,
        "calendar: pairwise slopes over the per-user DAILY rollup — pair "
        "count grows with span^2, not corpus rows (the Theil-Sen "
        "estimator is pairwise by definition)",
    ),
    "text_search_bm25_pruned_recall": (
        2,
        "scalar: broadcast 1-row median document frequency",
    ),
    "text_search_bm25_pruned_topk": (
        2,
        "scalar: broadcast 1-row median document frequency (index build "
        "and query-side reuse)",
    ),
    "users_activity_bitmask": (1, "scalar: broadcast 1-row epoch day d0"),
    "whale_retention_jaccard": (
        1,
        "calendar: week x later-week pairs over the weekly whale rollup — "
        "bounded by span^2 weeks",
    ),
}


# Equi-join broadcast hints.  Join strategy is the session's: Catalyst
# broadcasts a side whose size estimate is under
# spark.sql.autoBroadcastJoinThreshold (64 MiB, session.RUNTIME_CONFS),
# AQE re-decides from observed sizes, and an equi-join it does not
# broadcast falls back to a sort-merge join, which scales.  A hint
# instead forces the broadcast whatever the size, so an equi-join keeps
# one only where the planner's estimate misses a bound the query knows
# and dropping the hint moves a build side or a strategy.
# tests/test_plans.py::test_every_equi_join_hint_is_listed fails a hinted
# equi-join in a function not listed here, a second one in a listed
# function, and a listed function without one.  Cross, keyless and theta
# joins are not listed: without a hint they plan as a CartesianProduct
# (ALLOWED's audit forbids it), and test_every_crossjoin_is_broadcast_hinted
# requires theirs.
#
# Without column statistics Catalyst sizes a grouped aggregate, a window
# or a filter from its input (scaled by row width), so a side that the
# query bounds by a small key set reads as big as the table it came from.
# Each hint below is on such a side, and without it the plan builds the
# other side (measured: a BHJ build-side swap in the static or executed
# plan at sf0.001 or sf0.01).
#
# enclosing function -> the bound the planner's estimate lacks.
EQUI_JOIN_HINTS: dict[str, str] = {
    "_power_iterate": (
        "the iterate v is 64 rows, the checkpointed covariance 4,096; the "
        "unhinted plan builds the covariance side in all 9 matvec joins, "
        "and its executed plan reads one checkpoint scan fewer (the "
        "embedding_power_iteration_pc1 pins)"
    ),
    "q18_large_volume_customer": (
        "the HAVING sum_qty > 250 order set is a few rows, but its estimate "
        "scales with lineitem, so the unhinted plan builds orders"
    ),
    "funnel_view_click_purchase": (
        "the click-stage user set c is one row per converting user; its "
        "estimate carries the events scan and view join it aggregates, so "
        "the unhinted plan builds the purchase events instead"
    ),
    "graph_link_prediction_jaccard": (
        "the u-side degree lookup is one row per node; its estimate scales "
        "with the edges, so the unhinted plan builds the candidate pairs"
    ),
    "parts_bundle_detection": (
        "the u-side basket frequency is one row per part; its estimate "
        "scales with the baskets, so the unhinted plan builds the pair table"
    ),
    "lang_id_corpus": (
        "the per-language top-10 word profile is languages x 10 rows; its "
        "estimate scales with the corpus, so the unhinted plan builds the "
        "corpus words"
    ),
    "lm_next_word_accuracy": (
        "the argmax model is one row per w1 (the vocabulary); its estimate "
        "scales with the bigram instances, which the unhinted plan builds"
    ),
    "stats_mad_by_event_type": (
        "the per-event-type median table is 5 rows; its estimate scales "
        "with events, so the unhinted plan broadcasts events"
    ),
    "sketch_countmin_heavy_hitters": (
        "the sketch is a fixed seeds x width table; its estimate scales "
        "with the events, so the unhinted plan builds the candidates"
    ),
    "stats_seasonal_adjust_daily": (
        "the day-of-week profile is 7 rows; the daily rollup it joins is "
        "small too, and without the hint AQE's runtime re-plan builds the "
        "daily side in most runs"
    ),
    "events_value_winsorize": (
        "the per-event-type [p01, p99] bounds are 5 rows; their estimate "
        "scales with events, so the unhinted plan broadcasts events"
    ),
}


def nested_loop_counts(df) -> tuple[int, int]:
    """``(conditioned, cartesian)`` over ``df``'s STATIC plan:
    BroadcastNestedLoopJoin / CartesianProduct nodes that carry a join
    condition, and CartesianProductExec nodes of any kind.  Initial
    (pre-AQE) plans: nested-loop selection is a static Catalyst
    decision, visible without executing the DataFrame."""
    conditioned = cartesian = 0
    for cls, node in iter_physical_nodes(df, executed=False):
        if cls not in ("BroadcastNestedLoopJoinExec", "CartesianProductExec"):
            continue
        conditioned += node.condition().isDefined()
        cartesian += cls == "CartesianProductExec"
    return conditioned, cartesian


# ---------------------------------------------------------------------------
# The work-growth gate
# ---------------------------------------------------------------------------
#
# The growth check for the "innocent-plan quadratic": an equi-join whose
# MATCH cardinality grows as n² over a fixed key space, an explode whose
# fan-out scales with the data, a hot key that concentrates — plans with
# no nested loop, which the audit above cannot see and which read
# seconds at fixture scale and hours at 100 TB.  The gate grades WORK,
# not wall time:
#
#   W = the sum of "number of output rows" over every physical node of
#       every SQL execution the query's build AND its action ran (read
#       from the SQL status store after the listener bus drains), so
#       the eager localCheckpoint/first() jobs inside builders and the
#       subquery plans count with no special case; each
#       BroadcastNestedLoopJoin counts |build|·|stream| from its
#       children's rows, because its own output counts matches, not
#       comparisons.
#
# W is an exact, machine-independent count (no noise, nothing to commit,
# nothing to re-measure on a slow host).  The suite takes it for every
# registered query at sf0.01 (hi: the one collect tests/test_oracle.py
# compares with the oracle) and at a fixture whose every scaling table
# is exactly GROWTH times smaller (lo, ``build_lo_fixture``),
# so the growth exponent is alpha = log_GROWTH(W_hi / W_lo): ~0 for a
# fixed-size input, ~1 linear, ~2 quadratic.  alpha > ALPHA_FLAG fails
# the query's own test unless WORK_ALLOWED lists it, and an allowance
# whose query no longer flags fails too (ALLOWED's exact-count rule).
#
# DETERMINISM: ``measure_work`` empties the session memos
# (``_util.clear_session_memos``) and Spark's cache manager before the
# build, so a memo consumer pays for the memo build it reads — its W does
# not depend on whether a sibling ran first.  It also runs the build
# and action with adaptive execution off (_STATIC_PLANS below): AQE's
# run-time choices race between concurrent stages and change which
# operators run.  tests/test_work_growth.py pins both.  One status-store
# race is left (ALPHA_MARGIN below).

# Every scaling table of the lo fixture is this many times smaller than
# at sf0.01; region/nation are static at both.
GROWTH = 10

# Flag threshold on the work exponent: linear work reads 1.0 (partial
# aggregates and per-partition constants pull small queries a little
# below or above), quadratic work reads ~2.0; 1.35 means "much closer to
# quadratic than to linear".
ALPHA_FLAG = 1.35
# W is exact up to one residual status-store race: in some runs a stage
# of a broadcast's subtree (its rows and the broadcast's) is missing
# from the execution's final metrics, which only LOWERS W (measured:
# q17_small_quantity_revenue 36,602 or 37,002 rows at the lo fixture,
# dedup_pair_evidence 9,251 or 9,401 — at most 1.6% of W, 0.007 of
# alpha; 3 of 380 queries differed across runs).  The gate therefore does
# not judge a reading within ALPHA_MARGIN of the flag: an unlisted query
# fails above ALPHA_FLAG + ALPHA_MARGIN, an allowance is stale at or
# below ALPHA_FLAG - ALPHA_MARGIN.
ALPHA_MARGIN = 0.02

# The lo fixture samples these sf0.01 tables by key (id % GROWTH == 0);
# the generator's own sf0.001 holds the same 500 rows as sf0.01 for
# them, so it cannot supply their lo side.  The rows are i.i.d. draws,
# so a key-residue sample is what a GROWTH-times smaller generation
# would produce — once the kept keys are renumbered densely (id //
# GROWTH, the generator's 0..n-1 ids).  Without the renumbering an
# id-range slice that is fixed by design (the `vec_id < 20` query sets
# of the recall evals, the `vec_id < 50` triplet anchors) shrinks
# GROWTH-fold at lo and fabricates quadratic growth: measured,
# similarity_ann_recall read alpha 1.62 on the residue ids.
LO_SAMPLED = {"documents": "doc_id", "embeddings": "vec_id"}

# name -> why its super-linear work is deliberate.  Exact rule: an entry
# whose query no longer flags fails too, so the list only shrinks
# honestly.  Reasons state the measured work (W_lo -> W_hi rows).
WORK_ALLOWED: dict[str, str] = {
    "gate_control_quadratic_join": (
        "control: the gate's quadratic positive control, a 1-bucket "
        "equi-join with n(n-1)/2 matches (1,527 -> 127,752, alpha 1.92). "
        "Never edit this entry to pass the suite: a de-flagged control "
        "needs a new control"
    ),
    "dedup_embedding_cosine": (
        "baseline: the all-pairs exact-cosine ground truth that calibrates "
        "the LSH/IVF/bucketed recall evals, O(n^2) by design: a nested loop "
        "over 2,500 -> 250,000 vector pairs (2,902 -> 254,002, alpha 1.94). "
        "Frozen at this operating point; dedup_embedding_bucketed is the "
        "production path"
    ),
}

# Known super-linear by analysis but NOT a flag, kept on the record:
#   dedup_jaccard_prefix_filter — exact Jaccard via PPJoin prefix
#   filtering.  Candidate growth is super-quadratic on the fixtures at
#   sf0.01 -> sf0.1 (3.3k -> 325k candidate pairs: the low-vocabulary
#   synthetic corpus is adversarial for prefix pruning), but at the
#   gate's pair the candidate set stays output-sized and its work reads
#   linear (24,209 -> 248,157 rows, alpha 1.01).  Pair emission remains
#   candidate-bound by construction; the gate's positive control is
#   gate_control_quadratic_join, not this query.

_WORK_METRIC = "number of output rows"
_SEP = "\x01"
# While measuring, every plan is the static one.  With adaptive
# execution on, three run-time choices depend on which concurrent stage
# finishes first, and each changed W between runs of the same query:
# replacing a join over an empty stage by an empty relation
# (q2_min_cost_supplier, whose part filter keeps no rows at the lo
# fixture, read 516 or 20,421 rows), turning a sort-merge join into a
# broadcast join (retention_halflife_fit read 6,316 or 6,361 rows), and
# re-picking the build side of a join hinted on both sides
# (stats_chi_square_lang_source read 8,701 or 8,778 rows).
_STATIC_PLANS = {"spark.sql.adaptive.enabled": "false"}
# A BroadcastExchange's rows are its child's rows, already counted, and
# its row metric is the one the driver posts (from the broadcast thread)
# rather than a task metric; the status store's final aggregate misses
# it in some runs (measured: q17_small_quantity_revenue read 37,002 or
# 37,202 rows at the lo fixture, its 200-row broadcast counted or not).
# Its rows are read through to the child.
_UNCOUNTED = frozenset({"BroadcastExchange"})


def execution_work(store, execution_id: int) -> int:
    """W of one finished SQL execution: its nodes' output rows, with
    each BroadcastNestedLoopJoin replaced by the product of its
    children's rows and each _UNCOUNTED node left out.  A child without
    a counted row metric (Project, InputAdapter, BroadcastExchange)
    reads as the rows of its nearest counted descendants.  Scala collections are flattened with one ``mkString``
    call each (node metrics, accumulator values, edges), so a plan costs
    a few py4j calls per node."""
    values = {}
    for entry in _final_metrics(store, execution_id).mkString(_SEP).split(_SEP):
        acc, sep, value = entry.partition(" -> ")
        if sep:
            values[int(acc)] = value
    graph = store.planGraph(execution_id)
    children: dict[int, list[int]] = {}
    for edge in graph.edges().mkString(_SEP).split(_SEP):
        if edge:  # SparkPlanGraphEdge(fromId,toId): from is the child
            child, parent = edge[edge.index("(") + 1 : -1].split(",")
            children.setdefault(int(parent), []).append(int(child))
    rows: dict[int, int] = {}
    loops: list[int] = []
    nodes = graph.allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        name = node.name()
        if name in _UNCOUNTED:
            continue
        if name == "BroadcastNestedLoopJoin":
            loops.append(node.id())
        for metric in node.metrics().mkString(_SEP).split(_SEP):
            # SQLPlanMetric(name,accumulatorId,metricType)
            if metric.startswith(f"SQLPlanMetric({_WORK_METRIC},"):
                acc = int(metric.rsplit(",", 2)[1])
                rows[node.id()] = int(values.get(acc, "0").replace(",", ""))

    def out(node_id: int) -> int:
        if node_id in rows:
            return rows[node_id]
        return sum(out(c) for c in children.get(node_id, ()))

    for node_id in loops:
        rows[node_id] = math.prod(out(c) for c in children.get(node_id, ()))
    return sum(rows.values())


def _final_metrics(store, execution_id: int):
    """The finished execution's aggregated metric values (a Scala
    ``Map[accumulatorId, String]``).  The status store aggregates them
    on its own thread after the execution-end event, so a drained
    listener bus does not mean they are written; ``executionMetrics``
    then serves a live reading that can miss a whole stage (measured:
    q17_small_quantity_revenue read 400 rows fewer at the lo fixture in
    2 of 8 runs, one stage's Filter and HashAggregate rows missing).
    Polls until the aggregate is stored."""
    deadline = time.monotonic() + 60
    while True:
        data = store.execution(execution_id)
        if data.isDefined() and data.get().metricValues() is not None:
            return data.get().metricValues()
        if time.monotonic() > deadline:
            raise TimeoutError(f"SQL execution {execution_id}: no final metrics after 60 s")
        time.sleep(0.01)


def _execution_ids_after(store, mark: int) -> list[int]:
    """Ids of the status store's executions newer than ``mark``, read
    from the newest end (the store lists executions by id)."""
    ids: list[int] = []
    end = store.executionsCount()
    while end > 0:
        start = max(0, end - 32)
        chunk = store.executionsList(start, end - start)
        got = [chunk.apply(i).executionId() for i in range(chunk.size())]
        ids += [i for i in got if i > mark]
        if not got or min(got) <= mark:
            break
        end = start
    return sorted(ids)


def measure_work(spark, run):
    """``(W, run())``: the work of every SQL execution ``run`` starts —
    pass a callable that builds the query AND runs its action.  Session
    memos and cached tables are emptied first and _STATIC_PLANS holds
    while ``run`` runs (see the section comment: determinism)."""
    from discogs_etl_spark.queries._util import clear_session_memos
    from discogs_etl_spark.session import scoped_conf

    clear_session_memos()
    spark.catalog.clearCache()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    mark = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    with scoped_conf(spark, _STATIC_PLANS):
        out = run()
    bus.waitUntilEmpty()
    work = sum(execution_work(store, i) for i in _execution_ids_after(store, mark))
    return work, out


def work_alpha(w_lo: int, w_hi: int) -> float:
    """Growth exponent of W over the GROWTH-times data step."""
    return math.log(max(w_hi, 1) / max(w_lo, 1), GROWTH)


def assert_work_growth(name: str, w_lo: int, w_hi: int) -> None:
    """Fail a super-linear query that WORK_ALLOWED does not list, and a
    listed query that no longer flags (both outside ALPHA_MARGIN)."""
    alpha = work_alpha(w_lo, w_hi)
    reading = f"work {w_lo:,} -> {w_hi:,} rows over {GROWTH}x data, alpha {alpha:.3f}"
    if name in WORK_ALLOWED:
        assert alpha > ALPHA_FLAG - ALPHA_MARGIN, (
            f"{name}: stale allowance — {reading} no longer exceeds "
            f"{ALPHA_FLAG}; delete its WORK_ALLOWED entry"
        )
    else:
        assert alpha <= ALPHA_FLAG + ALPHA_MARGIN, (
            f"{name}: super-linear work — {reading} > {ALPHA_FLAG}; audit "
            "the join keys' match cardinality, explode fan-out and hot "
            "keys (a WORK_ALLOWED entry is only for a deliberate baseline "
            "with a written reason)"
        )


def build_lo_fixture(small_dir: str, hi_dir: str, out_dir: str) -> str:
    """Write the gate's lo fixture to ``out_dir``: every table of
    ``small_dir`` (the generator's GROWTH-times smaller step) except
    LO_SAMPLED, which come from ``hi_dir`` filtered to
    ``key % GROWTH == 0`` with ``key // GROWTH`` as the new key.
    Returns ``out_dir``."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_etl_spark.tables import TABLE_NAMES

    os.makedirs(out_dir, exist_ok=True)
    for t in TABLE_NAMES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t not in LO_SAMPLED:
            shutil.copyfile(os.path.join(small_dir, f"{t}.parquet"), dst)
            continue
        table = pq.read_table(os.path.join(hi_dir, f"{t}.parquet"))
        key = LO_SAMPLED[t]
        ids = table[key].to_numpy()
        table = table.filter(pa.array(ids % GROWTH == 0))
        i = table.schema.get_field_index(key)
        renumbered = pa.array(ids[ids % GROWTH == 0] // GROWTH, type=table.schema.field(i).type)
        pq.write_table(table.set_column(i, table.schema.field(i), renumbered), dst)
    return out_dir


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument(
        "--pins",
        action="store_true",
        help="print a ready-to-paste PLAN_PINS dict body",
    )
    args = ap.parse_args()

    from discogs_etl_spark.registry import all_specs
    from discogs_etl_spark.session import get_spark

    # EXACTLY the suite's session shape (tests/conftest.py): the pins
    # are statements about this condition.
    spark = get_spark(
        app_name="plan-fingerprint", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_specs()
    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else sorted(PLAN_PINS)
    )
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")

    for name in names:
        fp = fingerprint(specs[name].fn(spark, args.sf))
        if args.pins:
            body = ", ".join(f'"{k}": {v}' for k, v in fp.items() if v)
            print(f'    "{name}": {{{body}}},')
        else:
            print(name, fp, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
