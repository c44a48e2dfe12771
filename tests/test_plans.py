"""Physical-plan regression tests: the scale properties the engine claims
(pushdown, broadcast dimensions, top-k without global sort, map-only
signature phases) are asserted on the plans themselves, so a refactor
that silently loses one fails here — not on a 100 TB cluster."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from discogs_etl_spark.registry import queries
from tests.conftest import load_script

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def q():
    return queries()


def test_scan_pushdown_and_pruning(spark, q):
    plan = _plan(q["scan_project_filter"](spark, SF))
    assert "GreaterThan(o_totalprice,400000.0)" in plan  # predicate reached the scan
    assert "EqualTo(o_orderstatus,O)" in plan
    # column pruning: only the 3 selected columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>" in plan


def test_topk_plans_take_ordered(spark, q):
    assert "TakeOrderedAndProject" in _plan(q["sort_topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in _plan(q["flagship_scan_filter_limit"](spark, SF))


def test_star_join_broadcasts_dimensions(spark, q):
    plan = _plan(q["q5_regional_revenue"](spark, SF))
    # every dimension joins as a broadcast; no cartesian anywhere
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_broadcast_hint_respected(spark, q):
    plan = _plan(q["join_broadcast_part_agg"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact table must not shuffle


def test_minhash_signatures_map_only(spark, q):
    """The signature phase must stay shuffle-free: the first Exchange in
    the minhash plan may come only AFTER band explosion (the bucket
    groupBy).  If signature computation itself ever introduces an
    exchange (e.g. someone reverts to a groupBy formulation), the plan
    gains exchanges before any Generate."""
    plan = _plan(q["dedup_minhash_lsh"](spark, SF))
    # cheap structural proxy: scan->signature->Generate(bands) appears
    # before any Exchange in the formatted tree ordering
    tree = plan.split("\n\n")[0]
    first_generate = tree.find("Generate")
    first_exchange = tree.find("Exchange")
    assert first_generate != -1 and first_exchange != -1
    # formatted trees list operators top-down (sink first); the LAST
    # Generate (deepest = band explosion) must sit below (after) every
    # Exchange textually, i.e. exchanges happen downstream of it
    last_generate = tree.rfind("Generate")
    assert last_generate > first_exchange


def test_window_topk_group_limit(spark, q):
    plan = _plan(q["window_topk_orders_per_customer"](spark, SF))
    assert "WindowGroupLimit" in plan  # rn<=k pushed into the window sort


def test_sharded_packing_window_is_partitioned(spark, q):
    """The production packing form must never plan a partition-less window
    (single-task global sort — the round-1 scale flag)."""
    plan = _plan(q["pack_sequences_sharded"](spark, SF))
    assert "windowspecdefinition(lang" in plan  # window keyed by shard
    assert "hashpartitioning(lang" in plan  # exchange on the shard key
    assert "SinglePartition" not in plan  # never a global single-task sort


def test_bucketed_embedding_dedup_is_hash_join(spark, q):
    """Bucketed dedup must plan a HASH equi-join on the LSH bucket, never
    the nested-loop all-pairs join of the exactness baseline."""
    plan = _plan(q["dedup_embedding_bucketed"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # broadcast at tiny SF, shuffled-hash at scale


def test_curate_pipeline_single_normalization(spark, q):
    """The regex normalization must be computed once per row: filter
    pushdown / CollapseProject re-inlining shows up as extra
    regexp_replace nodes (8 when unstaged — measured round 2)."""
    df = q["corpus_curate_pipeline"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace") <= 2
    assert plan.count("split(") <= 1


def test_partsupp_family_no_cartesian(spark, q):
    """The derived-partsupp TPC-H shapes must stay hash/broadcast joins —
    a lost equi-condition (e.g. on the two-column partsupp key) would
    surface as a nested-loop join."""
    for name in ("q2_min_cost_supplier", "q9_product_type_profit",
                 "q11_important_stock", "q16_parts_supplier_count",
                 "q20_potential_promotion"):
        plan = _plan(q[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        # q11's one-row threshold joins as a broadcast nested loop by
        # design (no join key); everything else must be hash-joined.
        if name != "q11_important_stock":
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_q2_min_via_window_not_self_join(spark, q):
    """Q2's correlated MIN must be a per-part window over one partsupp
    pass, not a second partsupp derivation + self-join (one lineitem
    aggregation in the plan, not two)."""
    plan = _plan(q["q2_min_cost_supplier"](spark, SF))
    assert "Window" in plan
    assert plan.count("partial_min") <= 1


def test_boilerplate_groups_partial_agg(spark, q):
    """Exact-hash-dedup shape: map-side partial aggregation must precede
    the single exchange on the prefix hash."""
    plan = _plan(q["boilerplate_prefix_groups"](spark, SF))
    # one hash exchange for the agg (the second is the output ordering's
    # range partitioner, not a data-motion cost of the dedup itself)
    assert plan.count("hashpartitioning") == 1
    assert "partial_count" in plan


def test_shuffle_shards_partitioned_sort(spark, q):
    """The shard window must partition by shard — a partition-less window
    here would be a single-task global sort of the corpus."""
    plan = _plan(q["corpus_shuffle_shards"](spark, SF))
    assert "windowspecdefinition(shard" in plan
    assert "SinglePartition" not in plan


def test_redact_pii_map_side(spark, q):
    """Redaction itself is map-only: no exchange may appear below the
    final ordering of the filtered output."""
    plan = _plan(q["text_redact_pii"](spark, SF))
    # one Sort for the deterministic output order; no aggregation exchanges
    assert "HashAggregate" not in plan


def test_quality_gate_broadcasts_thresholds(spark, q):
    """Pass 2 of the quantile gate must join the per-lang thresholds as a
    broadcast — if the threshold table ever shuffles the corpus side the
    two-pass shape is lost."""
    plan = _plan(q["quality_gate_quantile"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_udtf_token_runs_map_only(spark, q):
    """The UDTF lateral correlate is a per-row fan-out: no Exchange may
    appear anywhere in its plan."""
    plan = _plan(q["udtf_token_runs"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_range_join_user_key_in_join_condition(spark, q):
    """The bucketed range join must equi-join on (bkt, user_id) — with
    bucket alone as the key, every user active in the same 5-minute
    bucket cross-multiplies before the user filter (a per-bucket
    cartesian at scale, the round-2 flag).  Assert the user key appears
    INSIDE the hash-join condition, and the range predicate is the only
    residual."""
    plan = _plan(q["range_join_bucketed"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # details section: the HashJoin's "Left keys"/"Right keys" list both
    # bkt and user_id
    import re

    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert keys, "no hash-join key details in plan"
    assert all("user_id" in k and "bkt" in k for k in keys), keys


def test_salted_join_salt_in_key(spark, q):
    """The salted skew join must carry the salt INSIDE the equi-join key
    (that is the whole point — spreading one hot key over S reducers);
    and never degrade to a nested loop."""
    import re

    plan = _plan(q["join_skew_salted"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert keys, "no hash-join key details in plan"
    assert all("user_id" in k and "salt" in k for k in keys), keys


def test_embedding_quantize_map_only(spark, q):
    """INT8 quantization is pure per-row array math — its plan must have
    no Exchange at all (one codegen stage with the scan)."""
    plan = _plan(q["embedding_quantize_int8"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_running_distinct_tiny_window_input(spark, q):
    """The running-distinct query's single-partition window is legal only
    because its input is day-grained: the plan must aggregate BEFORE the
    window (two HashAggregates below the Window), never window the raw
    events."""
    plan = _plan(q["window_running_distinct_users"](spark, SF))
    tree = plan.split("\n\n")[0]
    w = tree.find("Window")
    assert w != -1
    # formatted trees list operators top-down; both aggregates must be
    # textually after (i.e. upstream of) the Window node
    assert tree.count("HashAggregate", w) >= 2


def test_inverted_search_group_limit(spark, q):
    """Per-query top-k in the inverted-index retrieval must plan as a
    WindowGroupLimit (rank pushed into the window sort), and the postings
    join must stay a hash join."""
    plan = _plan(q["text_search_inverted_topk"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_stages_broadcast_user_sets(spark, q):
    """Each funnel stage joins the previous stage's per-user MIN set as a
    broadcast; the events fact side must never shuffle into a merge join."""
    plan = _plan(q["funnel_view_click_purchase"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_triangle_edge_build_single_aggregation(spark, q):
    """The triangle edge build must be ONE order-keyed aggregation (pair
    generation via higher-order array functions, no self-join of items),
    and the closing-edge check must plan as a LEFT SEMI hash join."""
    plan = _plan(q["graph_triangle_count"](spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one collect_set aggregate pair (partial + final) feeds the
    # edge generation; the old shape had a distinct + count + self-join
    assert plan.count("collect_set") <= 4


def test_bm25_group_limit_and_broadcast_stats(spark, q):
    """BM25 top-k must plan as a WindowGroupLimit; the 1-row corpus stats
    aggregate must broadcast, never cartesian the postings."""
    plan = _plan(q["text_search_bm25_topk"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_bloom_runtime_filter_injected(spark, q):
    """Under the scoped bloom confs, the fact-side scan filter must carry
    might_contain (bloom pushed to the scan) fed by a bloom_filter_agg on
    the build side; the builder must restore every conf afterwards."""
    from discogs_etl_spark.queries.analytics import (
        _BLOOM_RUNTIME_CONFS,
        _bloom_join_frame,
    )

    before = {
        k: spark.conf.get(k, None) for k in _BLOOM_RUNTIME_CONFS
    }
    saved = {}
    for k, v in _BLOOM_RUNTIME_CONFS.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        plan = _plan(_bloom_join_frame(spark, SF))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # the registered query (checkpoint + restore) leaves confs untouched
    q["join_bloom_runtime_filter"](spark, SF)
    after = {k: spark.conf.get(k, None) for k in _BLOOM_RUNTIME_CONFS}
    assert after == before


def test_kmeans_assignment_broadcast_map_only(spark, q):
    """K-means assignment must join the broadcast centroid table with a
    BroadcastNestedLoopJoin (K-row build side, no shuffle of the corpus)
    and never a CartesianProduct."""
    plan = _plan(q["kmeans_embeddings_fixed"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_growth_window_over_aggregated_grid(spark, q):
    """The MoM lag window must sit ABOVE the monthly aggregation (window
    input is the grid, not the fact table) and the dimension joins must
    broadcast."""
    plan = _plan(q["growth_mom_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:]  # aggregate below (after) the window node


def test_assoc_rules_take_ordered(spark, q):
    plan = _plan(q["assoc_rules_coorder"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """BUCKETED-TABLE join evidence: co-bucketing both join sides on the
    key lets the sort-merge join run with NO Exchange on either side —
    the pre-shuffled-layout strategy for repeated fact-fact joins at
    100 TB (bucket pruning + shuffle elimination are free thereafter)."""
    import uuid

    from discogs_etl_spark.tables import load

    tag = uuid.uuid4().hex[:8]
    warehouse = tmp_path_factory.mktemp("bucketed")
    orders = load(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    for df, name, key in ((orders, f"b_orders_{tag}", "o_orderkey"),
                          (li, f"b_lineitem_{tag}", "l_orderkey")):
        (df.write.mode("overwrite")
         .option("path", str(warehouse / name))
         .bucketBy(8, key).sortBy(key)
         .saveAsTable(name))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join exercises the bucketed SMJ path
        # (at fixture size the small side would otherwise broadcast and
        # prove nothing about the bucket layout)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table(f"b_orders_{tag}")
             .join(spark.table(f"b_lineitem_{tag}"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .groupBy("o_orderkey").count())
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # co-bucketed layout: no shuffle below the join, and the final
        # same-key aggregation reuses it too — the whole plan must be
        # Exchange-free.
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql(f"DROP TABLE IF EXISTS b_orders_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS b_lineitem_{tag}")


def test_observe_metrics_on_curation_pipeline(spark, q):
    """Pipeline observability: df.observe() collects named metrics (row
    counts, aggregate checks) as a side effect of the SAME action that
    produces the data — no second pass over the corpus.  This is how a
    production curation job reports its dedup rate without re-running."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from discogs_etl_spark.tables import load

    obs = Observation("curate_metrics")
    docs = load(spark, SF, "documents").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.length("text") > 0, 1).otherwise(0)).alias("n_nonempty"),
    )
    out = docs.where(F.col("n_chars") > 0).count()
    got = obs.get
    assert got["n_rows"] > 0
    assert got["n_nonempty"] <= got["n_rows"]
    assert out <= got["n_rows"]


def test_phash_dedup_is_banded_equi_join(spark, q):
    """The perceptual-hash dedup must candidate-generate via an equi-join
    on (band, sig) — never a nested-loop over all image pairs."""
    plan = _plan(q["multimodal_phash_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "sig" in plan


def test_sweepline_partitions_by_day(spark, q):
    """The concurrency sweep must window per DAY (hashpartitioning on the
    day key), not sort the whole boundary stream in one partition."""
    plan = _plan(q["sessions_max_concurrency"](spark, SF))
    assert "hashpartitioning(day" in plan
    assert "CartesianProduct" not in plan


def test_duplicate_payments_blocks_before_compare(spark, q):
    """The fuzzy payment join must be equi-keyed on (custkey, block) with
    the tolerances as residual filters — no inequality-driven nested
    loop."""
    plan = _plan(q["orders_duplicate_payments"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_scopes_pairs_to_clusters(spark, q):
    """SemDeDup's pair join must be keyed on the cluster id (equi-join),
    which is the entire point of clustering-as-blocking."""
    plan = _plan(q["dedup_semdedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_windows_partial_aggregates(spark, q):
    """The 48-char window count must partial-aggregate map-side (two
    HashAggregate nodes around one Exchange on the window key)."""
    plan = _plan(q["dedup_substring_windows"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_bigram_lm_join_is_keyed_on_bigram(spark, q):
    """The LM scoring join keys on the bigram string; no plan may fall
    back to a nested loop between instances and the model table."""
    plan = _plan(q["lm_bigram_surprisal"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_band_pricing_is_deliberate_bnlj(spark, q):
    """The band lookup is the DOCUMENTED keyless broadcast: exactly a
    BroadcastNestedLoopJoin against the 4-row band table — and nothing
    larger."""
    plan = _plan(q["join_range_band_pricing"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_heaps_law_checkpoints_are_conditional_aggs(spark, q):
    """The 10 corpus-prefix checkpoints must be conditional sums inside
    single Aggregates over the token / first-seen tables — never a
    grid crossJoin that materializes 10 copies of the token table
    before filtering (the round-3 shape).  The only join left is the
    1-row x 1-row combine of the two aggregate rows."""
    plan = _plan(q["corpus_heaps_law_fit"](spark, SF))
    assert "CartesianProduct" not in plan
    # the grid table is gone entirely: no scan of an in-memory cut list
    assert "LocalTableScan" not in plan and "Scan ExistingRDD" not in plan
    # both checkpoint passes are plain aggregates feeding a keyless
    # 1x1 combine (BroadcastNestedLoopJoin over two single-row sides);
    # count tree lines only — the formatted detail repeats the node name
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1
    # map-side partial conditional sums: checkpoints computed in one pass
    assert "partial_sum(CASE WHEN (doc_id" in plan


def test_token_budget_planner_single_pass(spark, q):
    """All four budget scenarios must come from ONE Aggregate over the
    joined scan (conditional sums + unpivot), not a 4-branch unionAll
    that re-executes the join pipeline per scenario."""
    plan = _plan(q["corpus_token_budget_planner"](spark, SF))
    assert "Union" not in plan
    # one scan of documents feeds the whole thing
    assert plan.count("documents.parquet") == 1


def test_every_crossjoin_is_broadcast_hinted():
    """Every cartesian-product join in the package must wrap its argument
    in F.broadcast(...): each one combines a scalar/tiny aggregate, and
    the hint makes the BroadcastNestedLoopJoin shape explicit instead of
    relying on AQE size estimates (the r8 verdict claimed this invariant
    was grep-verified; three sites falsified it — this test makes the
    invariant real and keeps it that way).  Two forms produce the same
    cartesian product and both are swept (ADVICE r9): ``.crossJoin(x)``
    and the keyless ``.join(x)`` with exactly one positional argument
    and no ``on``/``how`` — the escape hatch the r9 BM25 queries
    themselves used (hinted, but previously untested) — plus any
    ``.join(..., how="cross")`` / ``.join(x, None, "cross")`` spelling
    whose ``how`` is the literal ``"cross"``.  ``str.join`` is excluded
    by skipping string-literal receivers (every str.join in the package
    calls through a literal separator; a future ``sep.join(...)``
    through a variable would false-positive here and should be rewritten
    or excluded locally)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "discogs_etl_spark"
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            is_cross = node.func.attr == "crossJoin"
            str_receiver = isinstance(node.func.value, ast.Constant) and isinstance(
                node.func.value.value, str
            )
            is_keyless_join = (
                node.func.attr == "join"
                and len(node.args) == 1
                and not node.keywords
                and not str_receiver
            )
            # .join(x, None) / .join(x, on=None): an explicit null join
            # condition is a cartesian product too (same planner path as
            # the keyless spelling) and must carry the broadcast hint.
            null_on = [
                kw.value for kw in node.keywords if kw.arg == "on"
            ] + node.args[1:2]
            is_null_on_join = (
                node.func.attr == "join"
                and not str_receiver
                and any(
                    isinstance(h, ast.Constant) and h.value is None
                    for h in null_on
                )
            )
            how_values = [
                kw.value for kw in node.keywords if kw.arg == "how"
            ] + node.args[2:3]
            is_cross_how_join = (
                node.func.attr == "join"
                and not str_receiver
                and any(
                    isinstance(h, ast.Constant) and h.value == "cross"
                    for h in how_values
                )
            )
            if not (
                is_cross or is_keyless_join or is_cross_how_join or is_null_on_join
            ):
                continue
            arg = node.args[0] if node.args else None
            hinted = isinstance(arg, ast.Call) and (
                (
                    isinstance(arg.func, ast.Attribute)
                    and arg.func.attr == "broadcast"
                )
                or (isinstance(arg.func, ast.Name) and arg.func.id == "broadcast")
            )
            if not hinted:
                offenders.append(f"{f.relative_to(pkg.parent)}:{node.lineno}")
    assert not offenders, (
        f"cartesian join without F.broadcast(...) hint: {offenders} — wrap "
        "the argument (scalar aggregates broadcast; anything bigger should "
        "not be a cartesian product)"
    )


def _is_equi_on(on) -> bool:
    """Whether a ``.join`` condition AST has an equality key: a column
    name or a list of them, ``a == b``, ``a.eqNullSafe(b)``, or a ``&``
    conjunction holding one of these.  Keyless, ``None`` and pure theta
    conditions (``!=``, ``<``) are not equi-joins."""
    import ast

    if isinstance(on, ast.Constant):
        return isinstance(on.value, str)
    if isinstance(on, (ast.List, ast.Tuple)):
        return bool(on.elts) and all(_is_equi_on(e) for e in on.elts)
    if isinstance(on, ast.Compare):
        return len(on.ops) == 1 and isinstance(on.ops[0], ast.Eq)
    if isinstance(on, ast.Call):
        return isinstance(on.func, ast.Attribute) and on.func.attr == "eqNullSafe"
    if isinstance(on, ast.BinOp) and isinstance(on.op, ast.BitAnd):
        return _is_equi_on(on.left) or _is_equi_on(on.right)
    return False


def _equi_join_hint_functions() -> dict[str, list[str]]:
    """Enclosing function name -> the ``file:line`` of each F.broadcast
    hint on an equi-join in the package: the hinted side passed to
    ``.join(side, on, ...)`` or the receiver of ``F.broadcast(x).join``."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "discogs_etl_spark"
    found: dict[str, list[str]] = {}

    def visit(node, fn, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"
        ):
            hinted = [
                side
                for side in (node.args[:1] + [node.func.value])
                if isinstance(side, ast.Call)
                and (
                    (isinstance(side.func, ast.Attribute) and side.func.attr == "broadcast")
                    or (isinstance(side.func, ast.Name) and side.func.id == "broadcast")
                )
            ]
            on = next((k.value for k in node.keywords if k.arg == "on"), None)
            how = next((k.value for k in node.keywords if k.arg == "how"), None)
            on = node.args[1] if len(node.args) > 1 else on
            how = node.args[2] if len(node.args) > 2 else how
            cross = isinstance(how, ast.Constant) and how.value == "cross"
            if hinted and not cross and on is not None and _is_equi_on(on):
                for side in hinted:
                    found.setdefault(fn, []).append(f"{where}:{side.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, fn, where)

    for f in sorted(pkg.rglob("*.py")):
        visit(ast.parse(f.read_text()), "<module>", f.name)
    return found


def test_every_equi_join_hint_is_listed():
    """Join strategy is the session's: an equi-join without a hint falls
    back to a sort-merge join, and Catalyst broadcasts a side estimated
    under ``spark.sql.autoBroadcastJoinThreshold``.  A broadcast hint on
    an equi-join is kept only where the planner's estimate misses a bound
    the query knows, in a function that
    ``scripts/plan_fingerprint.py::EQUI_JOIN_HINTS`` lists with that
    reason, one hint per function; a listed function without such a hint
    fails too, so the list stays exact.  Cross, keyless and theta joins
    keep their hints (test_every_crossjoin_is_broadcast_hinted)."""
    listed = load_script("plan_fingerprint").EQUI_JOIN_HINTS
    found = _equi_join_hint_functions()
    unlisted = {fn: sites for fn, sites in found.items() if fn not in listed}
    assert not unlisted, (
        f"equi-join broadcast hints outside EQUI_JOIN_HINTS: {unlisted} — "
        "delete the hint (the 64 MiB session threshold decides), or list the "
        "function with the bound the planner cannot see"
    )
    stale = sorted(set(listed) - set(found))
    assert not stale, f"EQUI_JOIN_HINTS entries without an equi-join hint: {stale}"
    # each reason names one hinted side, so a second hint in a listed
    # function is unlisted too
    extra = {fn: sites for fn, sites in found.items() if len(sites) > 1}
    assert not extra, f"more than one equi-join hint per EQUI_JOIN_HINTS entry: {extra}"
    for fn, why in listed.items():
        assert why.strip(), f"{fn}: empty EQUI_JOIN_HINTS reason"


# ---------------------------------------------------------------------------
# Executed-plan fingerprint gate: scripts/plan_fingerprint.py::PLAN_PINS
# holds the pins, what each key catches and why each query is pinned.
# ---------------------------------------------------------------------------

PLAN_PINS = load_script("plan_fingerprint").PLAN_PINS


def test_load_script_loads_each_script_once():
    """One module object per script for the whole session: the gates'
    module-level state cannot split between callers."""
    import conftest  # pytest's import of tests/conftest.py

    from tests import conftest as imported  # the test files' import of it

    pf = load_script("plan_fingerprint")
    assert load_script("plan_fingerprint") is pf
    assert conftest._PF is pf and imported._PF is pf


def test_plan_pins_cover_the_whole_gate_set():
    """Every bench=True headline query is pinned: registering a new one
    without pinning its plan fails here, so the gate's coverage cannot
    rot as the headline set evolves."""
    from discogs_etl_spark.registry import bench_specs

    missing = sorted(set(bench_specs()) - set(PLAN_PINS))
    assert not missing, (
        f"bench queries without a plan pin: {missing} — run "
        "`python scripts/plan_fingerprint.py --pins --only <name>` and add "
        "the entry to PLAN_PINS"
    )


def test_plan_pins_name_registered_queries(q):
    assert set(PLAN_PINS) <= set(q), sorted(set(PLAN_PINS) - set(q))


@pytest.mark.parametrize("name", sorted(PLAN_PINS))
def test_executed_plan_fingerprint(spark, q, name):
    """The gate itself: run the query at sf0.001 and compare the final
    adaptive plan's node counts against the pin.  A legitimate plan
    change updates the pin (see the PLAN_PINS comment); an accidental
    one fails exactly one named test the moment it lands."""
    # The pins are statements about this condition — if a prior test
    # leaked one of these confs, fail with the real cause instead of a
    # mysterious fingerprint diff.  shuffle.partitions is deliberately
    # NOT asserted: tests running earlier in the session legitimately
    # retune it (tune_for_correctness sets max(cpus, 8)) and node-type
    # counts are partition-count-insensitive — verified by running all
    # 35 pins at 8 and at 32 partitions with zero drift.
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(
        64 * 1024 * 1024
    )
    mod = load_script("plan_fingerprint")
    fp = mod.fingerprint(q[name](spark, SF))
    got = {k: v for k, v in fp.items() if v}
    assert got == PLAN_PINS[name], (
        f"{name}: executed-plan fingerprint drifted.\n"
        f"  pinned: {PLAN_PINS[name]}\n  actual: {got}\n"
        "If intentional, rerun `python scripts/plan_fingerprint.py "
        f"--pins --only {name}` and update PLAN_PINS with a rationale; "
        "if not, a Catalyst strategy flip or a lost checkpoint/broadcast "
        "just got caught before it shipped."
    )


@pytest.mark.parametrize(
    "name", ["join_broadcast_part_agg", "q3_shipping_priority", "q5_regional_revenue"]
)
def test_equi_joins_follow_the_broadcast_threshold(spark, q, name):
    """The session threshold, not a hint, picks these joins' strategy.
    With it at 1 byte every side reads as too big to broadcast (as
    ``part`` and ``customer`` are at TPC-H SF100), and each join that the
    pin shows as a broadcast hash join at fixture size plans as a
    sort-merge join instead; a broadcast hint would force BHJ whatever
    the size."""
    from discogs_etl_spark.session import scoped_conf

    pf = load_script("plan_fingerprint")
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "1"}):
        fp = pf.fingerprint(q[name](spark, SF), executed=False)
    assert fp["bhj"] == 0 and fp["smj"] == PLAN_PINS[name]["bhj"], fp


def test_plan_sweep_allowed_names_are_registered():
    """The audited nested-loop allowance must not go stale: every
    ALLOWED name exists in the registry (a renamed/removed query would
    otherwise keep a dead allowance a future query could inherit by
    taking the name)."""
    from discogs_etl_spark.registry import all_specs

    allowed = load_script("plan_fingerprint").ALLOWED
    stale = sorted(set(allowed) - set(all_specs()))
    assert not stale, f"ALLOWED names not in registry: {stale}"
    for name, (cap, why) in allowed.items():
        assert cap >= 1 and why.strip(), f"{name}: empty allowance rationale"


def _pair(spark, n):
    a = spark.range(n).select(F.col("id").alias("x"), (F.col("id") + 1).alias("y"))
    return a, spark.range(n).select(F.col("id").alias("u"))


def _equijoin(spark):
    a, b = _pair(spark, 8)
    return a.join(b, a.x == b.u)


def _or_equijoin(spark):
    a, b = _pair(spark, 8)
    return a.join(b, (a.x == b.u) | (a.y == b.u))


def _band_join(spark):
    a, b = _pair(spark, 8)
    return a.join(b, (a.x < b.u) & (b.u < a.y + 3))


def _hinted_cross(spark):
    return spark.range(8).crossJoin(F.broadcast(spark.range(1).select(F.col("id").alias("k"))))


# Ranges far over the broadcast threshold: Catalyst cannot broadcast
# either side, so a keyless join plans as a CartesianProduct.  Only the
# static plan is read — nothing executes.
def _unhinted_big_cross(spark):
    a, b = _pair(spark, 10**10)
    return a.crossJoin(b)


def _big_theta_join(spark):
    a, b = _pair(spark, 10**10)
    return a.join(b, a.x < b.u)


def _subquery_loop(spark):
    return spark.sql(
        "SELECT * FROM range(10) t WHERE t.id > (SELECT max(a.id) FROM "
        "range(5) a JOIN range(3) b ON a.id > b.id)"
    )


def _correlated_exists(spark):
    return spark.sql(
        "SELECT * FROM range(10) t WHERE EXISTS "
        "(SELECT 1 FROM range(3) b WHERE t.id > b.id)"
    )


def _not_exists_theta(spark):
    return spark.sql(
        "SELECT * FROM range(10) t WHERE NOT EXISTS "
        "(SELECT 1 FROM range(3) b WHERE t.id < b.id)"
    )


def _small_unhinted_cross(spark):
    return spark.sql("SELECT * FROM range(10) t CROSS JOIN range(3) b")


def _left_outer_theta(spark):
    a, b = _pair(spark, 8)
    return a.join(b, a.x < b.u, "left")


def _two_band_joins(spark):
    a, b = _pair(spark, 8)
    c = spark.range(8).select(F.col("id").alias("v"))
    return a.join(b, a.x < b.u).join(c, b.u > c.v)


def _equijoin_with_residual(spark):
    a, b = _pair(spark, 8)
    return a.join(b, (a.x == b.u) & (a.y > b.u))


def _hinted_cross_then_theta_filter(spark):
    k = F.broadcast(spark.range(4).select(F.col("id").alias("k")))
    return spark.range(8).crossJoin(k).where(F.col("id") > F.col("k"))


def _union_branch_loop(spark):
    a, b = _pair(spark, 8)
    return a.join(b, a.x < b.u).select("x").union(spark.range(3).select(F.col("id").alias("x")))


_SUBQUERY_LOOP = "(SELECT max(a.id) FROM range(5) a JOIN range(3) b ON a.id > b.id)"


def _select_list_subquery(spark):
    return spark.sql(f"SELECT t.id, {_SUBQUERY_LOOP} AS m FROM range(10) t")


def _nested_subquery(spark):
    return spark.sql(
        "SELECT * FROM range(10) t WHERE t.id > (SELECT max(s.id) FROM "
        f"range(6) s WHERE s.id < {_SUBQUERY_LOOP})"
    )


def _in_subquery_loop(spark):
    return spark.sql(
        "SELECT * FROM range(10) t WHERE t.id IN "
        "(SELECT a.id FROM range(5) a JOIN range(3) b ON a.id > b.id)"
    )


def _multi_column_not_in(spark):
    return spark.sql(
        "SELECT * FROM range(10) t WHERE (t.id, t.id + 1) NOT IN "
        "(SELECT a.id, a.id FROM range(5) a)"
    )


# Frames cached by the builders below; the test unpersists them once it
# has read the plan, so the shared session keeps no stray cache.
_CACHED: list = []


def _cached_band_join(spark):
    a, b = _pair(spark, 8)
    looped = a.join(b, a.x < b.u).cache()
    _CACHED.append(looped)
    return looped


def _cached_loop(spark):
    return _cached_band_join(spark).where(F.col("x") > 1)


def _cached_loop_scanned_twice(spark):
    looped = _cached_band_join(spark)
    return looped.select("x").union(looped.select("u"))


@pytest.mark.parametrize(
    "build, expected",
    [
        (_equijoin, (0, 0)),
        (_or_equijoin, (1, 0)),
        (_band_join, (1, 0)),
        (_hinted_cross, (0, 0)),
        (_unhinted_big_cross, (0, 1)),
        (_big_theta_join, (1, 1)),
        (_subquery_loop, (1, 0)),
        (_correlated_exists, (1, 0)),
        (_not_exists_theta, (1, 0)),
        (_small_unhinted_cross, (0, 0)),
        (_left_outer_theta, (1, 0)),
        (_two_band_joins, (2, 0)),
        (_equijoin_with_residual, (0, 0)),
        (_hinted_cross_then_theta_filter, (1, 0)),
        (_union_branch_loop, (1, 0)),
        (_select_list_subquery, (1, 0)),
        (_nested_subquery, (1, 0)),
        (_in_subquery_loop, (1, 0)),
        (_multi_column_not_in, (1, 0)),
        (_cached_loop, (1, 0)),
        (_cached_loop_scanned_twice, (1, 0)),
    ],
    ids=[
        "equijoin",
        "or_of_equalities",
        "band_join",
        "hinted_cross",
        "unhinted_big_cross",
        "big_theta_join",
        "scalar_subquery",
        "correlated_exists",
        "not_exists_theta",
        "small_unhinted_cross",
        "left_outer_theta",
        "two_band_joins",
        "equijoin_with_residual",
        "hinted_cross_then_theta_filter",
        "union_branch",
        "select_list_subquery",
        "nested_subquery",
        "in_subquery",
        "multi_column_not_in",
        "cached_loop",
        "cached_loop_scanned_twice",
    ],
)
def test_nested_loop_counts(spark, build, expected):
    """The live audit's counter, ``(conditioned, cartesian)``, on small
    synthetic plans: a keyed equi-join is no nested loop; the
    OR-of-equalities join (the recsys_holdout_hitrate bug class) and a
    non-equi band join each count one conditioned loop; a
    broadcast-hinted crossJoin counts nothing, while an unhintable one
    is a CartesianProduct (conditioned too if it carries a theta
    condition); and a conditioned loop inside a scalar subquery, or
    from a decorrelated EXISTS, is still counted — the walker descends
    into each node's subquery plans, because under AQE the root is a
    leaf.  The remaining cases pin the count's edges: loops add up
    (ALLOWED caps of 2 exist); a hash join's residual theta is no loop;
    a small unhinted cross auto-broadcasts (unconditioned, so 0); a
    filter over a hinted cross is pushed into the join and makes it a
    conditioned loop; a loop is found in a union branch, in a
    select-list or doubly nested scalar subquery, under an IN / NOT IN
    rewrite, and inside a cached plan — once, however often the cache
    is scanned."""
    pf = load_script("plan_fingerprint")
    try:
        assert pf.nested_loop_counts(build(spark)) == expected
    finally:
        while _CACHED:
            _CACHED.pop().unpersist()


def test_fingerprint_sees_nested_loop_inside_subquery(spark):
    """The executed-plan fingerprint descends into subquery plans too:
    the scalar subquery's nested loop shows up in the final adaptive
    plan's ``bnlj`` count."""
    fp = load_script("plan_fingerprint").fingerprint(_subquery_loop(spark))
    assert fp["bnlj"] == 1 and fp["cartesian"] == 0
