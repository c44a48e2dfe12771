"""Scale-technique proofs (SURVEY.md §7.2 phase 6): bucketed co-located
joins really skip the exchange; salted ops are result-invisible."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from discogs_etl_spark.scale import salted_join, write_bucketed
from discogs_etl_spark.tables import load

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        orders = load(spark, SF, "orders")
        li = load(spark, SF, "lineitem")
        write_bucketed(orders, "orders_b", ["o_orderkey"], 8, ["o_orderkey"])
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b",
            ["o_orderkey"],
            8,
            ["o_orderkey"],
        )
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        plan = _plan(joined)
        # co-located buckets: a sort-merge join with ZERO shuffles
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # result sanity vs the unbucketed join
        expected = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_salted_join_matches_plain_join(spark):
    cust = load(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    orders = load(spark, SF, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    plain = orders.join(cust, "c_custkey")
    salted = salted_join(orders, cust, "c_custkey", n_salts=4)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_star_contraction_components_adversarial(spark):
    """connected_components_star on graphs the sf fixtures don't produce:
    a long chain (forces multiple contraction rounds — diameter 39), a
    separate 2-node component, a hub star, and id ordering that puts the
    component min at the chain's far end.  The oracles' shared
    recursive-CTE fragment (``cc_sql``) must give the same components in
    DuckDB."""
    import duckdb
    import pandas as pd

    from discogs_etl_spark.queries._oracle_sql import cc_sql
    from discogs_etl_spark.queries.llm import connected_components_star
    chain = [(i, i + 1) for i in range(100, 139)]          # min = 100
    rev_chain = [(i + 1, i) for i in range(500, 520)]      # reversed orientation
    pair = [(7, 3)]
    star = [(205, x) for x in range(200, 211) if x != 205]
    graph = chain + rev_chain + pair + star
    edges = spark.createDataFrame(graph, "a long, b long")
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components_star(spark, edges).collect()
    }
    want = {(i, 100) for i in range(100, 140)}
    want |= {(i, 500) for i in range(500, 521)}
    want |= {(3, 3), (7, 3)}
    want |= {(x, 200) for x in range(200, 211)}
    assert got == want
    con = duckdb.connect()
    con.register("g", pd.DataFrame(graph, columns=["doc_a", "doc_b"]))
    assert set(con.execute(cc_sql("SELECT doc_a, doc_b FROM g")).fetchall()) == want


def test_incremental_dedup_ingest(spark, tmp_path):
    """Month-over-month dedup against the persistent hash index: within-
    batch dups collapse, cross-batch dups vanish, the index grows only by
    novel content, and a re-run of the same batch is a no-op."""
    from discogs_etl_spark.scale import incremental_dedup_ingest

    idx = str(tmp_path / "hash_index")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")],
        "doc_id long, text string",
    )
    n1 = incremental_dedup_ingest(spark, b1, idx)
    assert sorted(r.doc_id for r in n1.collect()) == [1, 2, 4]  # 3 is in-batch dup

    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "delta")], "doc_id long, text string"
    )
    n2 = incremental_dedup_ingest(spark, b2, idx)
    assert [r.doc_id for r in n2.collect()] == [11]  # beta already indexed

    n3 = incremental_dedup_ingest(spark, b2, idx)
    assert n3.count() == 0  # idempotent re-run
    assert spark.read.parquet(idx).count() == 4  # alpha beta gamma delta


def test_theil_sen_day_bound_guard(spark, monkeypatch):
    """stats_theil_sen_trend's sort-rank median funnels n_days^2/2
    slopes through ONE global window task; the r19 guard refuses past
    _THEIL_SEN_MAX_DAYS with an actionable message instead of silently
    single-threading an O(n^2) sort (r18 verdict task #7).  The real
    bound (10k days) comfortably clears every fixture (max ~2.4k days
    at sf0.1), pinned here so tightening it below fixture scale — or
    deleting the guard — reddens."""
    import pytest

    from discogs_etl_spark.queries import stats
    from tests.conftest import SF_SMOKE

    # fixture day counts sit far inside the real bound
    assert stats._THEIL_SEN_MAX_DAYS == 10_000
    df = stats.stats_theil_sen_trend(spark, SF_SMOKE)  # builds fine
    assert df.columns == ["n_days", "n_pairs", "sen_slope"]

    monkeypatch.setattr(stats, "_THEIL_SEN_MAX_DAYS", 1)
    with pytest.raises(ValueError, match="pairwise slopes through the"):
        stats.stats_theil_sen_trend(spark, SF_SMOKE)


def test_checked_emb_dim_guard(spark, monkeypatch, sf_empty, tmp_path):
    """The unrolled dot product indexes past a shorter embedding as NULL
    and silently drops pairs; _checked_emb_dim must fail loudly on any
    width drift instead, and on rows whose width reads NULL.  A table
    with zero rows has no width and passes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from discogs_etl_spark.queries import llm
    from tests.conftest import SF_SMOKE

    llm._EMB_DIM_CHECKED.clear()
    assert llm._checked_emb_dim(spark, SF_SMOKE) == llm._EMB_DIM
    # memoized: second call hits the cache (no further jobs — the dict
    # carries the key)
    key = (spark.sparkContext.applicationId, SF_SMOKE)
    assert key in llm._EMB_DIM_CHECKED

    assert llm._checked_emb_dim(spark, sf_empty) == llm._EMB_DIM

    schema = pq.read_schema(f"{SF_SMOKE}/embeddings.parquet")
    null_width = pa.table({"vec_id": [0], "embedding": [None], "label": [0]}, schema=schema)
    pq.write_table(null_width, str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="unrolled dot product is"):
        llm._checked_emb_dim(spark, str(tmp_path))

    llm._EMB_DIM_CHECKED.clear()
    monkeypatch.setattr(llm, "_EMB_DIM", 63)
    with pytest.raises(ValueError, match="unrolled dot product is"):
        llm._checked_emb_dim(spark, SF_SMOKE)
    llm._EMB_DIM_CHECKED.clear()
