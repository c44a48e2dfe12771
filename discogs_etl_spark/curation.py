"""User-facing corpus-curation API: the dedup machinery the registered
queries prove, bound to ARBITRARY parquet corpora instead of the driver
fixtures — what `python -m discogs_etl_spark dedup` drives.

Methods:

- ``exact``  — content-sha256 keep-first (dedup_exact_hash shape):
  map-side hashing, one shuffle on the 64-char digest.
- ``minhash`` — MinHash+LSH near-dup pairs (minhash_pairs_df) →
  large-star/small-star connected components → keep min-id per
  component (dedup_fuzzy_keep_one shape, with the O(log n) CC variant
  as the default because corpus topology is unknown).

``dedup_media`` is the same contract for OPAQUE-BINARY media columns:
64-bit perceptual hash → exact-hash pre-grouping + banded Hamming ≤ 7
pairs (multimodal.phash_near_dup_pairs, the multimodal_phash_dedup
code path) → connected components → keep min-id, with the same
``max_bucket`` skew guard and dropped-bucket accounting.

All return the SURVIVING rows with their original schema plus a
one-row accounting frame; exactness/recall semantics are identical to
the oracle-checked queries (same code paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from discogs_etl_spark.session import local_frame


def _keep_component_minima(
    spark: SparkSession, norm: DataFrame, tid: str, pairs: DataFrame
) -> DataFrame:
    """``norm`` without the rows whose id column ``tid`` is a non-minimum
    member of a connected component of the near-dup graph ``pairs``
    (doc_a, doc_b).  Rows outside every component survive untouched:
    the anti-join is against the losers only, a graph-sized table."""
    from discogs_etl_spark.queries.llm import connected_components_star

    comp = connected_components_star(spark, pairs)
    losers = comp.where(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("__detl_loser")
    )
    return norm.join(losers, norm[tid] == losers["__detl_loser"], "left_anti")


def _dedup_report(
    spark: SparkSession,
    method: str,
    df: DataFrame,
    survivors: DataFrame,
    n_dropped_buckets: int,
    n_docs_in_dropped: int,
) -> DataFrame:
    """The one-row report of a dedup run: method, the input and survivor
    row counts (two count jobs), their difference, and the capped run's
    dropped-bucket accounting."""
    n_in = df.count()
    n_out = survivors.count()
    return local_frame(
        spark,
        [(method, n_in, n_out, n_in - n_out, n_dropped_buckets, n_docs_in_dropped)],
        "method string, n_input long, n_survivors long, n_removed long, "
        "n_dropped_buckets long, n_docs_in_dropped_buckets long",
    )


def dedup_corpus(
    spark: SparkSession,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "minhash",
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deduplicate ``df`` by content.  Returns (survivors, report) —
    survivors keep the input schema; the report is one row with counts.

    The id column must be numeric and unique (keep-first = min id); the
    text column is the content key.  NULL-content rows are never treated
    as duplicates of each other (a NULL is not equal to another NULL) —
    they all survive.

    ``max_bucket`` (minhash only) is the production bucket-skew guard: a
    boilerplate-heavy real corpus can hash thousands of docs into ONE
    LSH bucket, whose O(k²) candidate pairs would OOM a single executor.
    When set, buckets larger than ``max_bucket`` are excluded from pair
    generation (their docs all SURVIVE — the guard trades recall inside
    degenerate buckets for bounded memory, never correctness of what it
    does remove) and the report gains the accounting:
    n_dropped_buckets (per-band LSH buckets skipped) and
    n_docs_in_dropped_buckets (DISTINCT input documents that had at
    least one bucket skipped — same unit as n_input/n_survivors, so the
    recall exposure reads directly).  The registered oracle queries
    never set it, staying exact."""
    # temp names guaranteed absent from the input schema
    tid, ttxt, trn = "__detl_id", "__detl_text", "__detl_rn"
    while any(c in df.columns for c in (tid, ttxt, trn)):
        tid, ttxt, trn = tid + "_", ttxt + "_", trn + "_"
    norm = df.withColumn(tid, F.col(id_col)).withColumn(ttxt, F.col(text_col))
    n_dropped_buckets = 0
    n_docs_in_dropped = 0
    if method == "exact":
        w = Window.partitionBy(F.sha2(ttxt, 256)).orderBy(tid)
        survivors = (
            norm.withColumn(trn, F.row_number().over(w))
            .where(F.col(ttxt).isNull() | (F.col(trn) == 1))
            .drop(trn, tid, ttxt)
        )
    elif method == "minhash":
        from discogs_etl_spark.queries.llm import (
            minhash_bands_df,
            minhash_bucket_counts,
            minhash_dropped_buckets,
            minhash_pairs_df,
        )

        src = norm.where(F.col(ttxt).isNotNull()).select(
            F.col(tid).alias("doc_id"), F.col(ttxt).alias("text")
        )
        bands = None
        counts = None
        if max_bucket is not None:
            # checkpoint the signature pass ONCE (pair generation and the
            # accounting both read it), and the bucket-size aggregation
            # ONCE (the cap filter and the dropped report both read it)
            bands = minhash_bands_df(src).localCheckpoint()
            counts = minhash_bucket_counts(bands).localCheckpoint()
            dropped = minhash_dropped_buckets(counts, max_bucket)
            n_dropped_buckets = dropped.count()
            # DISTINCT documents touching a dropped bucket — the same
            # unit as n_input/n_survivors (a doc occupies one bucket per
            # band, so summing bucket sizes would overcount ~4x)
            n_docs_in_dropped = (
                bands.join(
                    dropped.select("band", "band_sig"), ["band", "band_sig"]
                )
                .select("doc_id")
                .distinct()
                .count()
            )
        pairs = (
            minhash_pairs_df(
                src, bands=bands, max_bucket=max_bucket, bucket_counts=counts
            )
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
        survivors = _keep_component_minima(spark, norm, tid, pairs).drop(tid, ttxt)
    else:
        raise ValueError(f"unknown dedup method {method!r}; use 'exact' or 'minhash'")
    return survivors, _dedup_report(
        spark, method, df, survivors, n_dropped_buckets, n_docs_in_dropped
    )


def dedup_media(
    spark: SparkSession,
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_bucket: int | None = None,
    real: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Deduplicate a MEDIA table by perceptual content — the
    ``dedup_corpus`` contract for opaque-binary columns.  Returns
    (survivors, report); survivors keep the input schema.

    Pipeline = the oracle-checked ``multimodal_phash_dedup`` path:
    64-bit perceptual hash per payload (Arrow-batched map stage;
    ``multimodal.phash_hashes`` — ``real=True`` runs the in-repo
    ``ahash64_png`` pixel aHash, the default ``real=False`` the
    deterministic stand-in the registered oracle query uses), exact-hash
    pre-grouping + 8×8-bit banded candidates,
    popcount Hamming ≤ 7 pairs, large-star/small-star connected
    components, keep min-id per component.  NULL payloads are never
    duplicates of each other and all survive.

    ``max_bucket`` is the banded-LSH skew guard
    (``phash_near_dup_pairs``): oversized (band, sig) buckets are
    excluded from NEAR-pair generation (exact byte/hash duplicates are
    still removed — the full-hash equi-join bypasses banding) and the
    report gains n_dropped_buckets plus n_docs_in_dropped_buckets
    (DISTINCT input docs whose hash sat in at least one skipped bucket
    — the recall exposure in input-row units)."""
    from discogs_etl_spark.multimodal import (
        _phash_banded,
        phash_bucket_counts,
        phash_dropped_buckets,
        phash_hashes,
        phash_near_dup_pairs,
    )

    # Validate the payload column on the driver: the CLI's --method
    # phash reuses --text (default 'text'), so pointing it at a string
    # column is an easy misconfiguration that would otherwise surface as
    # bytes(payload) raising TypeError inside executor tasks.  Strings
    # are accepted by casting to binary (Spark's string->binary cast is
    # the UTF-8 bytes, which for the fixtures is exactly with_payload's
    # encode(text, 'UTF-8')); anything else fails here with a clear
    # message instead of a distributed stack trace.
    pay_type = df.schema[payload_col].dataType
    if isinstance(pay_type, T.StringType):
        df = df.withColumn(payload_col, F.col(payload_col).cast("binary"))
    elif not isinstance(pay_type, T.BinaryType):
        raise ValueError(
            f"dedup_media payload column {payload_col!r} must be binary "
            f"(or string, which is UTF-8-encoded); got {pay_type.simpleString()}"
        )
    tid, tpay = "__detl_id", "__detl_payload"
    while any(c in df.columns for c in (tid, tpay)):
        tid, tpay = tid + "_", tpay + "_"
    norm = df.withColumn(tid, F.col(id_col)).withColumn(tpay, F.col(payload_col))
    src = norm.where(F.col(tpay).isNotNull()).select(
        F.col(tid).alias("doc_id"), F.col(tpay).alias("payload")
    )
    # one hash pass; pairs, accounting, and (under a cap) the bucket
    # filter all read it
    hashes = phash_hashes(src, real=real).localCheckpoint()
    n_dropped_buckets = 0
    n_docs_in_dropped = 0
    banded = None
    counts = None
    if max_bucket is not None:
        # checkpoint the banding explode ONCE (the width aggregation,
        # the exposure accounting, and capped pair generation all read
        # it) and the bucket-size aggregation ONCE (the cap filter and
        # the dropped report both read it) — the dedup_corpus minhash
        # pattern; without the reuse each ran twice per API call
        reps = hashes.groupBy("hv").agg(F.min("doc_id").alias("rep"))
        banded = _phash_banded(reps).localCheckpoint()
        counts = phash_bucket_counts(banded=banded).localCheckpoint()
        dropped = phash_dropped_buckets(counts, max_bucket)
        n_dropped_buckets = dropped.count()
        dropped_hvs = (
            banded.join(dropped.select("band", "sig"), ["band", "sig"])
            .select("hv")
            .distinct()
        )
        n_docs_in_dropped = (
            hashes.join(dropped_hvs, "hv").select("doc_id").distinct().count()
        )
    pairs = (
        phash_near_dup_pairs(
            hashes, max_bucket=max_bucket, banded=banded, bucket_counts=counts
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    survivors = _keep_component_minima(spark, norm, tid, pairs).drop(tid, tpay)
    return survivors, _dedup_report(
        spark, "phash", df, survivors, n_dropped_buckets, n_docs_in_dropped
    )


def _orderable(dt: T.DataType) -> bool:
    return not isinstance(dt, (T.MapType, T.ArrayType, T.StructType, T.BinaryType))


def profile_table(df: DataFrame) -> DataFrame:
    """Per-column profile of ANY DataFrame in ONE scan: rows/nulls/
    approx-distinct (HyperLogLog — sketches merge map-side, so wide
    tables stay a single pass with no Expand blowup) and stringified
    min/max (nulled for nested/binary columns, whose ordering is not
    meaningful as a string).  The oracle-checked table_profile_orders is
    the exact-count sibling for a fixed column set."""
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for field in df.schema.fields:
        c = field.name
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nulls__{c}")
        )
        target = F.col(c) if _orderable(field.dataType) else F.to_json(F.struct(c))
        aggs.append(F.approx_count_distinct(target).alias(f"__dist__{c}"))
        if _orderable(field.dataType):
            aggs.append(F.min(c).cast("string").alias(f"__min__{c}"))
            aggs.append(F.max(c).cast("string").alias(f"__max__{c}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"__min__{c}"))
            aggs.append(F.lit(None).cast("string").alias(f"__max__{c}"))
    wide = df.agg(*aggs)
    stacked = wide.selectExpr(
        "__n_rows AS n_rows",
        "stack({n}, {args}) AS (col, n_nulls, n_distinct_approx, min_str, max_str)".format(
            n=len(df.columns),
            args=", ".join(
                f"'{c}', `__nulls__{c}`, `__dist__{c}`, `__min__{c}`, `__max__{c}`"
                for c in df.columns
            ),
        ),
    )
    return stacked.select(
        "col", "n_rows", "n_nulls", "n_distinct_approx", "min_str", "max_str"
    )


def search_corpus(
    spark: SparkSession,
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval of ``query`` against ANY (id, text) corpus —
    the text_search_bm25_topk scoring (k1=1.2, b=0.75, exact-decimal
    accumulation) bound to a free-text query string instead of the
    fixture query set.  Returns the top ``k`` (id, score) rows.

    Scale shape: the query's terms are a LITERAL in-filter pushed into
    the postings aggregation (only matching terms' postings ever
    shuffle); corpus stats broadcast; top-k is a TakeOrderedAndProject."""
    qterms = sorted({w for w in query.split() if len(w) > 3})
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    if not qterms:
        # empty frame with the CORPUS's id type, not a hardcoded long
        return base.select(
            F.col("__id").alias(id_col), F.lit(0.0).alias("score")
        ).limit(0)
    # Materialize the postings ONCE — same reason as the registered BM25
    # query: tok feeds dl, the hit filter, and the scoring join, and an
    # un-checkpointed plan re-tokenizes the corpus per branch.
    tok = (
        base.select("__id", F.explode(F.split("__text", " ")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("__id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    dl = tok.groupBy("__id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    hits = tok.where(F.col("w").isin(qterms))
    dfreq = hits.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    from discogs_etl_spark.queries.llm import (
        bm25_contribution_micros,
        bm25_micros_to_score,
    )

    # fixed-point accumulation (r18): int64 micros instead of a decimal
    # sum buffer — see text_search_bm25_topk's r18 note
    joined = hits.join(dfreq, "w").join(dl, "__id").join(F.broadcast(stats))
    return (
        joined.select("__id", bm25_contribution_micros().alias("c"))
        .groupBy("__id")
        .agg(bm25_micros_to_score(F.sum("c")).alias("score"))
        .orderBy(F.desc("score"), F.asc("__id"))
        .limit(k)
        .select(F.col("__id").alias(id_col), "score")
    )


def cluster_corpus(
    spark: SparkSession,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Deterministic fixed-iteration k-means over ANY (id, vector)
    DataFrame — the kmeans_embeddings_fixed machinery (the registered
    query binds it to the fixture table): centroids seed from the ``k``
    smallest ids, squared-L2 assignment with exact-decimal argmin ties,
    per-(cluster, dim) decimal-mean updates.  Returns (id, cluster,
    dist) after ``iters`` Lloyd rounds.

    Scale: centroids (k x dims) broadcast, so assignment is map-only
    over the corpus; each update emits k·dims rows regardless of corpus
    size."""
    emb = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = (
        emb.orderBy("__id")
        .limit(k)
        .select(F.col("__id").alias("cid"), F.col("v").alias("cv"))
    )

    def assign(cent: DataFrame) -> DataFrame:
        # Centroids roll up into ONE row (k x dims — always tiny) that
        # broadcasts into a MAP-ONLY argmin: each vector scores all k
        # centroids inside a row-local array expression and array_min
        # picks the (dist, cid) struct minimum — the same exact-decimal
        # (dist, cid) order the per-__id ROW_NUMBER window used, so
        # assignments are identical.  The former shape materialized
        # corpus x k join rows and shuffled them through a window per
        # Lloyd round (a k-times-corpus exchange each iteration); this
        # is zero-shuffle (guide §2.4, §3.1).
        cents = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cs"))
        best = F.array_min(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("v"), c["cv"], lambda a, b: (a - b) * (a - b)
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        9,
                    )
                    .cast("decimal(38,9)")
                    .alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        # __best stays multiply-referenced so CollapseProject cannot
        # inline the argmin expression into each field access (the
        # minhash `hs` staging trick).
        return (
            emb.join(F.broadcast(cents))
            .select("__id", "v", best.alias("__best"))
            .select(
                "__id",
                "v",
                F.col("__best.cid").alias("cid"),
                F.col("__best.dist").alias("dist"),
            )
        )

    a = assign(cent)
    for _ in range(iters - 1):
        ex = a.select("cid", F.posexplode("v").alias("pos", "val"))
        newc = ex.groupBy("cid", "pos").agg(
            F.round(
                F.sum(F.round("val", 9).cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("cval")
        )
        cent = newc.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s.cval,
            ).alias("cv")
        )
        a = assign(cent)
    return a.select(
        F.col("__id").alias(id_col),
        F.col("cid").alias("cluster"),
        F.col("dist").cast("double").alias("dist"),
    )


def validate_table(
    spark: SparkSession, df: DataFrame, rules: list[str]
) -> DataFrame:
    """Data-quality constraint report over ANY DataFrame in ONE scan —
    the Deequ-style gate a production pipeline runs before publishing a
    table.  ``rules`` is a list of rule strings:

    - ``not_null:col``           — no NULLs in col
    - ``unique:col``             — col's non-NULL values have no
      duplicates (SQL UNIQUE semantics: NULLs are permitted and never
      count as duplicates of each other — pair with not_null to forbid)
    - ``range:col:lo:hi``        — every col value in [lo, hi]
    - ``in_set:col:a|b|c``       — every col value in the given set
    - ``before:col:timestamp``   — every col value strictly earlier
      (the cutoff may contain ':' — only the first two ':' split)

    Returns one row per rule: (check_name, n_rows, n_violations,
    passed).  All checks evaluate in a SINGLE wide aggregation (the
    profile_table shape) — adding a rule never adds a pass over the
    data; ``unique`` contributes the only non-trivially-mergeable term
    (COUNT DISTINCT) and Catalyst plans the expand for it."""
    if not rules:
        raise ValueError("validate_table: empty rules list")
    n = F.count(F.lit(1))
    aggs = [n.alias("__n_rows")]
    names: list[str] = []
    for i, rule in enumerate(rules):
        # split only kind and col — the remainder may itself contain ':'
        # (timestamps); each kind parses its own tail
        parts = rule.split(":", 2)
        if len(parts) < 2 or not parts[0] or not parts[1]:
            raise ValueError(f"malformed rule {rule!r} (want kind:col[:args])")
        kind, col = parts[0], parts[1]
        rest = parts[2] if len(parts) > 2 else ""
        if kind == "not_null":
            expr = F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            name = f"not_null({col})"
        elif kind == "unique":
            # non-NULL count minus distinct non-NULL count: NULLs are
            # not duplicates of each other (SQL UNIQUE semantics)
            expr = F.count(F.col(col)) - F.countDistinct(col)
            name = f"unique({col})"
        elif kind == "range":
            lo_s, hi_s = rest.split(":")
            lo, hi = float(lo_s), float(hi_s)
            expr = F.sum(F.when(~F.col(col).between(lo, hi), 1).otherwise(0))
            name = f"range({col},{lo_s},{hi_s})"
        elif kind == "in_set":
            vals = rest.split("|")
            expr = F.sum(F.when(~F.col(col).isin(vals), 1).otherwise(0))
            name = f"in_set({col})"
        elif kind == "before":
            expr = F.sum(
                F.when(F.col(col) >= F.lit(rest).cast("timestamp"), 1).otherwise(0)
            )
            name = f"before({col},{rest})"
        else:
            raise ValueError(f"unknown rule kind {kind!r} in {rule!r}")
        aggs.append(expr.cast("long").alias(f"__v{i}"))
        names.append(name)
    wide = df.agg(*aggs)
    # check names carry user strings (column names, cutoffs) — escape
    # quotes so the generated stack() literal can't break or be abused
    stack = ", ".join(
        "'{q}', `__v{i}`".format(q=name.replace("'", "''"), i=i)
        for i, name in enumerate(names)
    )
    return wide.selectExpr(
        "__n_rows", f"stack({len(names)}, {stack}) AS (check_name, n_violations)"
    ).selectExpr(
        "check_name",
        "__n_rows AS n_rows",
        "n_violations",
        "CAST(n_violations = 0 AS INT) AS passed",
    )
