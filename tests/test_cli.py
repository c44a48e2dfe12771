"""CLI parity tests (reference run.py): backfill → query → compact over a
real lake, driven exactly as a reference user would."""

from __future__ import annotations

import gzip
import json

from discogs_etl_spark.cli import main
from tests.test_xml_ingest import RELEASE_XML


def test_cli_backfill_query_compact(spark, tmp_path, capsys):
    d1 = tmp_path / "discogs_20190301_releases.xml.gz"
    d1.write_bytes(gzip.compress(RELEASE_XML))
    lake = str(tmp_path / "lake")

    assert main(["backfill", str(d1), "--lake", lake]) == 0
    audit = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert audit[0]["filename"] == d1.name and audit[0]["data_type"] == "release"

    # the README flagship query, via the CLI's SQL surface (README.md:84-87)
    rc = main(
        [
            "query",
            "SELECT id, title FROM releases "
            "WHERE array_contains(genres, 'Jazz') AND size(genres) > 1 "
            "ORDER BY id",
            "--lake",
            lake,
            "--limit",
            "20",
        ]
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert [r["id"] for r in rows] == [1]

    assert main(["compact", "--lake", lake, "--type", "release"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "rewritten_partitions" in out


def test_cli_query_reads_each_lake_prefix_once(spark, tmp_path, monkeypatch, capsys):
    from discogs_etl_spark import cli

    for plural in ("releases", "artists"):
        (tmp_path / plural).mkdir()
    reads = []

    def counting_read_lake(spark, root, data_type):
        reads.append(data_type)
        return spark.range(1)

    monkeypatch.setattr(cli, "read_lake", counting_read_lake)
    sql = "SELECT count(*) AS n FROM releases CROSS JOIN artists"
    assert main(["query", sql, "--lake", str(tmp_path)]) == 0
    assert json.loads(capsys.readouterr().out) == {"n": 1}
    assert sorted(reads) == ["artist", "release"]


def test_cli_dedup_and_profile(spark, tmp_path, capsys):
    """User-facing curation verbs: dedup a corpus with duplicated texts
    (exact + minhash agree on the survivor count here — duplicates are
    exact copies), then profile the survivors."""
    import json

    from pyspark.sql import functions as F

    from discogs_etl_spark.cli import main
    from discogs_etl_spark.tables import load

    src = str(tmp_path / "corpus.parquet")
    out = str(tmp_path / "deduped.parquet")
    base = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    # duplicate every document under a shifted id — half the corpus is removable
    dup = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    base.unionByName(dup).write.mode("overwrite").parquet(src)

    rc = main(["dedup", "--input", src, "--output", out, "--method", "exact"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_removed"] == base.count()
    assert spark.read.parquet(out).count() == base.count()

    rc = main(["dedup", "--input", src, "--output", out, "--method", "minhash"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # minhash removes at LEAST the exact copies (near-dups may add more)
    assert report["n_removed"] >= base.count()
    assert report["n_dropped_buckets"] == 0  # uncapped: guard inert

    # the skew-guard flag flows through the CLI: with a 1-doc cap every
    # duplicate pair's bucket is oversized, so nothing dedups and the
    # accounting reports the affected documents
    rc = main(
        ["dedup", "--input", src, "--output", out, "--method", "minhash",
         "--max-bucket", "1"]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_removed"] == 0
    assert report["n_dropped_buckets"] > 0
    assert report["n_docs_in_dropped_buckets"] > 0

    rc = main(["profile", "--lake", out])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    cols = {r["col"] for r in rows}
    assert cols == {"doc_id", "text"}
    assert all(r["n_nulls"] == 0 for r in rows)


def test_cli_search_and_cluster(spark, tmp_path, capsys):
    """User-facing retrieval + clustering verbs: BM25 search over a text
    corpus ranks the on-topic doc first; k-means over a vector corpus
    assigns every row and writes (id, cluster, dist) parquet."""
    import json

    corpus = spark.createDataFrame(
        [
            (1, "spark shuffle partitions tuning guide"),
            (2, "cooking pasta with tomato sauce"),
            (3, "spark shuffle service internals deep dive"),
            (4, "gardening tips for spring flowers"),
        ],
        "doc_id long, text string",
    )
    cpath = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(cpath)

    from discogs_etl_spark.cli import main

    assert main(["search", "--input", cpath, "--query", "spark shuffle", "--k", "2"]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} == {1, 3}
    assert all(r["score"] > 0 for r in rows)

    vecs = spark.createDataFrame(
        [(i, [float(i % 2) * 10, float(i % 2) * 10 + 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    vpath = str(tmp_path / "vecs.parquet")
    vecs.write.parquet(vpath)
    opath = str(tmp_path / "assigned.parquet")
    assert main(
        ["cluster", "--input", vpath, "--output", opath, "--k", "2", "--iters", "2"]
    ) == 0
    sizes = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert sum(s["count"] for s in sizes) == 10
    assigned = spark.read.parquet(opath)
    # the two parity groups must land in two distinct clusters
    by_parity = {
        r["vec_id"] % 2: r["cluster"] for r in assigned.collect()
    }
    assert len(set(by_parity.values())) == 2


def test_cli_validate(spark, tmp_path, capsys):
    """Data-quality verb: one-scan constraint report, exit code 1 when a
    check fails, 0 when all pass."""
    import json

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, -5.0)], "id long, price double"
    )
    path = str(tmp_path / "t.parquet")
    df.write.parquet(path)
    from discogs_etl_spark.cli import main

    rc = main(["validate", "--input", path,
               "--rules", "not_null:id,unique:id,range:price:0:100"])
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1  # duplicate id + negative price
    by_name = {r["check_name"]: r for r in rows}
    assert by_name["unique(id)"]["n_violations"] == 1
    assert by_name["range(price,0,100)"]["n_violations"] == 1
    assert by_name["not_null(id)"]["passed"] == 1

    rc2 = main(["validate", "--input", path, "--rules", "not_null:price"])
    capsys.readouterr()
    assert rc2 == 0


def test_validate_rules_edge_cases(spark):
    """Rules-engine armor: timestamp cutoffs containing ':', NULL-bearing
    unique columns (SQL UNIQUE semantics), quoted column names, and
    malformed/empty rules."""
    import datetime

    import pytest as _pytest

    from discogs_etl_spark.curation import validate_table

    df = spark.createDataFrame(
        [
            (1, None, datetime.datetime(1998, 1, 1, 10, 0, 0)),
            (2, 5, datetime.datetime(1999, 6, 1, 15, 30, 0)),
            (3, None, datetime.datetime(1997, 1, 1, 0, 0, 0)),
        ],
        "id long, fk int, ts timestamp",
    )
    rep = {
        r["check_name"]: r
        for r in validate_table(
            spark, df, ["unique:fk", "before:ts:1999-01-01 12:30:00"]
        ).collect()
    }
    # two NULL fks are NOT duplicates of each other
    assert rep["unique(fk)"]["n_violations"] == 0
    # the ':'-bearing cutoff must parse fully: only the 1999-06-01 row
    # is at-or-after it
    assert rep["before(ts,1999-01-01 12:30:00)"]["n_violations"] == 1

    with _pytest.raises(ValueError, match="empty rules"):
        validate_table(spark, df, [])
    with _pytest.raises(ValueError, match="malformed rule"):
        validate_table(spark, df, ["not_null"])


def test_cli_dedup_phash_media(spark, tmp_path, capsys):
    """The phash method routes the dedup verb through dedup_media: a
    binary payload corpus with exact byte-duplicates collapses
    keep-first, and the report carries the phash method tag."""
    import json

    from pyspark.sql import functions as F

    from discogs_etl_spark.cli import main
    from discogs_etl_spark.multimodal import with_payload
    from discogs_etl_spark.tables import load

    src = str(tmp_path / "media.parquet")
    out = str(tmp_path / "deduped_media.parquet")
    base = with_payload(
        load(spark, "/root/testdata/sf0.001", "documents")
    ).select("doc_id", "payload")
    dup = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    base.unionByName(dup).write.mode("overwrite").parquet(src)

    rc = main(
        ["dedup", "--input", src, "--output", out,
         "--method", "phash", "--text", "payload"]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["method"] == "phash"
    # every doc's byte-exact copy is removed (hamming-0 exact path), and
    # near-dups inside the original corpus may remove more
    assert report["n_removed"] >= base.count()
    assert spark.read.parquet(out).count() == report["n_survivors"]


def test_cli_dedup_phash_real_decode(spark, tmp_path, capsys):
    """--real-decode hashes DECODED PIXELS: two byte-distinct PNGs of
    the same image content (different row filters -> different IDAT
    bytes) collapse under the pixel aHash, while the byte-token
    stand-in (no flag) sees distinct payloads and keeps both."""
    import json

    import numpy as np

    from discogs_etl_spark.cli import main
    from tests.test_multimodal_decode import _encode_png

    px = np.full((16, 16, 3), 10, dtype=np.uint8)
    px[:, 8:, :] = 240
    p_filter0 = _encode_png(px, [0])
    p_filter2 = _encode_png(px, [2])  # same pixels, different bytes
    assert p_filter0 != p_filter2
    src = str(tmp_path / "png_media.parquet")
    spark.createDataFrame(
        [(1, bytearray(p_filter0)), (2, bytearray(p_filter2))],
        "doc_id long, payload binary",
    ).write.mode("overwrite").parquet(src)

    out_real = str(tmp_path / "real.parquet")
    rc = main(
        ["dedup", "--input", src, "--output", out_real,
         "--method", "phash", "--text", "payload", "--real-decode"]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (report["n_survivors"], report["n_removed"]) == (1, 1)

    out_fake = str(tmp_path / "fake.parquet")
    rc = main(
        ["dedup", "--input", src, "--output", out_fake,
         "--method", "phash", "--text", "payload"]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # byte-token stand-in: filter-2 bytes tokenize differently, and the
    # two hashes land far apart -> both survive
    assert report["n_survivors"] == 2

    # --real-decode with a text method fails loud, not silently ignored
    rc = main(
        ["dedup", "--input", src, "--output", out_fake,
         "--method", "minhash", "--real-decode"]
    )
    assert rc == 2
    assert "only applies to --method phash" in capsys.readouterr().err
