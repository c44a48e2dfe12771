"""session.scoped_conf: the one way a builder holds a runtime conf for a
stretch of work.  It restores every key, also when the body raises, and
a key that was unset before is unset again, not pinned to the default
it read as."""

from __future__ import annotations

import pytest

from discogs_etl_spark.queries.llm import connected_components_star
from discogs_etl_spark.registry import queries
from discogs_etl_spark.session import local_frame, scoped_conf
from tests.conftest import SF_SMOKE

_PARTS = "spark.sql.shuffle.partitions"
# Registered with a default, and never set by the suite's session.
_UNSET = "spark.sql.files.openCostInBytes"


def test_scoped_conf_restores_when_the_body_raises(spark):
    before = spark.conf.get(_PARTS, None)
    assert before is not None and spark.conf.get(_UNSET, None) is None
    with pytest.raises(RuntimeError, match="body"):
        with scoped_conf(spark, {_PARTS: "3", _UNSET: "1234"}):
            assert (spark.conf.get(_PARTS), spark.conf.get(_UNSET)) == ("3", "1234")
            raise RuntimeError("body")
    assert spark.conf.get(_PARTS, None) == before
    assert spark.conf.get(_UNSET, None) is None


def _star_contraction(spark):
    pairs = local_frame(spark, [(1, 2), (2, 3), (5, 6)], "a long, b long")
    got = sorted(tuple(r) for r in connected_components_star(spark, pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]


def _label_propagation(spark):
    queries()["dedup_connected_components"](spark, SF_SMOKE).count()


@pytest.mark.parametrize(
    "build", [_star_contraction, _label_propagation], ids=lambda f: f.__name__.strip("_")
)
def test_connected_components_leave_an_unset_key_unset(spark, build):
    """Both loops size their shuffles inside a scope; with the key unset
    beforehand, it must be unset afterwards (not pinned to "200")."""
    before = spark.conf.get(_PARTS, None)
    spark.conf.unset(_PARTS)
    try:
        build(spark)
        assert spark.conf.get(_PARTS, None) is None
    finally:
        spark.conf.set(_PARTS, before)
