"""Suite gate for the empty-input no-crash contract (verdict r11 #5).

The r10 boundary map found 13 queries that crashed on zero-row inputs
(ANSI 0/0 divisions, driver-side ``first()`` reads of an empty argmax,
a Python n=0 scalar, an ML fit needing >= 1 row, a read-back of a lake
the stream never wrote); r11 hardened all 13 and committed
``scripts/empty_probe.py`` as the ritual gate.  A ritual script only
fails when someone runs it — this test makes the contract fail the
SUITE: the same 13 names (plus any query whose empty path is touched in
a later round — currently bpe_compression_eval's r12 one-row rewrite is
already among them) run against a zero-row fixture built by the probe's
own ``build_fixture`` (pyarrow footer schemas, so events.ts keeps its
NTZ flag — a ``limit(0)`` rewrite would probe a different type lattice).

The contract here is NO CRASH (empty or NULL-bearing results both
fine); VALUE parity vs DuckDB on empty inputs is the probe's
``--compare`` stretch map, not a suite gate — two engines legitimately
disagree on e.g. ROLLUP over an empty table.
"""

from __future__ import annotations

import pytest

from tests.conftest import load_script

# The r11 empty-input hardening wave — every query the r10 boundary map
# recorded as erroring on zero-row inputs.  Queries whose empty path is
# REWORKED in later rounds stay on this list (bpe_compression_eval's
# r12 one-row parity rewrite); net-new queries with driver-side scalar
# reads or fits should be added when they register.
HARDENED = (
    "graph_pagerank_coorder",
    "activation_latency_percentiles",
    "users_reactivation_rate",
    "graph_modularity_lpa",
    "similarity_ivf_topk",
    "bpe_learn_merges",
    "dedup_minhash_eval",
    "embedding_triplet_check",
    "bpe_compression_eval",
    "retrieval_rank_agreement",
    "dedup_granularity_compare",
    "events_harmonic_peak_hour",
    "stream_events_lake_roundtrip",
)


def _probe_mod():
    return load_script("empty_probe")


@pytest.fixture(scope="module")
def empty_fixture(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_empty")
    _probe_mod().build_fixture("/root/testdata/sf0.001", str(out))
    return str(out)


def test_file_dependent_oracle_allowlist_names_are_registered():
    """The probe's FILE_DEPENDENT_ORACLES allowlist (r12 ADVICE) must
    track the registry: a renamed query would silently demote its probe
    result from row-set match to an informational DIVERGE while the
    dead allowlist entry lingered."""
    from discogs_etl_spark.registry import all_specs

    allow = _probe_mod().FILE_DEPENDENT_ORACLES
    assert allow, "allowlist emptied — drop the mechanism with it"
    assert set(allow) <= set(all_specs()), (
        f"unregistered names in FILE_DEPENDENT_ORACLES: "
        f"{sorted(set(allow) - set(all_specs()))}"
    )


@pytest.mark.parametrize("name", HARDENED)
def test_hardened_query_survives_zero_row_inputs(spark, name, empty_fixture):
    from discogs_etl_spark.registry import all_specs

    spec = all_specs()[name]
    # collect(), not a noop write: the hardened failure modes include
    # DRIVER-side reads (first() -> None, n=0 scalars) that any action
    # triggers, and the results are at most a few rows by construction.
    rows = spec.fn(spark, empty_fixture).collect()
    assert rows is not None  # the contract is "no crash", not "no rows"
