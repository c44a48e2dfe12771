"""The empty-input contract: every registered query runs on zero-row
inputs without raising.

At 100 TB an input that is empty after a filter is a real state (a new
tenant, a quiet partition, a dry landing directory).  There a query must
return an empty or NULL-bearing result, or fail with a deliberate,
actionable error; it must never crash by accident (an ANSI 0/0, a
driver-side ``first()`` of nothing, an ML fit over no rows).  The
contract is "no crash", not "no rows": two engines legitimately
disagree on values over empty inputs (ROLLUP over an empty table), so
no oracle is compared here.
"""

from __future__ import annotations

import pytest

from discogs_etl_spark.registry import all_specs

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_survives_zero_row_inputs(spark, sf_empty, name):
    # collect(), not a noop write: the failure modes include driver-side
    # reads (first() -> None, n=0 scalars) that only an action triggers.
    SPECS[name].fn(spark, sf_empty).collect()
