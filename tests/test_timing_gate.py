"""Round-over-round timing gate: the two newest committed
TIMINGS_r{N}.json sweeps must show no query regressing past the
scripts/timing_compare.py thresholds.

The r10 recsys catch is the motivation (SCALE_NOTES r10): a nested-loop
plan regression is invisible to every value-hash gate and only a timing
sweep sees it.  This test turns the per-round sweep ritual into a suite
failure instead of a judge's spot-check.  It compares COMMITTED
artifacts only — it never runs Spark — so it is fast and deterministic
for a given pair of files.
"""

from __future__ import annotations

import json

from tests.conftest import REPO, load_script


def _load_compare():
    return load_script("timing_compare")


def test_no_timing_regressions_between_committed_sweeps():
    tc = _load_compare()
    arts = tc.newest_artifacts(REPO)
    assert arts, "no TIMINGS_r*.json committed — run scripts/time_registry.py"
    if len(arts) < 2:
        return  # first round with an artifact: no basis to compare yet
    prev = json.loads(arts[-2].read_text())
    cur = json.loads(arts[-1].read_text())
    problems = tc.compare(prev, cur)
    assert not problems, (
        f"{arts[-2].name} -> {arts[-1].name} timing regressions (investigate "
        f"the PLAN, not just the value hash — see SCALE_NOTES r10 recsys): "
        f"{problems}"
    )


def test_current_sweep_has_no_errors_and_covers_registry():
    tc = _load_compare()
    arts = tc.newest_artifacts(REPO)
    assert arts, "no TIMINGS_r*.json committed — run scripts/time_registry.py"
    cur = json.loads(arts[-1].read_text())
    # A --only partial sweep committed as the round artifact would
    # silently un-gate every absent name next round; time_registry
    # stamps _only and both the compare CLI and this test refuse it.
    assert "_only" not in cur, (
        f"{arts[-1].name} is a PARTIAL sweep (--only) — partial sweeps "
        "feed scale_exponents --patch, never the round baseline"
    )
    errored = sorted(n for n, v in cur.items() if v is None)
    assert not errored, f"queries errored in {arts[-1].name}: {errored}"
    from discogs_etl_spark.registry import all_specs

    missing = sorted(set(all_specs()) - set(cur))
    # Net-new queries registered AFTER the sweep ran are expected to be
    # absent for at most one round; anything more means the ritual lapsed.
    assert len(missing) <= 5, (
        f"{arts[-1].name} missing {len(missing)} registered queries — "
        f"re-run scripts/time_registry.py on current code: {missing[:10]}"
    )


def test_artifact_discovery_sorts_rounds_numerically(tmp_path):
    """Discovery orders by the parsed round (r99 before r100, which a
    lexicographic sort inverts) and skips names the glob matches but
    the ``TIMINGS_r{N}.json`` form does not."""
    tc = _load_compare()
    for name in ("TIMINGS_r100.json", "TIMINGS_r99.json", "TIMINGS_r19_local.json"):
        (tmp_path / name).write_text("{}")
    assert [p.name for p in tc.newest_artifacts(tmp_path)] == [
        "TIMINGS_r99.json",
        "TIMINGS_r100.json",
    ]


def test_compare_flags_a_synthetic_regression():
    tc = _load_compare()
    prev = {"q": 3.0, "tiny": 0.2, "dedup_jaccard_prefix_filter": 100.0}
    cur = {
        "q": 9.0,
        "tiny": 0.5,
        "dedup_jaccard_prefix_filter": 250.0,
        "_loadavg_end": [0.5, 1.0, 1.5],  # metadata keys are skipped
    }
    problems = tc.compare(prev, cur)
    # q: 3x past the 2x gate (and above the 4 s floor); tiny: under the
    # 4 s absolute floor, never flagged; baseline-tail name: 2.5x is
    # inside its documented 3x spread band.
    assert len(problems) == 1 and problems[0].startswith("q:"), problems
    assert tc.compare({"q": 1.0}, {"q": None}) == ["q: errored in current sweep"]
    # The structured form (what time_registry's --baseline verify pass
    # consumes) must agree with the rendered form and carry real values.
    assert tc.compare_pairs(prev, cur) == [("q", 3.0, 9.0)]
    assert tc.compare_pairs({"q": 1.0}, {"q": None}) == [("q", 1.0, None)]


def test_cold_start_allowance_bounds_not_blanket():
    """The COLD_START band (VERDICT r12 #3) clears readings inside the
    adjudicated cold band but still flags a genuine regression past it —
    the allowance is a documented cap, not an exemption."""
    tc = _load_compare()
    name = "supplier_greedy_cover"
    cap = tc.COLD_START_MAX_SEC[name]
    # 2.9 s warm -> 9.5 s cold: the r11/r12 recurring flag, now cleared.
    assert tc.compare_pairs({name: 2.9}, {name: cap - 0.5}) == []
    # A real plan regression blows past the cap and flags normally.
    assert tc.compare_pairs({name: 2.9}, {name: cap + 20.0}) == [
        (name, 2.9, cap + 20.0)
    ]
    # r13 ADVICE: the band covers cold-start VARIANCE, not any sub-cap
    # wall — a sub-cap reading more than COLD_START_CLEARED_RATIO over
    # the prior round (the 1.8 s warm -> 9.9 s persistent-slowdown
    # scenario) flags despite being under the cap.
    assert tc.compare_pairs({name: 1.8}, {name: 9.9}) == [(name, 1.8, 9.9)]
    assert 9.9 <= cap and 9.9 > 1.8 * tc.COLD_START_CLEARED_RATIO
    # ...while the audited cold spread over a committed prior clears.
    assert 9.5 <= 2.9 * tc.COLD_START_CLEARED_RATIO
    # An errored entry is never cleared by the band.
    assert tc.compare_pairs({name: 2.9}, {name: None}) == [(name, 2.9, None)]
    # Every allowance names a registered query (no typo-shadowed caps).
    from discogs_etl_spark.registry import all_specs

    assert set(tc.COLD_START_MAX_SEC) <= set(all_specs())
