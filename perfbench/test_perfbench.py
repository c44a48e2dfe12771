"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import dumps_gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if not f.startswith("_"))


def test_dump_generator_is_deterministic(tmp_path):
    a = dumps_gen.generate(str(tmp_path / "a"), seed=5)
    b = dumps_gen.generate(str(tmp_path / "b"), seed=5)
    c = dumps_gen.generate(str(tmp_path / "c"), seed=6)
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b")
    assert all(filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False) for n in names)
    assert (a.counts, a.genre_ids, a.manifest) == (b.counts, b.genre_ids, b.manifest)
    assert not filecmp.cmp(a.paths[0], c.paths[0], shallow=False)
    assert a.genre_ids and a.stale in a.paths
    assert all(os.path.basename(p) in a.manifest for p in a.paths)


def test_dump_generator_injects_edge_rows(tmp_path):
    import gzip

    d = dumps_gen.generate(str(tmp_path), seed=1)
    text = gzip.decompress(open(d.paths[0], "rb").read()).decode()
    assert "\x07" in text and "& Co" in text and "Folk, World, & Country" in text
    assert "<release status=" in text  # a release without its id attribute
    assert "<released>199?</released>" in text or "<released>1990-00-00</released>" in text


def test_fixture_copy_holds_every_table():
    for t in workloads.TABLES:
        assert os.path.isfile(os.path.join(workloads.FIXTURES_SF001, f"{t}.parquet")), t


class _Result:
    """Stands in for a DataFrame whose execution already happened."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def test_wrong_query_output_is_counted_as_failed():
    cols, rows = ["k", "v"], [(1, 2.5), (2, None)]
    wl = workloads.QueryWorkload(("q_right", "q_wrong"), workloads.FIXTURES_SF001)
    wl.expected = {"q_right": oracle.digest(cols, rows), "q_wrong": oracle.digest(cols, rows)}
    wl.last = {
        "q_right": _Result(["v", "k"], [(None, 2), (2.5, 1)]),  # order-insensitive
        "q_wrong": _Result(cols, [(1, 2.5), (2, 0.0)]),
    }
    ctx = workloads.Context("", 0, 0, False, workloads.Spans("t"))
    out = workloads.Outcome(attempted=2)
    wl.check(None, ctx, out)
    assert len(out.failures) == 1 and out.failures[0].startswith("q_wrong")
    line = run.result_line({}, run.END_TO_END, out.attempted, len(out.failures))
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 2, 1)


def test_unhashable_cells_never_match():
    assert not oracle.matches(["b"], [(True,)], oracle.digest(["b"], [(1,)]))


def test_metric_names_equal_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = workloads.Outcome(sessions=[9.0, 0.2, 0.3], warmups=[5.0, 1.0, 2.0], passes=[4.0, 3.0, 2.5, 2.0, 3.0],
                            op_warm={"a": [1.0, 2.0], "b": [0.5, 1.0]}, peak_rss_mb=10.0)
    printed = run.result_line(run.end_to_end(out), run.END_TO_END, 1, 0)["metrics"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in printed.items()
    }
    assert all(v["value"] > 0 for v in printed.values())
    traced = run.result_line({}, run.PER_LAYER, 1, 0)["metrics"]
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in traced.items()
    }
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_pinned_lists_are_registered_with_oracles():
    for names in (workloads.QUERIES, workloads.ANALYTICS, workloads.LLM):
        assert list(workloads.pinned_specs(names)) == list(names)


def test_unregistered_query_stops_the_benchmark():
    import pytest

    with pytest.raises(SystemExit, match="no_such_query"):
        workloads.pinned_specs(("q1_pricing_summary", "no_such_query"))
