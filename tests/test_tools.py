"""Tests for the measurement tooling the scale story rests on:
pure-Python checks of tools/scaling_curves.py and tools/bench_diff.py,
and Spark smoke tests of tools/dump_round_plan.py and the plan
normalizer behind tools/dump_plans.py."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

import __spark_entry__ as entrymod  # noqa: E402
import bench_diff  # noqa: E402
import dump_round_plan  # noqa: E402
import scaling_curves  # noqa: E402
from conftest import SF_SMALL  # noqa: E402
from fortisiem_clickhouse_monitor_spark.testing import (  # noqa: E402
    formatted_plan,
    normalize_plan,
)


def test_fit_alpha_recovers_known_exponents():
    # exact power laws: t = c * k^a
    for a in (0.0, 0.5, 1.0, 2.0):
        pts = [(k, 3.0 * k**a) for k in (1, 2, 5, 10, 20)]
        got = scaling_curves.fit_alpha(pts)
        assert abs(got - a) < 1e-9, (a, got)


def test_fit_alpha_degenerate_inputs():
    assert scaling_curves.fit_alpha([]) is None
    assert scaling_curves.fit_alpha([(1, 1.0)]) is None
    # zero/negative times are dropped, not log()'d
    assert scaling_curves.fit_alpha([(1, 0.0), (2, 0.0)]) is None
    # same k twice -> zero x-variance -> None, not ZeroDivisionError
    assert scaling_curves.fit_alpha([(2, 1.0), (2, 2.0)]) is None


def test_heavy_from_bench_reads_threshold(tmp_path):
    """Strict >, sorted — and names absent from the live registry are
    SKIPPED (ADVICE r5: a stale artifact naming a renamed/deleted
    query must not KeyError the sweep), so the fake artifact mixes
    registered names with a phantom."""
    p = tmp_path / "bench.json"
    p.write_text(
        json.dumps(
            {
                "queries": {
                    "q1_pricing_summary": 0.5,           # registered, fast
                    "topk_users_by_events": 2.0,         # registered, edge
                    "dedup_connected_components": 2.01,  # registered, heavy
                    "graph_ktruss_edges": 9.9,           # registered, heavy
                    "renamed_phantom_query": 99.9,       # NOT registered
                }
            }
        )
    )
    got = scaling_curves.heavy_from_bench(str(p), threshold=2.0)
    assert got == ["dedup_connected_components", "graph_ktruss_edges"]


def test_heavy_from_bench_missing_artifact():
    assert scaling_curves.heavy_from_bench("/nonexistent/bench.json") == []


def _curves(tmp_path, name, data):
    p = tmp_path / name
    p.write_text(json.dumps(data))
    return str(p)


def test_diff_curves_flags_only_real_regressions(tmp_path, capsys):
    old = _curves(
        tmp_path,
        "old.json",
        {
            "stable": {"alpha": 0.50},
            "worse": {"alpha": 0.50},
            "better": {"alpha": 0.90},
            "work_rot": {"alpha": 0.40, "work_alpha": 1.00},
            "gone": {"alpha": 0.10},
        },
    )
    new = _curves(
        tmp_path,
        "new.json",
        {
            "stable": {"alpha": 0.55},          # +0.05: inside band
            "worse": {"alpha": 0.70},           # +0.20: flagged
            "better": {"alpha": 0.30},          # improved
            "work_rot": {"alpha": 0.41, "work_alpha": 1.30},  # work flagged
            "fresh": {"alpha": 0.20},
        },
    )
    rc = bench_diff.diff_curves(old, new, 0.1)
    out = capsys.readouterr().out
    assert rc == 1
    assert out.count("ALPHA REGRESSION") == 1
    assert "WORK REGRESSION" in out
    assert "worse" in out and "work_rot" in out
    assert "fresh" in out  # new curves listed
    assert "2 alpha regression(s)" in out


def test_diff_curves_clean_pair_exits_zero(tmp_path, capsys):
    old = _curves(tmp_path, "o.json", {"q": {"alpha": 0.8}})
    new = _curves(tmp_path, "n.json", {"q": {"alpha": 0.75}})
    assert bench_diff.diff_curves(old, new, 0.1) == 0


def test_bench_compact_line_fits_driver_tail():
    """The one bench stdout line must stay under 1500 chars for ANY
    registry size (the driver records only the last 2000 stdout chars;
    the full per-query dict overflowed it rounds 1-7) and must parse
    as JSON with the contract fields intact."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    import bench

    timings = {f"some_operator_family_query_name_{i:03d}": i / 7.0 for i in range(450)}
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
    }
    line = bench.compact_line(result, timings, {"broken_q": "boom"})
    assert len(line) < 1500
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["n_queries"] == 450
    assert parsed["n_errors"] == 1
    assert 0 < len(parsed["queries"]) <= 15
    # heaviest-first: every reported query is in the true top-15
    top15 = sorted(timings, key=timings.get, reverse=True)[:15]
    assert set(parsed["queries"]) <= set(top15)
    assert parsed["artifact"] == "docs/bench_latest_full.json"


@pytest.mark.parametrize("name", sorted(dump_round_plan.BUILDERS))
def test_dump_round_plan_builds_and_explains(spark, name):
    """Each round the tool rebuilds plans at sf0.001 as a join over the
    query's checkpointed edges, not a bare checkpoint scan."""
    text = formatted_plan(dump_round_plan.BUILDERS[name](spark, SF_SMALL))
    assert "== Physical Plan ==" in text
    assert "BroadcastHashJoin" in text


def test_normalized_plans_of_two_builds_match(spark):
    """Two builds of one query differ in expression, RDD and plan ids,
    but not once normalized: the property that makes two
    tools/dump_plans.py runs diffable."""
    build = entrymod.queries()["graph_label_propagation"]
    a, b = (formatted_plan(build(spark, SF_SMALL)) for _ in range(2))
    assert a != b
    assert "localCheckpoint at" in a
    assert normalize_plan(a) == normalize_plan(b)
