"""No-execution audits over the whole registry (`pytest -m audit`).

Two invariant families, both free of query execution:

1.  **Oracle type parity** — Spark result `.dtypes` vs DuckDB
    `DESCRIBE <oracle>`.  The driver's value hasher is type-strict:
    DuckDB returns HUGEINT for grouped/windowed ``sum(BIGINT)`` and
    DOUBLE for ``floor(avg(...))`` while Spark returns BIGINT, and an
    identical-valued column still hash-fails.  This audit catches the
    whole class at plan time (round 2 shipped 5 such red rows).

2.  **Physical-plan invariants** — the formatted plan of every
    registered query must not contain a CartesianProduct or a
    row-at-a-time Python UDF (BatchEvalPython).  Arrow-batched
    boundaries (MapInPandas / FlatMapGroupsInPandas / ArrowEvalPython)
    are allowed — they are the sanctioned slow path.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from fortisiem_clickhouse_monitor_spark.testing import formatted_plan, type_parity

from conftest import SF_SMALL

pytestmark = pytest.mark.audit


def _oracle_pairs():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    return [(n, qs[n], oracles[n]) for n in sorted(oracles)]


def _all_pairs():
    return sorted(entrymod.queries().items())


@pytest.mark.parametrize(
    "name,fn,sql", _oracle_pairs(), ids=[p[0] for p in _oracle_pairs()]
)
def test_oracle_type_parity(spark, duck_small, name, fn, sql):
    problems = type_parity(fn(spark, SF_SMALL), duck_small, sql)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize(
    "name,fn", _all_pairs(), ids=[p[0] for p in _all_pairs()]
)
def test_plan_invariants(spark, name, fn):
    plan = formatted_plan(fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_heavy_queries_have_curves():
    """The sweep is a RULE, not a list (VERDICT r4 #3): every registered
    query over 1.5 s in the committed CLOSE bench artifact must have a
    scaling curve with >= 3 scale points in some
    docs/scaling_curves_*.json (tightened from 2.0 s, VERDICT r7 #4 —
    as the tail compresses, the uncurved band must not regrow).

    Noise robustness (VERDICT r8 #1): the heavy set is read from the
    newest TRACKED close snapshot, whose per-query medians are the
    stable numbers — a fresh ``bench_latest_full.json`` written by a
    driver post-close run carries that window's +/-2x host noise and
    failed this audit on an untouched 1.2 s query.  The fresh artifact
    still participates through a hysteresis band: anything above 3.0 s
    there (beyond the observed noise envelope around the 1.5 s line)
    needs a curve too, so a genuinely new heavy query cannot hide
    between closes; one at 1.5-3.0 s there with no curve raises a
    warning naming it.  tools/scaling_curves.py derives its default
    query set from the same artifacts, so closing a gap is one sweep
    run."""
    import glob
    import json
    import os
    import warnings

    from fortisiem_clickhouse_monitor_spark.testing import (
        close_bench_artifact,
        latest_bench_artifact,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    registered = set(entrymod.queries())
    heavy: set[str] = set()
    band: set[str] = set()
    close_path = close_bench_artifact(repo)
    latest_path = latest_bench_artifact(repo)
    if close_path is None and latest_path is None:
        pytest.skip("no bench artifact yet")
    for path, threshold in ((close_path, 1.5), (latest_path, 3.0)):
        if path is None:
            continue
        bench = json.load(open(path))["queries"]
        heavy |= {k for k, v in bench.items() if v > threshold and k in registered}
        if path == latest_path:
            band = {k for k, v in bench.items() if v > 1.5 and k in registered}
    covered = set()
    for p in glob.glob(os.path.join(repo, "docs", "scaling_curves_*.json")):
        for name, entry in json.load(open(p)).items():
            if len(entry.get("times", {})) >= 3:
                covered.add(name)
    # Inside the hysteresis band of the fresh artifact: not a failure
    # (host noise), but not silent either.
    for name in sorted(band - heavy - covered):
        warnings.warn(
            f"{name}: over 1.5 s in the fresh bench artifact with no "
            "scaling curve"
        )
    missing = sorted(heavy - covered)
    assert not missing, (
        f"heavy queries with no scaling curve (run tools/scaling_curves.py "
        f"docs/scaling_curves_r<N>.json): {missing}"
    )


def test_work_probes_reference_registered_queries():
    """Every work probe must target a registered query (a renamed or
    deleted query must not leave a dangling probe silently unexercised
    by the sweep)."""
    from fortisiem_clickhouse_monitor_spark.registry import work_probes

    unknown = sorted(set(work_probes()) - set(entrymod.queries()))
    assert not unknown, f"probes without a registered query: {unknown}"


#: ``createDataFrame`` calls allowed in the package outside
#: sources/fixtures.py, by file and source line, with the reason.
_CREATE_DF_ALLOWED = {
    ("operators/dedup.py", "return spark.createDataFrame([], schema=E.schema), 0"):
        "empty result of the driver-side union-find path",
    ("operators/dedup.py", "return spark.createDataFrame(stars, schema=E.schema), 0"):
        "pandas return of the driver-side union-find path: already goes "
        "through Arrow and can hold ~2M rows",
}


def test_no_list_built_dataframes():
    """A ``createDataFrame`` on a Python list plans as a ``LogicalRDD``:
    every scan runs a Python worker to unpickle its rows, and Catalyst
    can neither fold it nor size it for a join.  Small literal relations
    go through ``fixtures.local_df`` (an Arrow-backed LocalRelation)."""
    import pathlib

    import fortisiem_clickhouse_monitor_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "sources/fixtures.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            code = line.strip()
            if "createDataFrame(" in code and not code.startswith("#"):
                if (rel, code) not in _CREATE_DF_ALLOWED:
                    found.append(f"{rel}:{no}: {code}")
    assert not found, "use fixtures.local_df instead:\n" + "\n".join(found)


_PLAN = "plan changes without it at sf0.1"
_SMJ = "measured SMJ failure at scale"

#: ``F.broadcast`` hints allowed in the package, by (file, top-level
#: function), with their count and the reason the hint stays.
_BROADCAST_ALLOWED = {
    ("operators/advanced.py", "sketch_bloom_fpr_eval"): (2, _PLAN),
    ("operators/advanced.py", "sketch_countmin_token_freq"): (1, _PLAN),
    ("operators/advanced.py", "sketch_hll_intersection_eval"): (2, _PLAN),
    ("operators/advanced.py", "stats_mann_whitney_u"): (1, _PLAN),
    ("operators/advanced.py", "timeseries_cross_correlation"): (2, _PLAN),
    ("operators/behavior.py", "behavior_markov_next_event_eval"): (2, _PLAN),
    ("operators/corpus.py", "corpus_dsir_select"): (1, _PLAN),
    ("operators/corpus.py", "corpus_truncation_budget"): (1, _PLAN),
    ("operators/corpus.py", "text_bm25_scores"): (1, _PLAN),
    ("operators/dedup.py", "dedup_minhash_band_tuning_eval"): (2, _SMJ),
    ("operators/graph.py", "_adj_sides"): (2, _SMJ),
    ("operators/graph.py", "graph_neighborhood_function"): (1, _PLAN),
    ("operators/graph.py", "graph_ppr_seeded_top20"): (1, _PLAN),
    ("operators/graph.py", "graph_walk_centrality_top20"): (1, _PLAN),
    ("operators/intervals.py", "interval_peak_concurrency"): (1, _PLAN),
    ("operators/linkage.py", "linkage_blocking_quality"): (1, _PLAN),
    ("operators/profiling.py", "quality_iqr_fence_outliers"): (1, _PLAN),
    ("operators/similarity.py", "sim_dim_correlation_topk"): (2, _PLAN),
    ("operators/similarity.py", "sim_ivf_nprobe_frontier"): (1, _PLAN),
    ("operators/similarity.py", "sim_ivf_pq_topk"): (1, _PLAN),
    ("operators/similarity.py", "sim_ivf_recall_eval"): (1, _PLAN),
    ("operators/similarity.py", "sim_ndcg_eval"): (1, _PLAN),
    ("operators/similarity.py", "sim_pq_adc_recall_eval"): (1, _PLAN),
    ("operators/similarity.py", "sim_pq_trained_recall_eval"): (2, _PLAN),
    ("operators/text.py", "text_bigram_jm_logprob"): (1, _PLAN),
    ("operators/text.py", "text_bigram_logprob"): (1, _PLAN),
    ("operators/text.py", "text_ccnet_perplexity_buckets"): (1, _PLAN),
    ("operators/text.py", "text_unigram_logprob"): (1, _PLAN),
}


def test_broadcast_hints_are_listed():
    """Spark's planner broadcasts a join side by itself while its size
    estimate is under ``autoBroadcastJoinThreshold`` (checkpoint scans
    included), so an ``F.broadcast`` hint stays only where removing it
    changes a registered query's plan or its comment records a measured
    sort-merge failure at scale; every other hint was deleted with
    identical plans at sf0.01 and sf0.1 (tools/dump_plans.py)."""
    import ast
    import collections
    import pathlib

    import fortisiem_clickhouse_monitor_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    counts = collections.Counter()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "broadcast"
                    and getattr(node.func.value, "id", None) == "F"
                ):
                    counts[(rel, getattr(top, "name", "<module>"))] += 1
    allowed = {k: n for k, (n, _) in _BROADCAST_ALLOWED.items()}
    wrong = sorted(
        f"{rel}:{fn}: {counts.get((rel, fn), 0)} hints, allowlist "
        f"{allowed.get((rel, fn), 0)}"
        for rel, fn in set(counts) | set(allowed)
        if counts.get((rel, fn), 0) != allowed.get((rel, fn), 0)
    )
    assert not wrong, (
        "F.broadcast hints not in _BROADCAST_ALLOWED (delete the hint if "
        "the plan is identical without it):\n" + "\n".join(wrong)
    )

#: Lines of operators/graph.py and tools/dump_round_plan.py that may
#: alias an edge's second endpoint to ``u`` outside ``graph._undirected``,
#: by file and source line, with the reason.
_EDGE_COPY_ALLOWED = {
    ("operators/graph.py", 'top.select(F.col("doc_b").alias("u"))'):
        "node-id list of the top pairs' endpoints, not a symmetrization",
}


def _reverses_edge(node) -> bool:
    """``F.col("doc_b" | "b" | "v").alias("u")``: the second endpoint
    of an edge renamed to the first."""
    import ast

    def args(call):
        return [a.value for a in call.args if isinstance(a, ast.Constant)]

    return (
        isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "alias"
        and args(node) == ["u"]
        and isinstance(node.func.value, ast.Call)
        and getattr(node.func.value.func, "attr", None) == "col"
        and args(node.func.value) in (["doc_b"], ["b"], ["v"])
    )


def test_graph_edges_built_once():
    """The part<->supplier edge list is built only in
    ``graph._part_supplier_edges`` (its oracle twin only in
    ``_PS_EDGES_SQL``) and edges are reversed only in
    ``graph._undirected`` (its oracle twin only in
    ``_PS_UNDIRECTED_SQL``), so the queries and
    ``tools/dump_round_plan.py`` cannot drift from one definition.
    Oracle SQL strings are not Spark-side builds and are skipped."""
    import ast
    import pathlib

    import fortisiem_clickhouse_monitor_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = {
        "operators/graph.py": root / "operators" / "graph.py",
        "tools/dump_round_plan.py": root.parent / "tools" / "dump_round_plan.py",
    }
    found = []
    for rel, path in files.items():
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        helpers = [
            range(f.lineno, f.end_lineno + 1)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef)
            and f.name in ("_part_supplier_edges", "_undirected")
        ]
        for node in ast.walk(tree):
            line = getattr(node, "lineno", None)
            if line is None or any(line in r for r in helpers):
                continue
            if isinstance(node, ast.Constant) and node.value == "l_suppkey":
                what = "part<->supplier edge build"
            elif _reverses_edge(node):
                what = "edge reversal"
            else:
                continue
            code = lines[line - 1].strip()
            if (rel, code) not in _EDGE_COPY_ALLOWED:
                found.append(f"{rel}:{line}: {what}: {code}")
    graph_src = files["operators/graph.py"].read_text()
    n_cte = graph_src.count("SELECT DISTINCT l_partkey AS u")
    assert n_cte == 1, f"{n_cte} copies of the e0 CTE; use _PS_EDGES_SQL"
    n_und = graph_src.count("SELECT v AS u, u AS v FROM e0")
    assert n_und == 1, f"{n_und} copies of the edges CTE; use _PS_UNDIRECTED_SQL"
    assert not found, (
        "use graph._part_supplier_edges / graph._undirected:\n"
        + "\n".join(found)
    )
