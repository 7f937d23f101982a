"""Session-shared subtrees (`session.share_subtrees`): every shared
getter returns the same rows with sharing on as with it off, and a
second call with sharing on is served from the memo."""

from __future__ import annotations

import pytest

from fortisiem_clickhouse_monitor_spark import session
from fortisiem_clickhouse_monitor_spark.operators import dedup, graph, similarity

from conftest import SF_SMALL

GETTERS = [
    (dedup, "shared_ngram_pairs"),
    (dedup, "shared_star_forest"),
    (graph, "shared_lpa_labels"),
    (graph, "shared_hb_registers"),
    (similarity, "shared_kmeans_assignment"),
]


def _rows(value) -> list[list]:
    """Sorted rows of each frame; HyperBall's (sym, rounds) compares
    sym and every round."""
    frames = [value[0], *value[1]] if isinstance(value, tuple) else [value]
    return [sorted(f.collect(), key=str) for f in frames]


@pytest.mark.parametrize(
    "module,name", GETTERS, ids=[name for _, name in GETTERS]
)
def test_shared_matches_fresh(spark, module, name):
    getter = getattr(module, name)
    fresh = _rows(getter(spark, SF_SMALL))
    session.share_subtrees(True)
    try:
        first = getter(spark, SF_SMALL)
        assert getter(spark, SF_SMALL) is first
        assert _rows(first) == fresh
    finally:
        session.share_subtrees(False)
