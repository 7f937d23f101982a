"""Round-8 additions: cache-release on toggle-off (ADVICE r7), the
IVF nprobe recall/cost frontier, planted-structure ANN A/B, persisted
IVF-PQ index round-trip, and restart-resume coverage helpers."""

from __future__ import annotations

import pytest

from fortisiem_clickhouse_monitor_spark.session import free_local_checkpoint

SF_SMALL = "/root/testdata/sf0.001"


def _checkpoint_rdd(df) -> int:
    """Id of the RDD behind a localCheckpoint's LogicalRDD."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persisted(spark, rdd_id: int) -> bool:
    # Keyed on the id, not the context-wide count: a ContextCleaner
    # sweep of RDDs other tests leaked can land between two counts.
    return spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rdd_id)


def test_free_local_checkpoint_releases_blocks(spark):
    """DataFrame.unpersist() is a documented no-op for localCheckpoint
    blocks; free_local_checkpoint must actually release them — flat,
    and nested in the shapes the session caches use (dict of frames,
    tuple of (frame, [frames]))."""
    flat = spark.range(10).localCheckpoint(eager=True)
    inner = spark.range(5).localCheckpoint(eager=True)
    deepest = spark.range(3).localCheckpoint(eager=True)
    nested = {("k", "x"): (inner, [deepest])}
    ids = [_checkpoint_rdd(df) for df in (flat, inner, deepest)]
    assert len(set(ids)) == 3
    assert all(_persisted(spark, i) for i in ids)
    free_local_checkpoint(flat)
    free_local_checkpoint(nested)
    assert not any(_persisted(spark, i) for i in ids)


def test_free_local_checkpoint_tolerates_non_checkpoints(spark):
    """Non-LogicalRDD plans (plain scans, literals) and junk values
    must be skipped silently — the toggle path can never raise."""
    free_local_checkpoint(spark.range(4))  # un-checkpointed plan
    free_local_checkpoint(None)
    free_local_checkpoint({"a": [None, ("x",)]})


def test_cache_toggle_off_releases_checkpoints(spark):
    """share_subtrees(False) must unpersist the memoized entries'
    checkpoint blocks (ADVICE r7: they leaked for the session).  Uses
    the k-means assignment — the cheapest shared subtree — against
    sf0.001."""
    from fortisiem_clickhouse_monitor_spark import session
    from fortisiem_clickhouse_monitor_spark.operators import similarity as sim

    session.share_subtrees(True)
    try:
        memo = _checkpoint_rdd(sim.shared_kmeans_assignment(spark, SF_SMALL))
        assert _persisted(spark, memo)
    finally:
        session.share_subtrees(False)
    # The memo's own checkpoint is released; any blocks the kmeans
    # computation checkpoints internally follow per-call lifecycle and
    # are not the switch's to free.
    assert not _persisted(spark, memo)
    assert not session._SUBTREES


def test_union_find_empty_and_pandas_return_path(spark):
    """The driver union-find's columnar (pandas) return path must agree
    with the distributed contraction on a small forest, and an
    edgeless input must return an empty star frame, not raise."""
    from fortisiem_clickhouse_monitor_spark.operators.dedup import (
        alternating_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "src LONG, dst LONG"
    )
    stars, rounds = alternating_components(edges)
    assert rounds == 0  # size gate took the driver path
    got = {(r["u"], r["v"]) for r in stars.collect()}
    assert got == {(1, 2), (1, 3), (10, 11)}

    empty = spark.createDataFrame([(7, 7)], "src LONG, dst LONG")
    stars2, _ = alternating_components(empty)
    assert stars2.count() == 0


def _write_planted_embeddings(path, n=400, dim=64, k=10, noise=0.05):
    """A STRUCTURED embeddings fixture: k tight clusters on the unit
    sphere (within-cluster cosine ~0.995, cross ~0), same schema as the
    driver table (vec_id BIGINT, embedding FLOAT[], label INT, label =
    cluster id).  The contrast fixture for the isotropy argument in
    sim_ivf_nprobe_frontier's docstring."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = (np.arange(n) % k).astype("int32")
    mat = centers[labels] + noise * rng.standard_normal((n, dim))
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(
                [row.astype("float32") for row in mat],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(labels),
        }
    )
    pq.write_table(tbl, f"{path}/embeddings.parquet")


def test_ivf_frontier_saturates_on_structured_embeddings(spark, tmp_path):
    """The planted-cluster A/B (VERDICT r7 #1): on embeddings whose
    labels DO capture geometry, the same IVF machinery that measures
    ~29/200 recall hits at nprobe=1 on the isotropic fixture must
    saturate — the query's own cluster is its nearest cell, so one
    probe already contains (nearly) the whole exact top-10.  This
    pins the fixture's linear frontier on the data, not the code."""
    from fortisiem_clickhouse_monitor_spark.operators.similarity import (
        _RECALL_K,
        _RECALL_NQ,
        sim_ivf_nprobe_frontier,
    )

    _write_planted_embeddings(str(tmp_path))
    rows = {
        r["nprobe"]: r
        for r in sim_ivf_nprobe_frontier(spark, str(tmp_path)).collect()
    }
    total = _RECALL_K * _RECALL_NQ  # 200 possible hits
    assert set(rows) == {1, 2, 4, 8}
    # saturation at one probe: >= 95% of exact top-10 found
    assert rows[1]["total_hits"] >= 0.95 * total
    # monotone in nprobe, and essentially flat after the first probe
    hits = [rows[n]["total_hits"] for n in (1, 2, 4, 8)]
    assert hits == sorted(hits)
    assert hits[3] - hits[0] <= 0.05 * total
    # candidate cost still grows with nprobe — recall saturated, cost
    # didn't, which is exactly what "knee at nprobe=1" means
    cands = [rows[n]["total_candidates"] for n in (1, 2, 4, 8)]
    assert cands == sorted(cands) and cands[3] > cands[0]


def test_ivf_pq_index_roundtrip_matches_in_session(spark, tmp_path):
    """Persisted-index search ≡ in-session search (VERDICT r7 #5): the
    IVF-PQ index written as an on-disk artifact (centroids + codebook
    + codes) must serve EXACTLY the rows sim_ivf_pq_topk computes in
    session — on the driver fixture and on the planted-cluster
    fixture (different probe sets exercise different cells)."""
    from fortisiem_clickhouse_monitor_spark.operators.similarity import (
        _IVF_PQ_INDEX_PARTS,
        ivf_pq_topk_from_index,
        sim_ivf_pq_topk,
        write_ivf_pq_index,
    )

    planted = tmp_path / "planted"
    planted.mkdir()
    _write_planted_embeddings(str(planted))
    for sf_dir in (SF_SMALL, str(planted)):
        idx = str(tmp_path / f"idx_{'planted' in sf_dir}")
        write_ivf_pq_index(spark, sf_dir, idx)
        # all three parts exist and are non-empty parquet
        for part in _IVF_PQ_INDEX_PARTS:
            assert spark.read.parquet(f"{idx}/{part}").count() > 0
        want = [tuple(r) for r in sim_ivf_pq_topk(spark, sf_dir).collect()]
        got = [
            tuple(r) for r in ivf_pq_topk_from_index(spark, sf_dir, idx).collect()
        ]
        assert got == want and len(got) == 10


def test_pq_trained_codebook_matches_numpy_lloyd(spark):
    """Independent numpy replication of sim_pq_trained_recall_eval's
    training + ADC pipeline (grid snap, first-K init, 2 Lloyd
    iterations with floored-mean updates and keep-on-empty, argmin
    tie-break on cid, ADC top-10 with vec_id tie-break) must produce
    the same rows — the same differential discipline as the other
    numpy-backed similarity evals."""
    import duckdb
    import numpy as np

    from fortisiem_clickhouse_monitor_spark.operators import similarity as sim

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    qv = np.floor(
        np.array([r[1] for r in rows], dtype="float64") * sim._PQ_GRID
    ).astype("int64")
    K, M, S, TI = sim._PQ_K, sim._PQ_M, sim._PQ_SUB, sim._PQ_TI
    subs = [qv[:, s * S : (s + 1) * S] for s in range(M)]
    cents = [subs[s][:K].copy() for s in range(M)]

    def assign(s):
        d = ((subs[s][:, None, :] - cents[s][None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)  # argmin takes lowest index on ties = cid

    for _ in range(TI):
        for s in range(M):
            a = assign(s)
            for c in range(K):
                members = subs[s][a == c]
                if len(members):
                    cents[s][c] = np.floor(
                        members.sum(axis=0).astype("float64") / len(members)
                    ).astype("int64")
    q = qv[ids == 0][0]
    mask = ids != 0
    adist = np.zeros(mask.sum(), dtype="int64")
    for s in range(M):
        lut = ((q[s * S : (s + 1) * S][None, :] - cents[s]) ** 2).sum(axis=1)
        adist += lut[assign(s)[mask]]
    edist = ((qv[mask] - q[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((ids[mask], adist))[:10]
    top10 = set(ids[mask][np.lexsort((ids[mask], edist))[:10]])
    g2 = float(sim._PQ_GRID) ** 2
    want = [
        (
            int(ids[mask][i]),
            round(adist[i] / g2, 6),
            round(edist[i] / g2, 6),
            bool(ids[mask][i] in top10),
        )
        for i in order
    ]
    got = [tuple(r) for r in sim.sim_pq_trained_recall_eval(spark, SF_SMALL).collect()]
    assert got == want


def test_ks_and_mwu_hand_computed_micro_case(spark, tmp_path):
    """The nonparametric tests' arithmetic on a hand-worked example:
    A = {1.00, 2.00, 2.00, 5.00}, B = {2.00, 3.00, 3.00}.
    KS: sup gap is at cents=200 with |ca*nb - cb*na| = |3*3-1*4| = 5,
    D = 5/12.  MWU: U = 4 by direct pair counting (two A=200 vs B=200
    ties at 1/2 each, A=500 beats all three), so u2 = 8."""
    import datetime as dt

    from fortisiem_clickhouse_monitor_spark.operators.advanced import (
        stats_ks_two_sample,
        stats_mann_whitney_u,
    )
    from fortisiem_clickhouse_monitor_spark.streaming import jobs

    t0 = dt.datetime(2024, 4, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, "click", 1.00, "{}"),
        (2, t0, 1, "click", 2.00, "{}"),
        (3, t0, 2, "click", 2.00, "{}"),
        (4, t0, 2, "click", 5.00, "{}"),
        (5, t0, 3, "purchase", 2.00, "{}"),
        (6, t0, 3, "purchase", 3.00, "{}"),
        (7, t0, 4, "purchase", 3.00, "{}"),
        (8, t0, 4, "view", 99.0, "{}"),  # other types must be ignored
    ]
    spark.createDataFrame(rows, schema=jobs.EVENTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))

    ks = stats_ks_two_sample(spark, str(tmp_path)).collect()
    assert len(ks) == 1
    r = ks[0]
    assert (r["n_a"], r["n_b"], r["d_num"], r["ks_at_cents"]) == (4, 3, 5, 200)
    assert r["ks_d"] == round(5 / 12, 6)

    mw = stats_mann_whitney_u(spark, str(tmp_path)).collect()
    assert len(mw) == 1
    r = mw[0]
    assert (r["n_a"], r["n_b"], r["u2"]) == (4, 3, 8)
    assert r["u_stat"] == 4.0


def test_closeness_and_walk_centrality_on_path_graph(spark, tmp_path):
    """Hand-computable micro-graph (path p1 - s - p2 via one supplier):
    closeness from the hub is 1.0 (two nodes at distance 1); from a
    leaf it is 2/3 (distances 1 and 2); and every node ends exactly 4
    length-4 walks (path-graph walk counts 4/4/4 after rounds
    1/2/3/4 = (1,2,1)->(2,2,2)->(2,4,2)->(4,4,4))."""
    from fortisiem_clickhouse_monitor_spark.operators.graph import (
        _SUPP_OFF,
        graph_closeness_seeded,
        graph_walk_centrality_top20,
    )

    spark.createDataFrame(
        [(1, 1), (2, 1)], "l_partkey LONG, l_suppkey LONG"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    s = 1 + _SUPP_OFF
    clo = {
        r["seed"]: (r["n_reached"], r["sum_dist"], r["closeness"])
        for r in graph_closeness_seeded(spark, str(tmp_path)).collect()
    }
    assert clo == {
        s: (2, 2, 1.0),
        1: (2, 3, round(2 / 3, 6)),
        2: (2, 3, round(2 / 3, 6)),
    }

    walks = {
        r["node"]: r["n_walks"]
        for r in graph_walk_centrality_top20(spark, str(tmp_path)).collect()
    }
    assert walks == {1: 4, 2: 4, s: 4}


def test_asof_nearest_tie_tolerance_and_direction(spark, tmp_path):
    """join_asof_nearest edge semantics, hand-planted: equidistant
    candidates resolve BACKWARD; a forward-only match within tolerance
    wins; matches beyond the 10-minute tolerance leave NULLs but keep
    the click row; deltas carry direction sign."""
    import datetime as dt

    from fortisiem_clickhouse_monitor_spark.operators.joins import (
        join_asof_nearest,
    )
    from fortisiem_clickhouse_monitor_spark.streaming import jobs

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # u1: purchases 3 min before AND 3 min after -> tie -> backward
        (1, t0 - 3 * m, 1, "purchase", 10.00, "{}"),
        (2, t0, 1, "click", 0.0, "{}"),
        (3, t0 + 3 * m, 1, "purchase", 20.00, "{}"),
        # u2: only a forward purchase, 4 min after -> forward match
        (4, t0, 2, "click", 0.0, "{}"),
        (5, t0 + 4 * m, 2, "purchase", 30.00, "{}"),
        # u3: nearest purchase 11 min away -> outside tolerance -> NULL
        (6, t0, 3, "click", 0.0, "{}"),
        (7, t0 + 11 * m, 3, "purchase", 40.00, "{}"),
    ]
    spark.createDataFrame(rows, schema=jobs.EVENTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))

    got = {
        r["click_id"]: (r["matched_id"], r["delta_us"], r["matched_cents"])
        for r in join_asof_nearest(spark, str(tmp_path)).collect()
    }
    us = 60 * 1_000_000
    assert got == {
        2: (1, -3 * us, 1000),   # tie resolved backward, negative delta
        4: (5, 4 * us, 3000),    # forward within tolerance
        6: (None, None, None),   # beyond tolerance, row kept
    }
