"""The benchmark's workloads: which registered queries run, at which
scale, into which sink.  LAYERS.md gives the reason each workload exists,
which ops were left out and why, and the layer -> end-to-end table."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    query: str
    #: "frames": frame_syslog + collect into an in-memory list (the daemon's
    #: per-tick emission); "noop": the noop writer; "write":
    #: sources.writers.write_partitioned by ``lang`` into a fresh directory.
    sink: str
    payload: str | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    #: Scale factor of the generated tables; None when the ops read only
    #: the package's inline fixtures.
    sf: float | None
    ops: tuple[Op, ...]
    #: Untimed warm-up passes per concurrent client (run.WARM_CLIENTS).
    warm_passes: int


def monitor_ops() -> tuple[Op, ...]:
    """The five reference jobs, in the daemon's mode order."""
    from fortisiem_clickhouse_monitor_spark.__main__ import MODES

    return tuple(Op(query, "frames", payload) for query, payload in MODES.values())


def build(name: str) -> Workload:
    if name == "monitor_tick":
        # The check pass and two warm passes on each of three clients: a
        # third pass per client cost 7 s a run and did not steady the
        # timed ticks (LAYERS.md).
        return Workload(name, None, monitor_ops(), warm_passes=2)
    if name == "lake_sf001":
        # An odd op count keeps the per-op median on one op's own times.
        # The ops compile 88 distinct Janino classes between them, inside
        # Spark's 100-entry codegen cache; a set of 115 overflowed it and
        # recompiled most of its classes on every pass (LAYERS.md).
        return Workload(
            name,
            0.01,
            (
                Op("tpch_q8_market_share", "noop"),
                Op("pipeline_corpus_curation", "write"),
                Op("dedup_embedding_cosine_pairs", "noop"),
                Op("dedup_connected_components", "noop"),
                Op("text_ngram_novelty_curve", "noop"),
            ),
            warm_passes=2,
        )
    raise KeyError(f"unknown workload {name!r}; choose from {', '.join(NAMES)}")


NAMES = ("monitor_tick", "lake_sf001")
