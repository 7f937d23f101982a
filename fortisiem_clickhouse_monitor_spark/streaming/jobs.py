"""Structured Streaming layer (SURVEY.md §2.10): the reference's
hand-rolled daemon — one thread per job, fixed sleep intervals, leader
gating, per-tick fault isolation, UDP fan-out (chStats.py:538-579) —
re-expressed as StreamingQuery definitions.

Design mapping:
- T1 fixed-interval trigger  -> rate-stream beat, trigger(processingTime=...)
- T2 leader-gated execution  -> predicate checked inside foreachBatch
- T3 per-tick fault isolation-> try/except inside foreachBatch
- T4 config hot-reload       -> dimension re-read per micro-batch
- T5 at-most-once UDP sink   -> foreachBatch writer over the framed
                                PH_SYSTEM_* lines (S7): printed, or UDP
                                with ``--udp``; tests collect them.

Extended (north-star) event-time operators live here too, in their
*streaming* form: tumbling/sliding/session windows with watermarks and
streaming dedup. Their batch twins are registered as oracle-checked
queries in operators/windows_batch-style entries (see
streaming/windowed.py registrations below — batch mode runs the exact
same column expressions, which is what makes them testable).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: Reference job cadences (chStats.py:667-673) per mode, seconds.
JOB_INTERVALS = {
    "dataHealth": 180,
    "dataReplicationHealth": 180,
    "keeperHealth": 180,
    "keeperStats": 300,
    "keeperParams": 1800,
}

EVENTS_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
    " value DOUBLE, props STRING"
)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events table directory (maxFilesPerTrigger
    gives deterministic micro-batches in tests; production would point at
    an arriving-files directory or Kafka)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(sf_dir)
    )


def frame_syslog(df: DataFrame, payload_type: str) -> DataFrame:
    """S7: flatten each row to one `PH_SYSTEM_<TYPE>=<json>` line
    (chStats.py:422, 481-483)."""
    return df.select(
        F.concat(
            F.lit(f"PH_SYSTEM_{payload_type}="),
            F.to_json(F.struct(*df.columns)),
        ).alias("frame")
    )


def monitoring_job(
    df: DataFrame,
    payload_type: str,
    sink: Callable[[list[str]], None],
    *,
    interval_seconds: int = 180,
    is_leader: Callable[[], bool] = lambda: True,
    query_name: str | None = None,
) -> StreamingQuery:
    """One reference daemon job (chStats.py:538-549): periodic trigger,
    leader gate, fault-isolated emission of framed syslog lines.

    A `rate` stream beats; each tick re-frames the batch snapshot `df`,
    as the reference recomputes per tick (chStats.py:544). `sink`
    receives the tick's framed lines (production: UDP datagrams to
    localhost:514, fire-and-forget; tests: an in-memory list)."""
    beat = df.sparkSession.readStream.format("rate").option("rowsPerSecond", 1).load()

    def emit(_beat: DataFrame, batch_id: int) -> None:
        try:
            if not is_leader():  # T2: only the Supervisor leader uploads
                return
            sink([r["frame"] for r in frame_syslog(df, payload_type).collect()])
        except Exception as exc:  # noqa: BLE001  (T3: log-and-continue)
            print(f"[monitoring_job {payload_type}] tick {batch_id} failed: {exc}")

    writer = beat.writeStream.foreachBatch(emit).trigger(
        processingTime=f"{interval_seconds} seconds"
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def udp_sink(host: str = "127.0.0.1", port: int = 514) -> Callable[[list[str]], None]:
    """Production T5 sink: one datagram per frame, no ack, no retry —
    the reference's at-most-once semantics (chStats.py:481-483)."""
    import socket

    def send(frames: list[str]) -> None:
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            for f in frames:
                sock.sendto(f.encode(), (host, port))
        finally:
            sock.close()

    return send


class RefreshingConfig:
    """T4 config hot-reload: a slowly-changing dimension re-resolved at
    most every `period` seconds (auto_refresh, chStats.py:551-558).
    `loader` returns the latest dimension DataFrame; callers invoke
    `.current()` inside foreachBatch so every micro-batch joins against
    a bounded-staleness snapshot."""

    def __init__(
        self,
        loader: Callable[[], DataFrame],
        period_seconds: int = 1800,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self._loader = loader
        self._period = period_seconds
        self._clock = clock
        self._cached: DataFrame | None = None
        self._loaded_at = float("-inf")

    def current(self) -> DataFrame:
        now = self._clock()
        if self._cached is None or now - self._loaded_at >= self._period:
            self._cached = self._loader()
            self._loaded_at = now
        return self._cached

    def force_refresh(self) -> None:  # SIGHUP analog (chStats.py:517-518)
        self._loaded_at = float("-inf")


def upsert_sink(
    spark: SparkSession,
    target_dir: str,
    key_cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """Idempotent keyed-upsert foreachBatch sink over plain parquet:
    each micro-batch replaces rows whose key appears in the batch
    (last-writer-wins by key) and is journaled under its batch_id so a
    REPLAYED batch after failure recovery rewrites the same state
    instead of duplicating — the exactly-once-by-idempotence pattern
    (what Delta MERGE does, built from primitives).

    Mechanics: anti-join current state against the batch keys, union
    the batch, rewrite atomically via write-new-then-swap. The state
    rewrite is proportional to the STATE size, not history length; at
    scale the same pattern runs per partition directory (hive layout)
    so only partitions touched by the batch rewrite."""
    import os
    import shutil

    seen_path = os.path.join(target_dir, "_last_batch_id")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(seen_path):
            with open(seen_path) as fh:
                if int(fh.read().strip() or -1) >= batch_id:
                    return  # replayed batch: state already reflects it
        data_dir = os.path.join(target_dir, "data")
        staged = batch_df.dropDuplicates(key_cols)
        if os.path.exists(data_dir):
            cur = spark.read.parquet(data_dir)
            merged = cur.join(
                staged.select(*key_cols), key_cols, "left_anti"
            ).unionByName(staged)
        else:
            merged = staged
        tmp_dir = os.path.join(target_dir, f"_staging_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp_dir)
        old = os.path.join(target_dir, f"_old_{batch_id}")
        if os.path.exists(data_dir):
            os.rename(data_dir, old)
        os.rename(tmp_dir, data_dir)
        shutil.rmtree(old, ignore_errors=True)
        with open(seen_path, "w") as fh:
            fh.write(str(batch_id))

    return write
