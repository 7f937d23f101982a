"""CLI entry points mirroring the reference's three modes
(chStats.py:631-746):

- one-shot: ``python -m fortisiem_clickhouse_monitor_spark -m dataHealth``
  runs the job's query and pretty-prints JSON rows (entry point A);
- upload: add ``-U`` to emit ``PH_SYSTEM_<TYPE>=<json>`` frames instead
  — printed by default, sent as UDP datagrams with ``--udp`` (entry
  point A with uploadEvents, chStats.py:736, 384-483);
- daemon: ``--daemon`` runs one ``streaming.jobs.monitoring_job`` per
  mode at the reference cadences (entry point B, chStats.py:560-579),
  printing frames or sending them with ``--udp``; ``--interval`` /
  ``--ticks`` shrink cadence and lifetime for local runs.

Mode names resolve case-insensitively (chStats.py:703-713).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

#: mode -> (registry query, syslog payload type). The five reference
#: jobs (chStats.py:667-673) mapped onto their relational analogs.
MODES: dict[str, tuple[str, str]] = {
    "dataHealth": ("health_nested_document", "CLICKHOUSE_DATA_HEALTH"),
    "dataReplicationHealth": ("health_parts_metrics", "CLICKHOUSE_REPL_HEALTH"),
    "keeperHealth": ("keeper_srvr_summary", "CLICKHOUSE_KEEPER_HEALTH"),
    "keeperStats": ("keeper_cons_clients", "CLICKHOUSE_KEEPER_STATS"),
    "keeperParams": ("keeper_conf_kv", "CLICKHOUSE_KEEPER_PARAMS"),
}


def resolve_mode(name: str) -> str:
    matches = [m for m in MODES if m.lower() == name.lower()]
    if not matches:
        sys.exit(
            f"unknown mode {name!r}; choose from: {', '.join(MODES)}"
        )
    return matches[0]


def one_shot(spark, mode: str, sf_dir: str, upload: bool, udp: bool) -> list[str]:
    """Run one job; return the printed lines (also printed to stdout)."""
    from .plans import health  # noqa: F401  (registration side effects)
    from . import registry
    from .streaming import jobs

    qname, ptype = MODES[mode]
    df = registry.queries()[qname](spark, sf_dir)
    out: list[str] = []
    if upload:
        frames = [r["frame"] for r in jobs.frame_syslog(df, ptype).collect()]
        if udp:
            jobs.udp_sink()(frames)
        out = frames
    else:
        out = [
            json.dumps(r.asDict(recursive=True), indent=2, default=str)
            for r in df.collect()
        ]
    for line in out:
        print(line)
    return out


def print_frames(frames: list[str]) -> None:
    # one write per tick: the five jobs' ticks print from separate threads
    print("".join(f"{f}\n" for f in frames), end="", flush=True)


def run_daemon(
    spark,
    sf_dir: str,
    interval_seconds: int | None,
    ticks: int,
    sink=print_frames,
) -> int:
    """Run each mode's `jobs.monitoring_job` every `interval_seconds` (or
    at its reference cadence) for exactly `ticks` ticks, sending each
    tick's frames to `sink`; returns the number of frames emitted."""
    import time
    from functools import partial

    from . import registry
    from .streaming import jobs

    counts: list[int] = []  # list.append is atomic across the jobs' threads
    # ticks each job has begun; an entry is written only by its own job's
    # stream thread, which runs that job's ticks one at a time
    started = dict.fromkeys(MODES, 0)

    def emit(frames: list[str]) -> None:
        sink(frames)
        counts.append(len(frames))

    def admit(mode: str) -> bool:
        # A tick past the budget runs no Spark job and ends at once, so the
        # between-ticks stop below lands even when ticks overrun the
        # interval and the triggers fire back to back.
        started[mode] += 1
        return started[mode] <= ticks

    intervals = {m: interval_seconds or jobs.JOB_INTERVALS[m] for m in MODES}
    queries = [
        jobs.monitoring_job(
            registry.queries()[qname](spark, sf_dir),
            ptype,
            emit,
            interval_seconds=intervals[mode],
            is_leader=partial(admit, mode),
            query_name=f"daemon_{mode}",
        )
        for mode, (qname, ptype) in MODES.items()
    ]
    deadline = time.monotonic() + ticks * max(intervals.values()) + 30
    try:
        while time.monotonic() < deadline and any(q.isActive for q in queries):
            time.sleep(0.1)
            for mode, q in zip(MODES, queries):
                done = q.isActive and started[mode] >= ticks
                # stop between ticks: stopping mid-batch kills the stream thread
                if done and not q.status["isTriggerActive"]:
                    q.stop()
    finally:
        for q in queries:
            q.stop()
    return sum(counts)


#: Remediation tasks section of the menu. The reference's own tasks
#: list is empty and its clearReplicationFailures is a stub
#: (chStats.py:360-361), so this stays empty — the section renders only
#: when populated, mirroring the reference's ``if tasks:`` guard.
TASKS: dict[str, tuple[str, str]] = {}


def interactive_menu(
    spark, sf_dir: str, upload: bool, udp: bool, input_fn=input, print_fn=print
) -> str | None:
    """Numbered-menu mode (entry point C, chStats.py:715-730): shown
    when no ``-m`` is given on a terminal. Invalid entries re-prompt;
    a valid number runs that job once via one_shot. Returns the mode
    that ran (None if the user EOF'd out)."""
    names = list(MODES) + list(TASKS)
    while True:
        print_fn(f"\nPlease select an option [1-{len(names)}]\n")
        print_fn("\n[Reporting Jobs]")
        for idx, name in enumerate(MODES, 1):
            print_fn(f"{idx}. {name}")
        if TASKS:
            print_fn("\n[Remediation Jobs]")
            for idx, name in enumerate(TASKS, len(MODES) + 1):
                print_fn(f"{idx}. {name}")
        try:
            selection = input_fn("\nEnter your choice: ")
        except EOFError:
            return None
        if selection.isdigit() and 0 < int(selection) <= len(names):
            mode = names[int(selection) - 1]
            one_shot(spark, mode, sf_dir, upload, udp)
            return mode
        print_fn(
            f'\nERROR: "{selection}" is not a valid entry, please try again.'
        )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="fortisiem_clickhouse_monitor_spark")
    p.add_argument("-m", "--mode", help="job to run once: " + ", ".join(MODES))
    p.add_argument("-U", "--upload", action="store_true", help="emit syslog frames")
    p.add_argument("--udp", action="store_true", help="send frames as UDP datagrams")
    p.add_argument("--daemon", action="store_true", help="run all jobs on cadence")
    p.add_argument("--interval", type=int, default=None, help="daemon trigger seconds")
    p.add_argument("--ticks", type=int, default=1, help="daemon lifetime in ticks")
    p.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    )
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("fcm-cli")
    if args.daemon:
        from .streaming import jobs

        sink = jobs.udp_sink() if args.udp else print_frames
        n = run_daemon(spark, args.sf_dir, args.interval, args.ticks, sink)
        print(f"daemon emitted {n} frames")
    elif args.mode:
        one_shot(spark, resolve_mode(args.mode), args.sf_dir, args.upload, args.udp)
    elif sys.stdin.isatty():
        interactive_menu(spark, args.sf_dir, args.upload, args.udp)
    else:
        p.print_help()


if __name__ == "__main__":
    main()
