"""CLI entry-point tests (reference entry points A and B,
chStats.py:631-746): one-shot JSON, one-shot upload frames,
case-insensitive mode resolution, and the daemon emitting frames from
all five jobs on a fast cadence."""

from __future__ import annotations

import json
import time
from collections import Counter

import pytest

from fortisiem_clickhouse_monitor_spark import __main__ as cli
from tests.conftest import SF_SMALL


def test_resolve_mode_case_insensitive():
    assert cli.resolve_mode("datahealth") == "dataHealth"
    assert cli.resolve_mode("KEEPERSTATS") == "keeperStats"
    with pytest.raises(SystemExit):
        cli.resolve_mode("nope")


def test_one_shot_json(spark, capsys):
    out = cli.one_shot(spark, "keeperParams", SF_SMALL, upload=False, udp=False)
    assert len(out) > 0
    parsed = json.loads(out[0])
    assert "key" in parsed and "node_ip" in parsed


def test_one_shot_upload_frames(spark):
    out = cli.one_shot(spark, "dataReplicationHealth", SF_SMALL, upload=True, udp=False)
    assert len(out) > 0
    assert all(f.startswith("PH_SYSTEM_CLICKHOUSE_REPL_HEALTH=") for f in out)
    payload = json.loads(out[0].split("=", 1)[1])
    assert payload  # framed row round-trips as JSON


def test_daemon_emits_all_modes(spark):
    collected: list[str] = []
    n = cli.run_daemon(
        spark, SF_SMALL, interval_seconds=1, ticks=3, sink=collected.extend
    )
    assert n == len(collected)
    types = {f.split("=", 1)[0] for f in collected}
    expected = {f"PH_SYSTEM_{t}" for _, t in cli.MODES.values()}
    assert types == expected


def test_daemon_slow_sink_keeps_tick_budget(spark):
    """A tick that outlasts --interval makes the triggers fire back to
    back; each job must still forward exactly `ticks` ticks and the
    daemon stop long before its deadline (2 x 1 s + 30 s)."""
    calls: list[str] = []

    def slow_sink(frames: list[str]) -> None:
        time.sleep(1.5)
        calls.append(frames[0].split("=", 1)[0])

    t0 = time.monotonic()
    n = cli.run_daemon(spark, SF_SMALL, interval_seconds=1, ticks=2, sink=slow_sink)
    elapsed = time.monotonic() - t0
    assert n == 42  # 21 frames a tick over the five modes
    assert Counter(calls) == {f"PH_SYSTEM_{t}": 2 for _, t in cli.MODES.values()}
    assert elapsed < 20


def test_daemon_cli_prints_frames(spark, capsys):
    """Without --udp the daemon prints every frame, one per line, and
    its closing count equals the frames printed."""
    cli.main(["--daemon", "--interval", "1", "--ticks", "2", "--sf-dir", SF_SMALL])
    lines = capsys.readouterr().out.splitlines()
    frames = [ln for ln in lines if ln.startswith("PH_SYSTEM_")]
    assert {f.split("=", 1)[0] for f in frames} == {
        f"PH_SYSTEM_{t}" for _, t in cli.MODES.values()
    }
    assert lines[-1] == f"daemon emitted {len(frames)} frames"


def test_interactive_menu_runs_selected_job(spark, capsys):
    """Entry point C: invalid entry re-prompts, then a valid number runs
    that job once (mirrors chStats.py:715-730)."""
    from fortisiem_clickhouse_monitor_spark.__main__ import MODES, interactive_menu

    feeds = iter(["99", "zzz", "3"])
    ran = interactive_menu(
        spark, SF_SMALL, upload=False, udp=False, input_fn=lambda _: next(feeds)
    )
    assert ran == list(MODES)[2]
    out = capsys.readouterr().out
    assert "[Reporting Jobs]" in out
    assert 'ERROR: "99"' in out and 'ERROR: "zzz"' in out


def test_interactive_menu_eof_exits_cleanly(spark):
    from fortisiem_clickhouse_monitor_spark.__main__ import interactive_menu

    def raise_eof(_):
        raise EOFError

    assert (
        interactive_menu(spark, SF_SMALL, False, False, input_fn=raise_eof) is None
    )
