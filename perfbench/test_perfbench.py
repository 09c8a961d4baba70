"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import run  # noqa: E402
from spans import Span, self_times  # noqa: E402
from stations import StationFeed  # noqa: E402


def _feed_bytes(seed: int, polls: int = 10) -> list[str]:
    feed = StationFeed(seed=seed)
    out = [feed.poll().payload for _ in range(polls)]
    out.append(feed.late_snapshot().payload)
    return out


def test_station_generator_is_byte_deterministic_per_seed():
    assert _feed_bytes(7) == _feed_bytes(7)
    assert _feed_bytes(7) != _feed_bytes(8)


def test_station_generator_repeats_and_ground_truth():
    feed = StationFeed(seed=3)
    snaps = [feed.poll() for _ in range(14)]
    repeats = [s for s in snaps if s.repeat]
    assert len(repeats) == 2
    for i, s in enumerate(snaps):
        if s.repeat:
            assert s.payload == snaps[i - 1].payload
    # the latest state is what the last non-repeat poll carried
    last = [s for s in snaps if not s.repeat][-1].payload.splitlines()
    row = next(r for r in last if r.startswith("001,"))
    assert int(row.split(",")[5]) == feed.latest["001"][1]


def test_repeat_after_late_file_repeats_the_late_file():
    # the dup gate compares a payload with the file landed just before it
    feed = StationFeed(seed=3)
    for _ in range(6):
        feed.poll()
    late = feed.late_snapshot()
    after = feed.poll()
    assert after.repeat and after.payload == late.payload


def test_batch_tables_are_deterministic():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000


def test_corrupted_result_raises_fail_frac():
    good = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 1.0 / 3]})
    stored = fingerprint.fingerprint(good)
    ops = run.Ops()
    for frame in (good.iloc[::-1], good):
        out = ops("query", lambda: frame)
        ops.check("query", lambda: run.check_fingerprint(out, stored))
    assert ops.failed == 0 and ops.attempted == 2
    bad = good.copy()
    bad.loc[1, "score"] = 0.26
    out = ops("query", lambda: bad)
    ops.check("query", lambda: run.check_fingerprint(out, stored))
    assert ops.failed == 1 and ops.fail_frac == 1 / 3
    # an action that returns nothing is a wrong result too
    out = ops("query", lambda: None)
    ops.check("query", lambda: run.check_fingerprint(out, stored))
    assert ops.failed == 2


def test_stalled_open_loop_charges_later_files():
    clock = SimpleNamespace(t=100.0)

    def sleep(s):
        clock.t += s

    def land(item):
        if item == 2:
            clock.t += 3.0  # the generator stalls while landing file 2
        return item

    due, late_ms = run.open_loop(range(6), 2.0, land, now=lambda: clock.t, sleep=sleep)
    # due times stay on the schedule: the stall does not move them
    assert [due[i] - due[0] for i in range(6)] == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]
    assert late_ms == 2500.0
    # one batch commits everything when the stall ends: files 3-5 landed
    # at the same moment, yet each carries the wait from its own due time
    fresh = run.freshness(due, {i: 0 for i in due}, {0: clock.t})
    assert (fresh[3], fresh[4], fresh[5]) == (2.5, 2.0, 1.5)


def _compiler_thread(burned: threading.Event, done: threading.Event) -> None:
    """Burn 0.4 s of CPU under the name HotSpot gives a C2 compiler
    thread, then stay alive (the benchmark keeps the JVM's alive too)."""
    libc = ctypes.CDLL(None)
    libc.prctl(15, ctypes.c_char_p(b"C2 CompilerThre"), 0, 0, 0)  # PR_SET_NAME
    t = time.thread_time()
    while time.thread_time() - t < 0.4:
        pass
    burned.set()
    done.wait()


def test_cpu_meter_counts_children_and_leaves_out_jit_threads():
    meter = run.CpuMeter()
    # a reaped child process counts
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.4: pass"], check=True)
    burned, done = threading.Event(), threading.Event()
    jit = threading.Thread(target=_compiler_thread, args=(burned, done))
    jit.start()
    try:
        burned.wait()
        total, app = meter.read()
    finally:
        done.set()
        jit.join()
    assert total >= 0.7
    assert 0.3 <= app <= total - 0.3


def test_tail_has_ten_samples_beyond():
    pct, v = run.tail([float(i) for i in range(40)])
    assert v == 29.0 and pct == 75.0
    assert run.tail([float(i) for i in range(15)]) == (100.0, 14.0)


def test_self_time_subtracts_children():
    spans = [
        Span(1, "pass", None, "r", 0.0, 10.0),
        Span(2, "query", 1, "r", 1.0, 4.0),
        Span(3, "query", 1, "r", 3.0, 6.0),
    ]
    assert self_times(spans) == {"pass": 5.0, "query": 6.0}


def test_names_printed_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    out = {
        "e2e": {k: 1.0 for k in run.END_TO_END},
        "layers": {},
    }
    for trace, want in ((False, e2e), (True, layers)):
        ctx = SimpleNamespace(trace=trace, ops=run.Ops())
        line = run.result_line(ctx, out)
        assert {k: m["unit"] for k, m in line["metrics"].items()} == want
        assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "station_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "is missing" in proc.stderr
    assert proc.stdout == ""
