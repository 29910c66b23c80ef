"""The benchmark's own tests.

    python -m pytest perfbench -q

The last two tests run the benchmark itself (a few minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import check, gen, run  # noqa: E402

SMALL = gen.LogParams(seed=7, batches=3, events_per_batch=4_000, users=150)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=400,
    )


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = gen.write_batches(SMALL, str(tmp_path / "a"))
    b = gen.write_batches(SMALL, str(tmp_path / "b"))
    for da, db in zip(a, b):
        fa, fb = os.path.join(da, "events.parquet"), os.path.join(db, "events.parquet")
        assert filecmp.cmp(fa, fb, shallow=False)
    other = gen.write_batches(
        gen.LogParams(seed=8, batches=1, events_per_batch=4_000, users=150), str(tmp_path / "c")
    )
    assert not filecmp.cmp(
        os.path.join(a[0], "events.parquet"), os.path.join(other[0], "events.parquet"),
        shallow=False,
    )


def test_generator_makes_late_and_duplicate_events():
    batches = list(gen.iter_batches(SMALL))
    ids = [i for t in batches for i in t.column("event_id").to_pylist()]
    assert len(ids) - len(set(ids)) == (SMALL.batches - 1) * int(
        SMALL.events_per_batch * SMALL.dup_share
    )
    last = batches[-1].to_pydict()
    lag = [p - t for p, t in zip(last["processing_time"], last["ts"])]
    late = sum(d.total_seconds() * 1e6 >= gen.LATE_LAG_US[0] for d in lag)
    assert 0.05 < late / len(lag) < 0.2


def test_checker_flags_a_flipped_member_and_a_shifted_last_event_time(tmp_path):
    files = [
        os.path.join(d, "events.parquet") for d in gen.write_batches(SMALL, str(tmp_path))
    ]
    cols, want = check.reference_rows(files, run._oracle("segment_eventtime_members"))
    assert cols == ["user_id", "last_event_time"]
    members = {r[0] for r in want}
    assert 0 < len(members) < SMALL.users  # the threshold splits the users

    assert check.diff(cols, list(reversed(want)), cols, want) is None
    # same rows with the columns the other way round
    assert check.diff(cols[::-1], [r[::-1] for r in want], cols, want) is None

    outsider = next(u for u in range(1, SMALL.users + 1) if u not in members)
    flipped = [(outsider, want[0][1])] + want[1:]
    assert "difference" in check.diff(cols, flipped, cols, want)
    assert "row count" in check.diff(cols, want[1:], cols, want)

    shifted = [(want[0][0], want[0][1] + 1)] + want[1:]
    assert "difference" in check.diff(cols, shifted, cols, want)


def test_metric_tables_match_benchmark_json():
    bench = _bench_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


def test_run_prints_every_metric_and_traces_every_batch():
    bench = _bench_json()
    untraced = _run("cascade_ingest", 0)
    assert untraced.returncode == 0, untraced.stderr[-3000:]
    result = json.loads(untraced.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())

    traced = _run("cascade_ingest", 1)
    assert traced.returncode == 0, traced.stderr[-3000:]
    result = json.loads(traced.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
    with open(os.path.join(ROOT, ".bench_out", "trace-cascade_ingest-seed3.json")) as fh:
        side = json.load(fh)
    batches = [s for s in side["spans"] if s["name"] == "process_batch"]
    assert batches and all(s["jobs"] >= 1 for s in batches)
    assert side["streaming_twin"]["spans_by_name"]["run_available_now"]["jobs_p50"] >= 1


def test_run_fails_without_the_engine(tmp_path):
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _run("cascade_ingest", 0, cwd=str(bare))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
