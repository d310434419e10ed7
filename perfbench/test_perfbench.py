"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/ -q

The smoke tests run each workload at ``--size tiny`` in both modes
(about a minute each) and check that every metric BENCHMARK.json
names is emitted with its unit and that the output checks pass. The
check tests need no Spark: they hand the output checks a lake or a
curated batch written with pyarrow, right and then with one wrong
result, which the checks must flag.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import curation  # noqa: E402
import medallion  # noqa: E402
from harness import EventLog, Span, _union_seconds, span_layers  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_spec_shape():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(_NAME.match(n) for n in names)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in SPEC["workloads"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert all(set(m) == {"name", "unit", "better"} for m in SPEC["per_layer"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert {w["name"] for w in SPEC["workloads"]} == {
        "medallion_incremental", "curation_microbatch"
    }


def test_medallion_inputs_follow_seed():
    assert medallion.inputs(3, 8) == medallion.inputs(3, 8)
    assert medallion.inputs(3, 8) != medallion.inputs(4, 8)
    cities, _ = medallion.inputs(3, 8)
    assert len(set(cities)) == 8


def test_curation_inputs_follow_seed_and_labels():
    a, b = curation.Inputs(5, 30, 20), curation.Inputs(5, 30, 20)
    assert a.corpus == b.corpus and a.next_batch() == b.next_batch()
    rows, truth = a.next_batch()
    assert [r[0] for r in rows] == sorted(truth) and min(truth) == 30 + 20
    counts = {lab: list(truth.values()).count(lab) for lab in set(truth.values())}
    assert counts == {"fresh": 8, "exact_dup": 4, "near_dup": 4, "low_quality": 4}
    corpus_texts = {r[1] for r in a.corpus}
    for doc_id, text, vec, _ in rows:
        label = truth[doc_id]
        assert len(vec) == curation.DIM
        assert (text in corpus_texts) == (label == "exact_dup")
        if label == "near_dup":
            assert text.rsplit(" ", 1)[0] in corpus_texts
        if label == "low_quality":
            assert len(set(text.split())) == 1


def test_union_seconds():
    assert _union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert _union_seconds([], 0, 1) == 0


def test_event_log_attribution():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 70}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 re-lists stage 0 (skipped) and runs stage 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2250},
    ]
    log_dir = ROOT / ".perfbench" / "selftest-eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    (log_dir / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog.parse(str(log_dir))
    shutil.rmtree(log_dir)
    both = span_layers(log, Span("op", 0.9, 3.0, None, "r", py4j_calls=7), cores=2)
    assert both["jobs"] == 2 and both["stages"] == 2 and both["tasks"] == 3
    assert both["exec_s"] == pytest.approx(0.75)
    assert both["build_s"] == pytest.approx(2.1 - 0.75)
    assert both["executor_run_s"] == pytest.approx(0.5)
    assert both["slot_util"] == pytest.approx(0.5 / (2.1 * 2))
    assert both["shuffle_write_bytes"] == 70 and both["spill_bytes"] == 5
    second = log.window(1.9, 3.0)
    assert second["jobs"] == 1 and second["stages"] == 1 and second["tasks"] == 2


@pytest.fixture
def scratch(request):
    """An empty directory inside the checkout, removed afterwards."""
    d = ROOT / ".perfbench" / f"selftest-{request.node.name}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write(path: Path, **columns) -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), path / "part-0.parquet")


def _lake(root: Path, cities, days, gold_extra: int = 0, drop_mark=None):
    """A hand-made lake as the pipeline leaves it: 24 bronze rows per
    city and day (hour 0 without a temperature), silver without that
    row, gold aggregates and silver/gold metadata marks. ``gold_extra``
    is added to the last gold row's record_count; ``drop_mark`` is a
    (layer, city, date) mark left out."""
    keys = [(c, d.isoformat()) for c in cities for d in days]
    temps = [None] + [float(h) for h in range(1, 24)]
    _write(
        root / "data",
        city=[c for c, _ in keys for _ in temps],
        date=[d for _, d in keys for _ in temps],
        temperature_2m=temps * len(keys),
    )
    _write(
        root / "silver",
        city=[c for c, _ in keys for _ in temps[1:]],
        date=[d for _, d in keys for _ in temps[1:]],
    )
    counts = [23] * (len(keys) - 1) + [23 + gold_extra]
    _write(
        root / "gold",
        city=[c for c, _ in keys],
        date=[d for _, d in keys],
        record_count=counts,
        avg_temp=[12.0] * len(keys),
        max_temp=[23.0] * len(keys),
        min_temp=[1.0] * len(keys),
    )
    marks = [(layer, c, d) for layer in ("silver", "gold") for c, d in keys]
    marks = [m for m in marks if m != drop_mark]
    _write(
        root / "pipeline_metadata",
        layer=[m[0] for m in marks],
        city=[m[1] for m in marks],
        date=[m[2] for m in marks],
    )
    return SimpleNamespace(
        bronze=str(root / "data"),
        silver=str(root / "silver"),
        gold=str(root / "gold"),
        metadata=str(root / "pipeline_metadata"),
    )


def test_medallion_check_flags_bad_partitions(scratch):
    cities = ["Anra", "Bel"]
    days = [datetime.date(2020, 1, 1), datetime.date(2020, 1, 2)]
    assert medallion._bad_dates(_lake(scratch / "ok", cities, days), cities, days) == set()
    count = _lake(scratch / "count", cities, days, gold_extra=1)
    assert medallion._bad_dates(count, cities, days) == {"2020-01-02"}
    mark = _lake(scratch / "mark", cities, days, drop_mark=("silver", "Anra", "2020-01-01"))
    assert medallion._bad_dates(mark, cities, days) == {"2020-01-01"}


def _batch(work: Path, lake=(), quality=(), text=(), ann=()) -> None:
    """One batch's outputs as process_curation_batch leaves them."""
    for sub, col, ids in (
        ("lake", "doc_id", lake),
        ("rejects/quality", "doc_id", quality),
        ("rejects/text", "new_id", text),
        ("rejects/ann", "new_id", ann),
    ):
        if ids:
            _write(work / sub / "batch_id=1", **{col: list(ids)})


def test_curation_check_flags_wrong_outcomes(scratch):
    truth = {1: "fresh", 2: "fresh", 3: "exact_dup", 4: "near_dup", 5: "low_quality"}
    _batch(scratch / "ok", lake=[1, 2], quality=[5], text=[3, 4])
    assert curation._batch_ok(scratch / "ok", 1, truth) == (
        True, {"lake_rows": 2, "quality_rejects": 1}
    )
    # a low-quality document accepted
    _batch(scratch / "accepted", lake=[1, 2, 5], text=[3, 4])
    assert curation._batch_ok(scratch / "accepted", 1, truth)[0] is False
    # a fresh document quarantined as a vector near-duplicate
    _batch(scratch / "ann", lake=[1], quality=[5], text=[3, 4], ann=[2])
    assert curation._batch_ok(scratch / "ann", 1, truth)[0] is False
    # a near-duplicate missed: neither accepted nor quarantined
    _batch(scratch / "lost", lake=[1, 2], quality=[5], text=[3])
    assert curation._batch_ok(scratch / "lost", 1, truth)[0] is False


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_emits_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace,
             "--size", "tiny")
    assert p.returncode == 0, p.stderr
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert lines[0].startswith("perfbench host ")
    assert lines[1].startswith(f"perfbench {workload} ")


def test_refuses_without_the_engine():
    """A directory holding only the benchmark fails fast, printing no result."""
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    try:
        p = _run("--workload", "medallion_incremental", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=bare)
        assert p.returncode != 0 and p.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_no_process_left_behind():
    """After a run no JVM or Python worker started from this checkout remains."""
    p = _run("--workload", "medallion_incremental", "--seed", "2", "--seconds", "1",
             "--trace", "0", "--size", "tiny")
    assert p.returncode == 0
    # every process the run starts inherits its pinned SPARK_LOCAL_DIRS
    marker = f"SPARK_LOCAL_DIRS={ROOT / '.perfbench'}".encode()
    mine = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            env = Path(f"/proc/{pid}/environ").read_bytes()
        except OSError:
            continue
        if marker in env:
            mine.append(pid)
    assert mine == []
