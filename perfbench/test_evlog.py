"""Tests of the event-log reducer on a small fixed log.

Run from the repo root: ``python -m pytest perfbench/``.

The fixture (fixtures/evlog_small.jsonl) holds, inside the window
[1000, 2000] ms: a ``fetch_summary`` job whose stage runs the fused
fetch+parse operator (1000-1300), an ``insert_append`` job (stage
1150-1500, job to 1600; its task writes table files), an untagged job
(1700-1800) and a job with an unknown tag (1850-1900); one
``staged_append`` job lies outside it.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import evlog

HERE = Path(__file__).resolve().parent
ENGINE = HERE.parent / "realestate_scraper_spark" / "crawl" / "engine.py"
FIXTURE = HERE / "fixtures" / "evlog_small.jsonl"


@pytest.fixture(scope="module")
def log():
    with open(FIXTURE) as f:
        return evlog.read_log(f)


def test_every_description_maps_to_a_layer_or_unattributed(log):
    allowed = set(evlog.LAYERS) | {evlog.UNATTRIBUTED}
    for job in log.jobs.values():
        assert evlog.layer_of(job["desc"]) in allowed
    assert set(evlog.PHASE_LAYER.values()) <= set(evlog.LAYERS)
    assert evlog.layer_of(None) == evlog.UNATTRIBUTED
    assert evlog.layer_of("renamed_phase") == evlog.UNATTRIBUTED
    assert evlog.layer_of("perfbench:query:q01_pricing_summary") == "plans"
    assert evlog.layer_of("perfbench:check:decode") == "functions.images"
    assert evlog.layer_of("perfbench:query:decode") == "functions.images"


def test_every_engine_phase_tag_has_a_layer():
    """A phase renamed or added in the engine must be mapped here, or its
    time would silently fall into ``unattributed``."""
    src = ENGINE.read_text()
    tags = set(re.findall(r'_phase\("([a-z_]+)"\)', src))
    tags |= set(re.findall(r'_tagged,\s*"([a-z_]+)"', src))
    tags |= set(re.findall(r'"spark\.job\.description",\s*"([a-z_]+)"', src))
    assert {"insert_append", "staged_append", "fetch_summary", "warmup"} <= tags
    unmapped = sorted(t for t in tags if t not in evlog.PHASE_LAYER)
    assert not unmapped, f"engine phases with no layer: {unmapped}"


def test_wall_split_is_exclusive_and_sums_to_the_window(log):
    wall = evlog.attribute(log, 1000, 2000)
    assert wall == pytest.approx({
        "crawl.fetch": 225.0,      # 1000-1150 alone, half of 1150-1300
        "crawl.frontier": 375.0,   # half of 1150-1300, then 1300-1600
        evlog.UNATTRIBUTED: 150.0,  # untagged and unknown-tag jobs
        "idle": 250.0,             # 1600-1700, 1800-1850, 1900-2000
    })
    assert sum(wall.values()) == pytest.approx(1000.0)


def test_window_clips_partial_intervals(log):
    wall = evlog.attribute(log, 1200, 1250)
    assert wall == pytest.approx({"crawl.fetch": 25.0, "crawl.frontier": 25.0})


def test_reduce_sums_task_and_operator_metrics(log):
    r = evlog.reduce(log, 1000, 2000)
    assert r["jobs"] == 4  # the staged_append job at 2500 is outside
    assert r["task_ms"]["crawl.fetch"] == 250
    assert r["task_ms"]["phase:insert_append"] == 300
    assert r["tot"]["shuffle:insert_append"] == 1234
    assert r["tot"]["write_task_ms"] == 300  # only stage 1 wrote files
    sql = r["sql"]
    assert sql[("crawl.engine", "MapInPandas:fused_batches",
                "data sent to Python workers")] == 4096
    assert sql[("crawl.frontier", "ShuffledHashJoin", "number of output rows")] == 7
    assert sql[("crawl.frontier", "Execute InsertIntoHadoopFsRelationCommand",
                "written output")] == 999
    assert r["writes"] == 1
