"""The event-log parser on a small recorded log.

``data/eventlog.jsonl`` is a real Spark 4.1 event log, trimmed to the
events the parser reads, of this traced sequence on ``local[2]``:

    span rec:1 op
      span rec:2 ghcn.read      read.text(<200 lines>).count()
      span rec:3 writers.write  range(1000) -> groupBy -> write.parquet
    range(10).count()           outside any span (job group unset)
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")
LAYER = {"rec:2": "ghcn", "rec:3": "writers"}


@pytest.fixture(scope="module")
def stages():
    return eventlog.read_stages(LOG)


def test_stages_carry_their_job_group(stages):
    assert {sid: st.group for sid, st in stages.items()} == {
        0: "rec:2", 2: "rec:2", 3: "rec:3", 5: "rec:3", 6: None, 8: None}
    assert stages[0].scans and not stages[0].writes
    assert stages[5].writes and not stages[5].scans
    assert stages[3].run_ms == [178, 179, 21, 32]
    assert stages[3].shuffle_bytes == 728 and stages[3].gc_ms == 42
    assert stages[0].wall_ms == 548


def test_layer_metrics(stages):
    m = eventlog.layer_metrics(stages, LAYER.get, ("ghcn", "readers", "writers"))
    assert m["ghcn.task_s"] == pytest.approx(0.307)  # stages 0 and 2
    assert m["ghcn.shuffle_bytes"] == 59
    assert m["ghcn.gc_s"] == pytest.approx(0.012)
    assert m["ghcn.task_skew"] == 0.0  # single-task stages have no skew
    assert m["readers.task_s"] == pytest.approx(0.235)  # the stage scanning text
    assert m["writers.task_s"] == pytest.approx((178 + 179 + 21 + 32 + 823) / 1000)
    assert m["writers.shuffle_bytes"] == 728
    assert m["writers.spill_bytes"] == 0
    # stage 3: max 179 over median (32 + 178) / 2
    assert m["writers.task_skew"] == pytest.approx(179 / 105)


def test_layer_metrics_per_operation_and_unknown_groups(stages):
    m = eventlog.layer_metrics(stages, LAYER.get, ("ghcn",), per=2)
    assert m["ghcn.task_s"] == pytest.approx(0.307 / 2)
    assert set(m) == {f"ghcn.{k}" for k in
                      ("task_s", "shuffle_bytes", "spill_bytes", "gc_s", "task_skew")}
    none = eventlog.layer_metrics(stages, lambda g: None, ("ghcn", "writers"))
    assert all(v == 0 for v in none.values())


def test_scans_and_jobs(stages):
    traced = LAYER.__contains__
    assert eventlog.count_scans(stages, "text", traced) == 1
    assert eventlog.count_scans(stages, "parquet", traced) == 0
    assert eventlog.scan_seconds(stages, None, traced) == pytest.approx(0.548)
    jobs = eventlog.job_seconds(LOG)
    assert [g for g, _ in jobs] == ["rec:2", "rec:2", "rec:3", "rec:3", None, None]
    assert sum(t for g, t in jobs if g == "rec:3") == pytest.approx(0.294 + 0.959)
