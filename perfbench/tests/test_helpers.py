"""Tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

import gen_cdc  # noqa: E402
from spans import Tracer, self_time_by_name, self_times  # noqa: E402
from stats import (  # noqa: E402
    attribute_freshness,
    check_state,
    latest_per_key,
    percentile,
    union_length,
)


def test_percentile_interpolates_and_counts_samples():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    p50 = percentile(xs, 50)
    assert p50["value"] == pytest.approx(50.5)
    assert p50["n"] == 100 and p50["beyond"] == 50
    p90 = percentile(xs, 90)
    assert p90["value"] == pytest.approx(90.1)
    assert p90["beyond"] == 10  # the tail is supported by ten samples
    one = percentile([3.0], 90)
    assert one == {"value": 3.0, "n": 1, "beyond": 0}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


def _span(sid, parent, t0, t1, name="x"):
    return {"id": sid, "parent": parent, "name": name, "t0": t0, "t1": t1}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, "root"),
        _span(2, 1, 1.0, 4.0, "a"),
        _span(3, 1, 3.0, 6.0, "b"),  # overlaps a: union 1..6 = 5
        _span(4, 3, 3.5, 4.5, "c"),
        _span(5, 1, 9.0, 12.0, "d"),  # runs past the parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[3] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(1)
    by_name = self_time_by_name(spans)
    assert by_name["root"] == pytest.approx(4)


def test_tracer_links_parents_and_explicit_parent():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
    with tr.span("callback", parent=outer["id"]):
        pass
    by = {s["name"]: s for s in tr.spans}
    assert by["inner"]["parent"] == outer["id"]
    assert by["callback"]["parent"] == outer["id"]
    assert by["outer"]["parent"] is None
    off = Tracer(enabled=False)
    with off.span("x") as rec:
        assert rec == {}
    assert off.spans == []


def test_freshness_goes_to_first_covering_epoch():
    due = {10: 0.0, 11: 1.0, 12: 2.0, 13: 3.0}
    # epoch at t=5 covers up to replayId 11, epoch at t=9 up to 13;
    # a later epoch covering 13 again must not re-attribute
    epochs = [(9.0, 13), (5.0, 11), (12.0, 13)]
    fresh = attribute_freshness(due, epochs)
    assert fresh == {10: 5.0, 11: 4.0, 12: 7.0, 13: 6.0}
    assert attribute_freshness({20: 0.0}, [(1.0, 19)]) == {}  # never published


def _env(uid, change, ts, rid, entity="Account", extra_ids=()):
    ids = [gen_cdc.ID_FMT % uid, *(gen_cdc.ID_FMT % u for u in extra_ids)]
    return gen_cdc.envelope(entity, change, ids, rid, ts, tx="t", fields={})


def test_latest_per_key_orders_by_commit_time_then_replay_id():
    events = [
        _env(1, "CREATE", 100, 1),
        _env(1, "UPDATE", 90, 2),  # out of order: older commit, loses
        _env(2, "CREATE", 100, 3, extra_ids=(7,)),  # two records
        _env(2, "DELETE", 100, 4),  # same commit time, higher replayId wins
    ]
    events.append(events[2])  # a redelivered duplicate changes nothing
    ref = latest_per_key(events)
    assert ref[("Account", 1)][2:5] == ("CREATE", 100, 1)
    assert ref[("Account", 2)][2:5] == ("DELETE", 100, 4)  # tombstone kept
    assert ref[("Account", 7)][2:5] == ("CREATE", 100, 3)
    assert len(ref) == 3


def test_check_state_counts_every_wrong_key():
    preload = [_env(uid, "CREATE", 50, uid + 1) for uid in range(1, 6)]  # replayIds 2..6
    served = [_env(1, "UPDATE", 100, 10), _env(2, "DELETE", 101, 11)]
    good = latest_per_key(preload + served)
    assert check_state(preload + served, dict(good)) == (7, set(), set())

    # a preload key no served event touched is missing: its CREATE fails
    got = dict(good)
    del got[("Account", 4)]
    attempted, failed, bad = check_state(preload + served, got)
    assert (attempted, failed, bad) == (7, {5}, {("Account", 4)})

    # a touched key is wrong: the preload event and the update both fail;
    # a key nothing produced fails once more
    got = dict(good)
    got[("Account", 1)] = good[("Account", 1)][:2] + ("CREATE", 50, 2, "x")
    got[("Account", 99)] = ("Account", 99, "CREATE", 1, 1, "y")
    attempted, failed, bad = check_state(preload + served, got)
    assert failed == {2, 10, ("Account", 99)}
    assert bad == {("Account", 1), ("Account", 99)}


def test_generator_is_deterministic_and_shaped():
    knobs = gen_cdc.Knobs(keys=50, zipf_s=1.0, mix=(0.1, 0.7, 0.15, 0.05),
                          multi_share=0.3, dup_share=0.2, first_replay_id=100)
    a = gen_cdc.make_deliveries(5, 200, knobs)
    assert a == gen_cdc.make_deliveries(5, 200, knobs)
    assert a != gen_cdc.make_deliveries(6, 200, knobs)
    rids = [d["event"]["replayId"] for d in a]
    assert sorted(set(rids)) == list(range(100, 300))
    assert len(a) > 200  # duplicates were redelivered
    for d in a:
        h = d["payload"]["ChangeEventHeader"]
        assert h["changeType"] in gen_cdc.CHANGE_TYPES
        assert all(len(r) == 18 and r.startswith("00D") for r in h["recordIds"])
        assert h["entityName"] == gen_cdc.key_entity(int(h["recordIds"][0][3:]))


def test_generator_serves_backlog_then_tail_in_batches():
    import json

    knobs = gen_cdc.Knobs(keys=20, zipf_s=0.0, mix=(1, 0, 0, 0),
                          multi_share=0.0, dup_share=0.0, first_replay_id=1)
    gen = gen_cdc.BayeuxGenerator(gen_cdc.make_deliveries(1, 40, knobs), burst=25,
                                  rate=1000.0, batch=10, token="t")

    def connect():
        reply = gen.handle({"channel": "/meta/connect", "clientId": "g1", "id": "1"})
        return len(json.loads("[" + reply + "]")) - 1

    gen.handle({"channel": "/meta/handshake", "id": "0"})
    gen.handle({"channel": "/meta/subscribe", "clientId": "g1", "subscription": gen_cdc.TOPIC,
                "ext": {"replay": {gen_cdc.TOPIC: -2}}, "id": "1"})
    assert connect() == 0  # nothing released before start
    gen.start()
    assert [connect() for _ in range(4)] == [10, 10, 5, 0]  # the backlog, O(batch) per poll
    gen.tail()
    import time

    time.sleep(0.1)  # 15 more deliveries are due after 15 ms
    assert gen.stop()["released"] == 40
    assert [connect() for _ in range(3)] == [10, 5, 0]


def test_eventlog_window_sums_tasks_and_unions_stage_walls(tmp_path):
    import json

    import eventlog

    def task(stage, run_ms, launch, finish):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "Executor Deserialize Time": 10,
                                 "Shuffle Read Metrics": {"Local Bytes Read": 5},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}

    def stage(sid, t0, t1):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                               "Submission Time": t0, "Completion Time": t1}}

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1000},
        task(1, 400, 1000, 1500), stage(1, 1000, 2000),
        task(2, 300, 1500, 1900), stage(2, 1500, 2500),  # overlaps stage 1
        task(3, 100, 9000, 9100), stage(3, 9000, 9100),  # outside the window
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    stages, jobs = eventlog.read_stages(str(tmp_path))
    w = eventlog.window(stages, jobs, 0.9, 3.0)
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 2, 2)
    assert w["stage_wall_s"] == pytest.approx(1.5)  # union of 1..2 and 1.5..2.5
    assert w["run_s"] == pytest.approx(0.7) and w["cpu_s"] == pytest.approx(0.7)
    assert w["shuffle_read_bytes"] == 10 and w["shuffle_write_bytes"] == 14
    # scheduler delay = duration - deserialize - run: (500-410) + (400-310)
    assert w["sched_delay_s"] == pytest.approx(0.18)
