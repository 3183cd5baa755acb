"""Pure helpers: percentiles, interval unions, the reference
latest-per-key and the check of a published CDC state against it."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> dict:
    """Linear-interpolated ``q``-th percentile (0..100) with its sample
    count and the number of samples strictly above it, so a reader can
    tell whether the tail is supported (the guide's rule: report the
    highest percentile with at least ten samples beyond it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": v, "n": len(xs), "beyond": sum(1 for x in xs if x > v)}


def median(values: list[float]) -> float:
    return percentile(values, 50)["value"]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


# -- CDC reference -----------------------------------------------------------

ID_PREFIX_LEN = 3  # "00D" + 15 digits → uid


def explode(envelope: dict) -> list[tuple]:
    """An envelope's change rows, one per record id, as
    (entity_name, uid, change_type, commit_ts_ms, replay_id, record_id)."""
    h = envelope["payload"]["ChangeEventHeader"]
    rid = envelope["event"]["replayId"]
    return [
        (h["entityName"], int(r[ID_PREFIX_LEN:]), h["changeType"], h["commitTimestamp"], rid, r)
        for r in h["recordIds"]
    ]


def latest_per_key(envelopes) -> dict[tuple[str, int], tuple]:
    """Latest change row per (entity_name, uid), ordered by
    (commit_ts_ms, replay_id). Redelivered duplicates carry the same
    replayId and are idempotent. Tombstones stay in the result."""
    best: dict[tuple[str, int], tuple] = {}
    for env in envelopes:
        for row in explode(env):
            key = (row[0], row[1])
            cur = best.get(key)
            if cur is None or (row[3], row[4]) > (cur[3], cur[4]):
                best[key] = row
    return best


def check_state(envelopes, got: dict[tuple[str, int], tuple]) -> tuple[int, int, set]:
    """Compare a published state with the latest-per-key over
    ``envelopes`` (the preload and every served delivery).

    Every distinct replayId is one operation. It failed if any key it
    touched is missing from ``got`` or differs from the reference; a key
    in ``got`` that no envelope produced is one more failure. Every
    wrong key therefore fails at least one operation, also a preload
    key no served event touched. Returns (attempted, failed, wrong
    keys); ``failed`` holds the failed replayIds and the extra keys."""
    envelopes = list(envelopes)
    ref = latest_per_key(envelopes)
    bad = {k for k in ref.keys() | got.keys() if ref.get(k) != got.get(k)}
    rids, failed = set(), set(bad - ref.keys())
    for env in envelopes:
        rid = env["event"]["replayId"]
        rids.add(rid)
        if any((row[0], row[1]) in bad for row in explode(env)):
            failed.add(rid)
    return len(rids), failed, bad


def attribute_freshness(
    first_due: dict[int, float], epochs: list[tuple[float, int]]
) -> dict[int, float]:
    """Freshness per event: publish time of the first epoch that contains
    it minus the time it fell due.

    ``first_due`` maps replayId → due time; ``epochs`` lists published
    epochs as (publish_time, covered_replay_id), where
    ``covered_replay_id`` is the highest replayId landed before the drain
    that published the epoch started. Events no epoch covers are
    absent from the result."""
    epochs = sorted(epochs)
    out: dict[int, float] = {}
    pending = sorted(first_due)
    i = 0
    for publish_t, covered in epochs:
        while i < len(pending) and pending[i] <= covered:
            rid = pending[i]
            out[rid] = publish_t - first_due[rid]
            i += 1
    return out
