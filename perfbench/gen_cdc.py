"""Seeded CDC load generator serving the Bayeux long-poll protocol.

Runs as its own process, separate from the system under test:

    python3 perfbench/gen_cdc.py --seed 7 --events 12000 --burst 8000 --rate 100 \
        --batch 1000 --token t --knobs '{"keys": 40000, "zipf_s": 0.8,
        "mix": [0.1, 0.7, 0.15, 0.05], "multi_share": 0.1, "dup_share": 0.02,
        "first_replay_id": 1}'

It builds a deterministic list of deliveries (CDC envelopes in the
FIXTURES.md A.2 shape, plus redelivered duplicates) from the seed and
serves them on a localhost port with the handshake / subscribe /
connect / disconnect exchange ``sources.bayeux.BayeuxConnector``
speaks. Each ``/meta/connect`` costs O(batch): a client cursor indexes
the released prefix of the delivery list, and every delivery is
serialised once, up front.

Release schedule: the first ``--burst`` deliveries are a backlog,
released together on the ``start`` control message. The ``tail``
message then opens the open loop: delivery ``burst + k`` is due at
``t_tail + k / rate``, and a release thread makes deliveries visible as
they fall due, whatever the client is doing, recording how late it ran.

Due times never enter the envelope; the benchmark recomputes them from
the times ``start`` and ``tail`` return and the delivery index. The
``stop`` message freezes the released prefix and returns its length
and the generator's lateness. Control messages arrive on the ``/ctl``
path. The process prints ``{"url": ..., "ctl": ...}`` on one stdout
line once it serves, and exits when stdin closes.
"""

from __future__ import annotations

import argparse
import bisect
import json
import random
import sys
import threading
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

ENTITIES = ("Account", "Contact", "Lead", "Opportunity", "Case")
CHANGE_TYPES = ("CREATE", "UPDATE", "DELETE", "UNDELETE")
ID_FMT = "00D%015d"
SCHEMA_FINGERPRINT = "8_j4Jvbl5vY1cUg6ykKsKw"
CHANGE_ORIGIN = "com/salesforce/api/soap/44.0"
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
TOPIC = "/data/ChangeEvents"


@dataclass(frozen=True)
class Knobs:
    """Shape of the generated change stream."""

    keys: int  # key space: uids 0..keys-1, entity = ENTITIES[uid % 5]
    zipf_s: float  # skew of the key choice (0 = uniform)
    mix: tuple[float, float, float, float]  # CREATE/UPDATE/DELETE/UNDELETE
    multi_share: float  # share of events carrying a second record id
    dup_share: float  # share of deliveries followed by a redelivery
    first_replay_id: int  # replayId of event 0 (ids above any preload)
    step_ms: int = 5  # commitTimestamp spacing between events
    jitter_ms: int = 200  # commitTimestamp disorder (out-of-order events)


def key_entity(uid: int) -> str:
    return ENTITIES[uid % len(ENTITIES)]


class _Zipf:
    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for rank in range(1, n + 1):
            acc += rank ** (-s)
            cum.append(acc)
        self.cum, self.total = cum, acc

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.total)


def envelope(
    entity: str, change: str, ids: list[str], rid: int, commit_ms: int, tx: str, fields: dict
) -> dict:
    """One CDC envelope (FIXTURES.md A.2): header, changed fields, replayId."""
    return {
        "schema": SCHEMA_FINGERPRINT,
        "payload": {
            "ChangeEventHeader": {
                "commitNumber": rid,
                "commitUser": "005" + ids[0][3:],
                "sequenceNumber": rid % 10,
                "entityName": entity,
                "changeType": change,
                "changedFields": ["Name", "Amount"] if change == "UPDATE" else [],
                "changeOrigin": CHANGE_ORIGIN,
                "transactionKey": tx,
                "commitTimestamp": commit_ms,
                "recordIds": ids,
            },
            "fields": fields,
        },
        "event": {"replayId": rid},
    }


def make_deliveries(seed: int, n_events: int, knobs: Knobs) -> list[dict]:
    """The delivery sequence for ``seed``: ``n_events`` distinct events
    in replayId order, with redelivered duplicates (the same envelope
    again, a few positions later) interleaved. Deterministic per
    (seed, n_events, knobs)."""
    rng = random.Random(seed)
    zipf = _Zipf(knobs.keys, knobs.zipf_s)
    # spread hot ranks over the key space so skew is not uid-ordered
    perm = list(range(knobs.keys))
    rng.shuffle(perm)
    out: list[dict] = []
    for i in range(n_events):
        uid = perm[zipf.draw(rng)]
        entity = key_entity(uid)
        change = rng.choices(CHANGE_TYPES, weights=knobs.mix)[0]
        ids = [ID_FMT % uid]
        if rng.random() < knobs.multi_share:
            # a second record of the same entity (uid ≡ uid mod 5)
            other = perm[zipf.draw(rng)]
            other = other - other % len(ENTITIES) + uid % len(ENTITIES)
            if other != uid and other < knobs.keys:
                ids.append(ID_FMT % other)
        rid = knobs.first_replay_id + i
        commit_ms = BASE_MS + i * knobs.step_ms - rng.randrange(knobs.jitter_ms + 1)
        env = envelope(
            entity, change, ids, rid, commit_ms,
            tx="%032x" % rng.getrandbits(128),
            fields={"Name": f"n{rng.randrange(10**6)}", "Amount": str(i % 997)},
        )
        out.append(env)
        if rng.random() < knobs.dup_share:
            back = rng.randrange(0, min(20, len(out)))
            out.append(out[-1 - back])
    return out


class BayeuxGenerator:
    """Serves a delivery list over Bayeux long-polling on a schedule."""

    def __init__(self, deliveries: list[dict], burst: int, rate: float, batch: int, token: str):
        self._wire = [json.dumps(d, separators=(",", ":")) for d in deliveries]
        self.burst = min(burst, len(self._wire))
        self.rate = rate
        self.batch = batch
        self.token = token
        self.t_tail = 0.0
        self.released = 0
        self.max_lag_s = 0.0
        self._stopped = threading.Event()
        self._cursors: dict[str, int] = {}
        self._first_pos: dict[int, int] = {}  # replayId -> first delivery index
        for pos, d in enumerate(deliveries):
            self._first_pos.setdefault(d["event"]["replayId"], pos)
        self._clients = 0
        self._lock = threading.Lock()
        self._releaser: threading.Thread | None = None

    # -- schedule ----------------------------------------------------------

    def start(self) -> float:
        """Release the backlog; returns the release time."""
        self.released = self.burst
        return time.time()

    def tail(self) -> float:
        """Open the open loop; returns ``t_tail``."""
        self.t_tail = time.time()
        self._releaser = threading.Thread(target=self._release_loop, daemon=True)
        self._releaser.start()
        return self.t_tail

    def _due(self, i: int) -> float:
        return self.t_tail + (i - self.burst) / self.rate

    def _release_loop(self) -> None:
        n = len(self._wire)
        while not self._stopped.is_set() and self.released < n:
            now = time.time()
            due_count = min(n, self.burst + int((now - self.t_tail) * self.rate) + 1)
            if due_count > self.released:
                # lateness of the oldest delivery released in this step
                self.max_lag_s = max(self.max_lag_s, now - self._due(self.released))
                self.released = due_count
            self._stopped.wait(max(0.0, min(0.05, self._due(self.released) - time.time())))

    def stop(self) -> dict:
        self._stopped.set()
        if self._releaser is not None:
            self._releaser.join()
        return {"released": self.released, "max_lag_s": self.max_lag_s}

    # -- Bayeux ------------------------------------------------------------

    def _subscribe_pos(self, replay_from: int) -> int:
        if replay_from == -2:  # REPLAY_FROM_EARLIEST
            return 0
        if replay_from == -1:  # REPLAY_FROM_TIP
            return self.released
        pos = self._first_pos.get(int(replay_from))
        return 0 if pos is None else pos + 1

    def handle(self, m: dict) -> str:
        """One Bayeux message → the JSON text of its reply messages."""
        ch = m.get("channel")
        mid = json.dumps(m.get("id"))
        if ch == "/meta/handshake":
            with self._lock:
                self._clients += 1
                cid = f"g{self._clients}"
            return (
                f'{{"channel":"{ch}","successful":true,"clientId":"{cid}",'
                f'"ext":{{"replay":true}},"id":{mid}}}'
            )
        if ch == "/meta/subscribe":
            topic = m["subscription"]
            with self._lock:
                self._cursors[f"{m['clientId']}:{topic}"] = self._subscribe_pos(
                    m["ext"]["replay"][topic]
                )
            return f'{{"channel":"{ch}","successful":true,"id":{mid}}}'
        if ch == "/meta/connect":
            parts = [f'{{"channel":"{ch}","successful":true,"id":{mid}}}']
            prefix = f"{m['clientId']}:"
            with self._lock:
                for key, cur in self._cursors.items():
                    if not key.startswith(prefix):
                        continue
                    end = min(self.released, cur + self.batch)
                    topic = json.dumps(key[len(prefix):])
                    parts.extend(
                        f'{{"channel":{topic},"data":{w}}}' for w in self._wire[cur:end]
                    )
                    self._cursors[key] = end
            return ",".join(parts)
        if ch == "/meta/disconnect":
            return f'{{"channel":"{ch}","successful":true,"id":{mid}}}'
        return f'{{"channel":{json.dumps(ch)},"successful":false,"error":"404::unsupported"}}'


def serve(gen: BayeuxGenerator) -> ThreadingHTTPServer:
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _reply(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            if self.path == "/ctl":
                op = json.loads(body)["op"]
                if op == "start":
                    out = {"t": gen.start()}
                elif op == "tail":
                    out = {"t": gen.tail()}
                else:
                    out = gen.stop()
                return self._reply(200, json.dumps(out).encode())
            if self.headers.get("Authorization", "") != gen.token:
                return self._reply(401, b"[]")
            msgs = json.loads(body)
            self._reply(200, ("[" + ",".join(gen.handle(m) for m in msgs) + "]").encode())

    return ThreadingHTTPServer(("127.0.0.1", 0), Handler)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--events", type=int, required=True)
    p.add_argument("--burst", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--batch", type=int, required=True)
    p.add_argument("--token", required=True)
    p.add_argument("--knobs", required=True, help="Knobs fields as one JSON object")
    a = p.parse_args(argv)
    knobs = json.loads(a.knobs)
    knobs = Knobs(**{**knobs, "mix": tuple(knobs["mix"])})
    gen = BayeuxGenerator(make_deliveries(a.seed, a.events, knobs), a.burst, a.rate, a.batch, a.token)
    httpd = serve(gen)
    th = threading.Thread(target=httpd.serve_forever, daemon=True)
    th.start()
    url = f"http://127.0.0.1:{httpd.server_port}/cometd/44.0"
    print(json.dumps({"url": url, "ctl": f"http://127.0.0.1:{httpd.server_port}/ctl"}), flush=True)
    try:
        sys.stdin.read()  # the parent closes stdin to stop us
    finally:
        gen.stop()
        httpd.shutdown()
        httpd.server_close()


if __name__ == "__main__":
    main()
