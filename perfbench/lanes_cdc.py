"""The CDC lane: bus → wire landing → streaming parse → OCC merge.

One run is the life of a CDC replication job over a snapshot preloaded
with PRELOAD_KEYS keys (set-up), in two measured phases:

* catch-up (closed loop): a backlog of CATCHUP_EVENTS deliveries is
  available at once and drains as fast as the client goes, one poll of
  BATCH deliveries per cycle. Bus polling, landing and per-row parse
  and dedup do the work; merge sees large deltas. Throughput is the
  median over the catch-up cycles of deliveries landed ÷ cycle wall.
* tail (open loop, WARM_TAIL_S + ``--seconds`` long): the generator
  offers TAIL_RATE events/s whatever the client does. Each epoch
  carries a small delta against the large state, so merge's full-state
  rewrite and the fixed per-trigger costs set freshness: the publish
  time of the first epoch that contains an event minus the time the
  generator was due to offer it. The publish time is the mtime of the
  state dir's ``MANIFEST``, read right after ``upsert`` returns. Only
  events due after the first WARM_TAIL_S seconds count: tail cycles
  still shorten by a tenth over the first few after catch-up.

Each cycle is ``BayeuxConnector.drain_to``, one
``IncrementalSnapshot.attach`` drain of ``changes_stream``, and the
publishes inside ``upsert``. After the run the published state is
compared with an independent latest-per-key over the preload and
exactly the served deliveries (the invariant of the engine's
bus-to-merge end-to-end test).
"""

from __future__ import annotations

import base64
import dataclasses
import json
import os
import subprocess
import sys
import time
import urllib.request

import gen_cdc
from stats import attribute_freshness, check_state, latest_per_key, median, percentile

# Frozen workload constants. TAIL_RATE sits well below the catch-up
# phase's sustained rate at the commit that introduced this benchmark
# (160-500 events/s on a shared 4-core host), so the tail measures
# freshness, not saturation. PRELOAD_KEYS is over 100x one tail
# epoch's delta.
PRELOAD_KEYS = 15_000
CATCHUP_EVENTS = 3_000
TAIL_RATE = 50.0  # events/s offered
WARM_TAIL_S = 4.0  # tail cycles before the freshness window
BATCH = 750  # deliveries per /meta/connect → four catch-up cycles
POLLS_PER_CYCLE = 1  # one landing file per poll
FILES_PER_TRIGGER = 1
WARMUP_EVENTS = 300
TOKEN = "perfbench"
STATE_COLS = ("entity_name", "uid", "change_type", "commit_ts_ms", "replay_id", "record_id")
KNOBS = gen_cdc.Knobs(
    keys=PRELOAD_KEYS,
    zipf_s=0.8,
    mix=(0.1, 0.7, 0.15, 0.05),
    multi_share=0.1,
    dup_share=0.02,
    first_replay_id=PRELOAD_KEYS + 1,
)


def n_events(seconds: int) -> int:
    """Deliveries to generate: the backlog plus a tail with headroom."""
    return CATCHUP_EVENTS + int(TAIL_RATE * (WARM_TAIL_S + seconds + 60))


def _write_wire(path: str, envelopes: list[dict]) -> None:
    """Land envelopes as one wire-format JSON-lines file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for env in envelopes:
            data = base64.b64encode(json.dumps(env).encode()).decode()
            pk = env["payload"]["ChangeEventHeader"]["entityName"]
            f.write(json.dumps({"partitionKey": pk, "data": data}) + "\n")


def preload_envelopes(keys: int) -> list[dict]:
    """One CREATE per key, replayIds 1..keys, committed a day before any
    generated event."""
    base = gen_cdc.BASE_MS - 86_400_000
    return [
        gen_cdc.envelope(
            gen_cdc.key_entity(uid), "CREATE", [gen_cdc.ID_FMT % uid], uid + 1, base + uid,
            tx="%032x" % uid, fields={"Name": f"n{uid}", "Amount": "0"},
        )
        for uid in range(keys)
    ]


class Generator:
    """The load generator as a child process, stopped on close."""

    def __init__(self, seed: int, seconds: int):
        cmd = [
            sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_cdc.py"),
            "--seed", str(seed), "--events", str(n_events(seconds)),
            "--burst", str(CATCHUP_EVENTS), "--rate", str(TAIL_RATE),
            "--batch", str(BATCH), "--token", TOKEN,
            "--knobs", json.dumps(dataclasses.asdict(KNOBS)),
        ]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line:
            self.close()
            raise RuntimeError("load generator exited before serving")
        info = json.loads(line)
        self.url, self.ctl_url = info["url"], info["ctl"]

    def ctl(self, op: str) -> dict:
        req = urllib.request.Request(
            self.ctl_url, data=json.dumps({"op": op}).encode(), method="POST"
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class CdcLane:
    def __init__(self, run):
        self.run = run
        self.snap = None
        self.upserts: list[dict] = []
        self._drain_span = None

    # -- setup ---------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Untimed: land the warm-up and preload inputs as wire records."""
        w = self.run.work
        warm_knobs = gen_cdc.Knobs(
            keys=500, zipf_s=0.8, mix=KNOBS.mix, multi_share=0.1, dup_share=0.02, first_replay_id=1
        )
        warm = gen_cdc.make_deliveries(self.run.seed + 1, WARMUP_EVENTS, warm_knobs)
        _write_wire(os.path.join(w, "warm_input", "part-0.json"), warm)
        _write_wire(os.path.join(w, "preload_input", "part-0.json"), preload_envelopes(PRELOAD_KEYS))

    def ready(self) -> None:
        """A warm-up drain through stream and merge into a scratch
        snapshot, then the state preload (one batch upsert)."""
        from sfdc_cdc_aws_spark.streaming.job import WIRE_SCHEMA, changes_stream, parse_wire
        from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

        spark, w = self.run.spark, self.run.work
        warm_snap = IncrementalSnapshot(spark, os.path.join(w, "warm", "state"))
        q = warm_snap.attach(
            changes_stream(spark, os.path.join(w, "warm_input")), os.path.join(w, "warm", "ckpt")
        )
        q.awaitTermination()
        self.snap = IncrementalSnapshot(spark, os.path.join(w, "state"))
        self.snap.upsert(
            parse_wire(spark.read.schema(WIRE_SCHEMA).json(os.path.join(w, "preload_input")))
        )

    # -- measured window -------------------------------------------------------

    def _wrap_upsert(self) -> None:
        """Time ``upsert`` by wrapping it on the instance; after each call
        read the published MANIFEST (epoch, rows, publish time)."""
        snap, tracer, orig = self.snap, self.run.tracer, self.snap.upsert

        def upsert(batch_df, epoch_id=0):
            t0 = time.time()
            with tracer.span("merge.upsert", parent=self._drain_span, batch=epoch_id):
                orig(batch_df, epoch_id)
            t1 = time.time()
            path = snap._manifest_path
            with open(path) as f:
                m = json.load(f)
            epoch_dir = snap._epoch_dir(m["epoch"])
            nbytes = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(epoch_dir) for f in fs
            )
            self.upserts.append(
                {"batch": epoch_id, "t0": t0, "t1": t1, "epoch": m["epoch"],
                 "rows": m["rows"], "publish_t": os.stat(path).st_mtime, "bytes": nbytes}
            )

        snap.upsert = upsert

    def measure(self) -> None:
        from sfdc_cdc_aws_spark.sources.bayeux import BayeuxConnector
        from sfdc_cdc_aws_spark.streaming.job import changes_stream

        run, tracer, spark = self.run, self.run.tracer, self.run.spark
        landing, ckpt = os.path.join(run.work, "landing"), os.path.join(run.work, "ckpt")
        self._wrap_upsert()
        gen = Generator(run.seed, run.seconds)
        run.on_close(gen.close)
        client = BayeuxConnector(gen.url, lambda reauth: TOKEN)
        client.start()
        client.subscribe_earliest(gen_cdc.TOPIC, lambda d: None)
        self.cycles: list[dict] = []
        self.landed = 0

        def cycle() -> None:
            c0 = time.time()
            with tracer.span("cycle"):
                with tracer.span("bayeux.drain_to"):
                    self.landed += client.drain_to(landing, gen_cdc.TOPIC, max_polls=POLLS_PER_CYCLE)
                landed_t = time.time()
                first_upsert = len(self.upserts)
                with tracer.span("stream.drain") as sp:
                    self._drain_span = sp.get("id")
                    q = self.snap.attach(
                        changes_stream(spark, landing, max_files_per_trigger=FILES_PER_TRIGGER), ckpt
                    )
                    q.awaitTermination()
                progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
            self.cycles.append(
                {"t0": c0, "t1": time.time(), "landed": self.landed, "landed_t": landed_t,
                 "upserts": self.upserts[first_upsert:], "progress": progress,
                 "bayeux_s": landed_t - c0}
            )

        with tracer.span("measure"):
            self.t_backlog = gen.ctl("start")["t"]
            while self.landed < CATCHUP_EVENTS:
                cycle()
            self.t_caught_up = self.cycles[-1]["t1"]
            self.catchup_cycles = len(self.cycles)
            self.t_tail = gen.ctl("tail")["t"]
            while time.time() < self.t_tail + WARM_TAIL_S + run.seconds:
                cycle()
            self.gen_stop = gen.ctl("stop")
        # deliveries released after the last drain_to were never served
        self.backlog_end = self.gen_stop["released"] - self.landed
        client.stop()
        self.bayeux_stats = dict(client.stats)
        self.landing = landing

    # -- results -------------------------------------------------------------

    def finish(self) -> None:
        """Correctness check and metrics, outside the timed region."""
        run = self.run
        served = gen_cdc.make_deliveries(run.seed, n_events(run.seconds), KNOBS)[: self.landed]
        # due time per event: the backlog is due when it was released,
        # a tail delivery at t_tail + k / TAIL_RATE
        first_due: dict[int, float] = {}
        prefix_max, hi = [0], 0
        for i, env in enumerate(served):
            rid = env["event"]["replayId"]
            hi = max(hi, rid)
            prefix_max.append(hi)
            if rid not in first_due:
                k = i - CATCHUP_EVENTS
                first_due[rid] = self.t_backlog if k < 0 else self.t_tail + k / TAIL_RATE

        # epochs that carried data: the first non-empty batch of each
        # cycle covers every delivery landed before that cycle's drain
        epochs = []
        for c in self.cycles:
            rows = {p["batchId"]: p.get("numInputRows", 0) for p in c["progress"]}
            for u in c["upserts"]:
                if rows.get(u["batch"], 0) > 0:
                    epochs.append((u["publish_t"], prefix_max[c["landed"]]))
                    break
        fresh = attribute_freshness(first_due, epochs)
        t_window = self.t_tail + WARM_TAIL_S
        lat50, lat90 = (
            percentile([v for rid, v in fresh.items() if first_due[rid] >= t_window], q) for q in (50, 90)
        )
        run.latency_p50 = lat50["value"]
        run.layer["cdc.freshness_p50_s"], run.layer["cdc.freshness_p90_s"] = lat50["value"], lat90["value"]
        run.note(f"freshness samples: {lat50['n']} (p90 {lat90['value']:.6g} s, {lat90['beyond']} beyond)")
        catchup = self.cycles[: self.catchup_cycles]
        starts = [0] + [c["landed"] for c in catchup]
        run.throughput = median([(c["landed"] - lo) / (c["t1"] - c["t0"]) for c, lo in zip(catchup, starts)])
        run.unit_walls = [c["t1"] - c["t0"] for c in self.cycles if c["t0"] >= t_window]
        run.note("cycle walls: " + " ".join(f"{c['t1'] - c['t0']:.2f}" for c in self.cycles)
                 + f" (catch-up {self.catchup_cycles}, window from {t_window - self.t_tail:.0f}s into the tail)")
        run.layer["cdc.events_per_s"] = run.throughput
        run.layer["cdc.catchup_s"] = self.t_caught_up - self.t_backlog

        # correctness: published state == latest-per-key over preload + served;
        # a served event no epoch published fails too
        got = {
            (r[0], r[1]): tuple(r)
            for r in self.snap.read().select(*STATE_COLS).collect()
        }
        attempted, failed, bad_keys = check_state(preload_envelopes(PRELOAD_KEYS) + served, got)
        missing = set(first_due) - set(fresh)
        run.attempted += attempted
        run.failed += len(failed | missing)
        if bad_keys or missing:
            run.note(f"cdc check: {len(bad_keys)} wrong keys, {len(missing)} unpublished events")
        self._layer_metrics(served)

    def _layer_metrics(self, served: list[dict]) -> None:
        L = self.run.layer
        st = self.bayeux_stats
        L["bayeux.polls"] = st["polls"]
        L["bayeux.events"] = st["events"]
        L["bayeux.events_per_poll"] = st["events"] / max(1, st["polls"])
        L["bayeux.drain_s"] = sum(c["bayeux_s"] for c in self.cycles)
        L["bayeux.landed_bytes"] = sum(
            os.path.getsize(os.path.join(self.landing, f)) for f in os.listdir(self.landing)
        )
        L["bayeux.reconnects"] = st["reconnects"]

        prog = [p for c in self.cycles for p in c["progress"]]

        def dur(*names):
            return sum(p.get("durationMs", {}).get(n, 0) for p in prog for n in names) / 1000.0

        ops = [p.get("stateOperators") or [] for p in prog]
        L["stream.triggers"] = len(prog)
        L["stream.empty_triggers"] = sum(1 for p in prog if not p.get("numInputRows"))
        L["stream.planning_s"] = dur("queryPlanning")
        L["stream.offset_s"] = dur("latestOffset", "getBatch", "commitOffsets")
        L["stream.wal_commit_s"] = dur("walCommit")
        L["stream.input_rows"] = sum(p.get("numInputRows", 0) for p in prog)
        L["stream.trigger_s"] = dur("triggerExecution")
        L["stream.add_batch_s"] = dur("addBatch")
        L["stream.state_rows"] = max((sum(o.get("numRowsTotal", 0) for o in s) for s in ops), default=0)
        L["stream.state_bytes"] = max((sum(o.get("memoryUsedBytes", 0) for o in s) for s in ops), default=0)
        L["stream.state_commit_s"] = sum(o.get("commitTimeMs", 0) for s in ops for o in s) / 1000.0

        ups = [u for c in self.cycles for u in c["upserts"]]
        rows_in = {p["batchId"]: p.get("numInputRows", 0) for p in prog}
        useful = [u for u in ups if rows_in.get(u["batch"], 0) > 0]
        bounds = [0] + [c["landed"] for c in self.cycles]
        delta_rows = sum(len(latest_per_key(served[a:b])) for a, b in zip(bounds, bounds[1:]))
        L["merge.upserts"] = len(ups)
        L["merge.empty_upserts"] = len(ups) - len(useful)
        L["merge.upsert_s"] = sum(u["t1"] - u["t0"] for u in ups)
        L["merge.epochs"] = len({u["epoch"] for u in ups})
        L["merge.useful_epoch_ratio"] = len(useful) / max(1, len(ups))
        L["merge.state_rows"] = ups[-1]["rows"] if ups else 0
        L["merge.bytes_written"] = sum(u["bytes"] for u in ups)
        L["merge.write_amplification"] = sum(u["rows"] for u in ups) / max(1, delta_rows)
        L["cdc.generator_lag_s"] = self.gen_stop["max_lag_s"]
        L["cdc.backlog_end"] = self.backlog_end
