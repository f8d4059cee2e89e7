"""Wire endpoint and open-loop load generator, run as its own process.

The process owns one ``FakeKinesisServer(open_stream("wire", 4))`` and
counts every API call at the dispatch boundary (calls, busy seconds,
records returned by GetRecords, entries placed by PutRecords). Its CPU
and memory are kept out of the workload process, whose resident memory
the benchmark reports.

Control is by files in ``--control`` (the workload and the launcher
share that directory):

- writes ``endpoint.json`` (``{"url": ...}``) once it serves;
- ``start_gen`` appears: the generator starts calling PutRecords on a
  fixed schedule of ``--rate`` records/s, from one thread with one
  boto3 client; each record's payload ``k`` is its due time
  (``DUE_BASE_US`` + CLOCK_MONOTONIC microseconds), and the schedule
  never waits for the consumer;
- ``stop_gen`` appears: the generator stops and writes ``acks.json``,
  the (shard, sequence number, due time) of every acknowledged entry;
- ``snapshot`` appears: writes ``endpoint_stats.json``, the counters so
  far and the generator's summary;
- ``stop`` appears, or the launcher closes stdin: the process exits.

Run: ``python3 perfbench/endpoint.py --control DIR --seed N --rate R``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

DUE_BASE_US = 10**15  # live payloads are >= this; backlog payloads are < it
CALL_PERIOD_S = 0.02  # one PutRecords call per period on the schedule
POLL_S = 0.02


def _atomic_json(path: str, doc) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


class Counters:
    """Per-operation call counts and busy time at ``api.dispatch``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.ops: dict[str, dict[str, float]] = {}
        self.records_out = 0
        self.put_entries = 0
        self.put_failed = 0

    def wrap(self, api) -> None:
        inner = api.dispatch

        def dispatch(op: str, body: dict):
            out = None
            t0 = time.perf_counter()
            try:
                out = inner(op, body)
                return out
            finally:
                dt = time.perf_counter() - t0
                with self.lock:
                    c = self.ops.setdefault(op, {"calls": 0, "busy_s": 0.0})
                    c["calls"] += 1
                    c["busy_s"] += dt
                    if op == "GetRecords" and isinstance(out, dict):
                        self.records_out += len(out.get("Records", ()))
                    elif op == "PutRecords" and isinstance(out, dict):
                        self.put_entries += len(out.get("Records", ()))
                        self.put_failed += int(out.get("FailedRecordCount", 0))

        api.dispatch = dispatch

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "ops": {k: dict(v) for k, v in self.ops.items()},
                "records_out": self.records_out,
                "put_entries": self.put_entries,
                "put_failed": self.put_failed,
            }


def _generate(url: str, rate: float, seed: int, done) -> dict:
    """Open-loop PutRecords schedule until ``done()`` is true."""
    from kinesumer_spark.sources.kinesis_wire import wire_client

    client = wire_client(url)
    rng = random.Random(seed)
    per_call = max(int(round(rate * CALL_PERIOD_S)), 1)
    period = per_call / rate
    acks: list[list] = []
    late_max = 0.0
    retried = calls = 0
    start = time.monotonic()
    n = 0
    while not done():
        due = start + n * period
        now = time.monotonic()
        if now < due:
            time.sleep(min(due - now, POLL_S))
            continue
        late_max = max(late_max, now - due)
        due_k = DUE_BASE_US + int(due * 1e6)
        pending = [
            {
                "PartitionKey": f"live-{rng.getrandbits(40):x}",
                "Data": json.dumps({"k": due_k}).encode(),
            }
            for _ in range(per_call)
        ]
        while pending:
            resp = client.put_records(StreamName="wire", Records=pending)
            calls += 1
            failed = []
            for entry, r in zip(pending, resp["Records"]):
                if "ErrorCode" in r:
                    failed.append(entry)
                else:
                    acks.append([r["ShardId"], r["SequenceNumber"], due_k])
            retried += len(failed)
            pending = failed
        n += 1
    return {
        "acks": acks,
        "sent": len(acks),
        "calls": calls,
        "entries_retried": retried,
        "late_max_ms": late_max * 1e3,
        "rate": rate,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--control", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, default=1000.0)
    args = ap.parse_args(argv)

    from kinesumer_spark.sources.kinesis_wire import FakeKinesisServer, open_stream

    counters = Counters()
    server = FakeKinesisServer(open_stream("wire", 4))
    counters.wrap(server.api)
    stop = threading.Event()

    def watch_stdin() -> None:  # launcher gone or done: shut down
        sys.stdin.read()
        stop.set()

    threading.Thread(target=watch_stdin, daemon=True).start()

    def flag(name: str) -> bool:
        return os.path.exists(os.path.join(args.control, name))

    def stopping() -> bool:
        return stop.is_set() or flag("stop")

    gen: dict = {}
    with server:
        _atomic_json(os.path.join(args.control, "endpoint.json"), {"url": server.url})
        while not stopping():
            if not gen and flag("start_gen"):
                gen = _generate(
                    server.url,
                    args.rate,
                    args.seed,
                    lambda: flag("stop_gen") or stopping(),
                )
                _atomic_json(os.path.join(args.control, "acks.json"), gen["acks"])
            stats_path = os.path.join(args.control, "endpoint_stats.json")
            if flag("snapshot") and not os.path.exists(stats_path):
                stats = counters.snapshot()
                stats["loadgen"] = {k: v for k, v in gen.items() if k != "acks"}
                _atomic_json(stats_path, stats)
            time.sleep(POLL_S)
    return 0


if __name__ == "__main__":
    sys.exit(main())
