"""One benchmark workload, run in a fresh process by ``run.py``.

The process times its own set-up (imports, ``session.get_spark``, the
registry import and the wire data-source registration), runs one
workload, checks every output, and writes one JSON document to
``--out``. Every measurement is taken from outside the program: around
calls into its public functions, from Spark's progress/listener and
event-log reports, and (for ``stream``) from the benchmark-owned wire
endpoint process.

With ``--trace 1`` it also turns on the Spark event log, keeps every
streaming progress event through a session-level listener, splits each
registry row into build and execute with job groups, and records the
spans it times; ``run.py`` turns those into the per-layer table.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import statistics
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from endpoint import DUE_BASE_US  # noqa: E402

# bench.py's HEADLINE list: the relational, window, training-data and
# stream-envelope rows the repo has timed since its first rounds
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "join_broadcast_dim",
    "join_left_outer",
    "window_topk_per_group",
    "events_sessionize",
    "events_asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_cosine_topk",
    "text_fingerprint",
    "stream_consume_envelope",
]
# the admission row with JVM-side state and a TTL bound on MinHash band
# keys (its semantic-cell twin does not fit the run's time budget)
ADMIT = ["stream_neardup_admit_ttl_jvm"]

# seconds a workload may take from the start of its timed work; the
# launcher adds set-up and shutdown time to it for the process timeout
BUDGET_S = 90.0
# the live tail is measured over at least this many microbatches: every
# record of a batch shares one delivery time, so the latency percentiles
# rest on the number of batches in the window, not on records
MIN_TAIL_BATCHES = 30


class Tracer:
    """In-memory spans (name, start, end, parent), written at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.i = len(tracer.spans)
                tracer.spans.append(
                    {
                        "name": name,
                        "start": time.monotonic(),
                        "end": None,
                        "parent": tracer._stack[-1] if tracer._stack else None,
                    }
                )
                tracer._stack.append(self.i)
                return self

            def __exit__(self, *exc):
                tracer.spans[self.i]["end"] = time.monotonic()
                tracer._stack.pop()
                return False

            @property
            def seconds(self) -> float:
                s = tracer.spans[self.i]
                return s["end"] - s["start"]

        return _Span()

    def table(self) -> list[dict]:
        """Each span with its duration and self time (duration minus the
        time its direct children cover; children never overlap here)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [
            {
                "name": s["name"],
                "parent": s["parent"],
                "start": s["start"],
                "dur_s": s["end"] - s["start"],
                "self_s": s["end"] - s["start"] - child_s[i],
            }
            for i, s in enumerate(self.spans)
        ]


def _wait_json(path: str, timeout: float):
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"{path} did not appear within {timeout:.0f} s")
        time.sleep(0.02)
    with open(path) as f:
        return json.load(f)


def _touch(path: str) -> None:
    with open(path, "w"):
        pass


def _progress_listener(spark, events: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Keep()
    spark.streams.addListener(listener)
    return listener


# -- stream: backlog placement, catch-up, live tail ------------------------


def _backlog_keys(seed: int, n: int) -> list[str]:
    """Partition keys for ``n`` backlog records: half route to shard 0 of
    the four equal hash ranges, the rest spread over all four."""
    import hashlib
    import random

    rng = random.Random(seed)
    pools: list[list[str]] = [[] for _ in range(4)]
    j = 0
    while min(len(p) for p in pools) < 256:
        key = f"bk-{seed}-{j}"
        h = int.from_bytes(hashlib.md5(key.encode()).digest(), "big")
        pools[h * 4 >> 128].append(key)
        j += 1
    everything = [k for p in pools for k in p]
    return [
        rng.choice(pools[0]) if rng.random() < 0.5 else rng.choice(everything)
        for _ in range(n)
    ]


def _wire_consumer(spark, url: str, checkpoint_root: str):
    """A fresh consumer group on the endpoint's stream, from TRIM_HORIZON,
    with a scan limit large enough that a backlog drains in few batches."""
    from kinesumer_spark.streaming.engine import Engine, StreamSource

    engine = Engine(spark, app="perfbench", checkpoint_root=checkpoint_root)
    records = engine.consume(
        [
            StreamSource(
                name="wire",
                format="kinesumer_wire",
                options={"endpoint": url, "stream": "wire", "scanlimit": "10000"},
            )
        ]
    )
    return engine, records


def _drain(spark, url: str, checkpoint_root: str, want: int, deadline: float):
    """A fresh consumer group drains the stream from TRIM_HORIZON until
    ``want`` records reached its sink. Returns the (shard, sequence)
    pairs delivered and the seconds from query start to the end of the
    sink call that delivered the last of them."""
    engine, records = _wire_consumer(spark, url, checkpoint_root)
    pairs: list[tuple[str, str]] = []
    last_end = [0.0]

    def sink(df, batch_id: int) -> None:
        pairs.extend(
            (r[0], r[1]) for r in df.select("shard_id", "sequence_number").collect()
        )
        last_end[0] = time.monotonic()

    t0 = time.monotonic()
    query = engine.run(records, sink)
    while len(pairs) < want and time.monotonic() < deadline and query.isActive:
        time.sleep(0.02)
    engine.close()
    return pairs, last_end[0] - t0


def delivery_faults(
    n: int,
    backlog: dict[tuple[str, str], int],
    seen: dict[tuple[str, str], int],
    live_pairs: set[tuple[str, str]],
    want: set[tuple[str, str]],
    redrain: list[tuple[str, str]],
) -> dict[str, int]:
    """Exactly-once check of one ``stream`` run, as counts of faults.

    ``backlog`` maps each delivered backlog record (shard, sequence) to
    its payload ``k`` in ``range(n)``; ``seen`` counts deliveries per
    record; ``want`` is every acknowledged live record and
    ``live_pairs`` every delivered one; ``redrain`` is what a second
    consumer group delivered. Every backlog payload must be delivered
    once, as one record (a payload placed twice by the writer arrives
    as two records with distinct sequence numbers), every acknowledged
    live record once, nothing else, and the re-drain the same records.
    """
    redrain_set = set(redrain)
    return {
        "duplicates": sum(c - 1 for c in seen.values()),
        "duplicate_payloads": len(backlog) - len(set(backlog.values())),
        "missing_backlog": n - len({k for k in backlog.values() if 0 <= k < n}),
        "missing_live": len(want - seen.keys()),
        "unexpected": len(live_pairs - want)
        + sum(1 for k in backlog.values() if not 0 <= k < n),
        "redrain_mismatch": len(redrain) - len(redrain_set)
        + len(seen.keys() - redrain_set)
        + len(redrain_set - seen.keys()),
    }


def run_stream(spark, a, tr: Tracer, res: dict) -> None:
    import pandas as pd

    url = _wait_json(os.path.join(a.control, "endpoint.json"), 60)["url"]
    n = a.backlog
    pdf = pd.DataFrame(
        {
            "partition_key": _backlog_keys(a.seed, n),
            "data": [json.dumps({"k": i}) for i in range(n)],
        }
    )
    src = spark.createDataFrame(pdf)
    if a.trace:
        spark.sparkContext.setJobGroup("produce", "backlog placement")
    with tr.span("produce") as sp:
        (
            src.write.format("kinesumer_wire")
            .option("endpoint", url)
            .option("stream", "wire")
            .mode("append")
            .save()
        )
    res["detail"]["produce_rps"] = n / sp.seconds

    engine, records = _wire_consumer(spark, url, os.path.join(a.work, "ckpt"))
    batches: list[tuple] = []  # (batch_id, sink_start, sink_end, rows)

    def sink(df, batch_id: int) -> None:
        t0 = time.monotonic()
        rows = df.select("shard_id", "sequence_number", "data").collect()
        batches.append((batch_id, t0, time.monotonic(), rows))

    seen: dict[tuple[str, str], int] = {}
    live: list[tuple[float, int]] = []  # (sink time, due µs) per live record
    live_pairs: set[tuple[str, str]] = set()
    backlog: dict[tuple[str, str], int] = {}  # (shard, sequence) -> payload
    backlog_payloads: set[int] = set()
    parsed = 0

    def absorb() -> None:
        nonlocal parsed
        while parsed < len(batches):
            _bid, _t0, t1, rows = batches[parsed]
            for shard, seq, data in rows:
                seen[(shard, seq)] = seen.get((shard, seq), 0) + 1
                k = json.loads(bytes(data))["payload_k"]
                if k >= DUE_BASE_US:
                    live.append((t1, k))
                    live_pairs.add((shard, seq))
                else:
                    backlog[(shard, seq)] = k
                    backlog_payloads.add(k)
            parsed += 1

    deadline = time.monotonic() + BUDGET_S
    with tr.span("consume"):
        with tr.span("catch_up"):
            t_start = time.monotonic()
            query = engine.run(records, sink)
            while len(backlog_payloads) < n:
                if time.monotonic() > deadline or not query.isActive:
                    raise RuntimeError(
                        f"catch-up stalled: {len(backlog_payloads)}/{n} backlog "
                        f"payloads seen; engine errors: {engine.errors()}"
                    )
                time.sleep(0.02)
                absorb()
            t_caught = batches[parsed - 1][2]
        res["detail"]["catchup_cold_rps"] = n / (t_caught - t_start)
        with tr.span("tail"):
            # live traffic starts once the backlog is delivered, so the
            # tail window sees a consumer that has caught up; the window
            # lasts --seconds and at least MIN_TAIL_BATCHES microbatches
            _touch(os.path.join(a.control, "start_gen"))
            ws = time.monotonic() + a.settle
            first_in_window = None
            while True:
                time.sleep(0.05)
                absorb()
                now = time.monotonic()
                if first_in_window is None and now >= ws:
                    first_in_window = len(batches)
                if (
                    first_in_window is not None
                    and now - ws >= a.seconds
                    and len(batches) - first_in_window >= a.min_batches
                ):
                    break
                if now > deadline or not query.isActive:
                    raise RuntimeError(
                        f"tail stalled: {len(batches)} batches; "
                        f"engine errors: {engine.errors()}"
                    )
            we = now
            _touch(os.path.join(a.control, "stop_gen"))
            acks = _wait_json(os.path.join(a.control, "acks.json"), 30)
        with tr.span("drain"):
            want = {(s, q) for s, q, _ in acks}
            while not want <= seen.keys():
                if time.monotonic() > deadline or not query.isActive:
                    break
                time.sleep(0.05)
                absorb()
            engine.close()
            absorb()
        # throughput: a fresh consumer group re-drains everything the first
        # one delivered, in the now warm session (the first catch-up pays
        # JVM and worker warm-up and is reported as catchup_cold_rps)
        delivered = len(backlog) + len(live)
        with tr.span("redrain"):
            redrain, redrain_s = _drain(
                spark, url, os.path.join(a.work, "ckpt_redrain"), delivered, deadline
            )
    res["detail"]["backfill_rps"] = len(redrain) / redrain_s
    # endpoint counters for the measured phases only (a traced run drains
    # once more, at local[1])
    _touch(os.path.join(a.control, "snapshot"))
    _wait_json(os.path.join(a.control, "endpoint_stats.json"), 10)

    # latency of every live record due inside the window: sink time minus
    # the time its PutRecords call was scheduled
    lat_ms = [
        (t1 - due_s) * 1e3
        for t1, due_s in ((t1, (k - DUE_BASE_US) / 1e6) for t1, k in live)
        if ws <= due_s < we
    ]
    cuts = statistics.quantiles(lat_ms, n=100, method="inclusive")
    res["detail"].update(
        tail_p50_ms=cuts[49],
        tail_p90_ms=cuts[89],
        tail_p99_ms=cuts[98],
        tail_max_ms=max(lat_ms),
        tail_rps=sum(1 for t1, _ in live if ws <= t1 < we) / (we - ws),
        tail_samples=len(lat_ms),
        tail_window_s=we - ws,
        tail_batches=sum(1 for b in batches if ws <= b[2] < we),
        batches=len(batches),
    )
    # tail.backlog_max: records acknowledged but not yet at the sink, at
    # each batch end inside the window
    dues = sorted(k for _, _, k in acks)
    got = sorted(t1 for t1, _ in live)
    res["detail"]["tail_backlog_max"] = max(
        (
            bisect.bisect_right(dues, DUE_BASE_US + int(t1 * 1e6))
            - bisect.bisect_right(got, t1)
            for _b, _t0, t1, _r in batches
            if ws <= t1 < we
        ),
        default=0,
    )

    faults = delivery_faults(n, backlog, seen, live_pairs, want, redrain)
    res["attempted"] = n + len(acks) + delivered
    res["failed"] = sum(faults.values())
    if res["failed"]:
        res["problems"].append(" ".join(f"{k}={v}" for k, v in faults.items()))
    res["e2e"] = {
        "latency_p50_ms": res["detail"]["tail_p50_ms"],
        "latency_p90_ms": res["detail"]["tail_p90_ms"],
        "throughput_per_s": res["detail"]["backfill_rps"],
    }
    res["trace_stream"] = {
        "sink_s": {str(b[0]): b[2] - b[1] for b in batches},
        "rows": {str(b[0]): len(b[3]) for b in batches},
        "run_id": str(query.runId),
        "delivered": delivered + len(redrain),
        "redrain_records": len(redrain),
    }


def run_local1_drain(a, res: dict) -> None:
    """Traced ``stream`` only: the timed re-drain once more at
    ``local[1]``, the single-threaded baseline."""
    from kinesumer_spark.session import get_spark
    from kinesumer_spark.sources.kinesis_wire import register_wire_source

    url = _wait_json(os.path.join(a.control, "endpoint.json"), 5)["url"]
    spark = get_spark(cpus=1)
    register_wire_source(spark)
    pairs, seconds = _drain(
        spark,
        url,
        os.path.join(a.work, "ckpt_local1"),
        res["trace_stream"]["redrain_records"],
        time.monotonic() + 60,
    )
    res["detail"]["backfill_local1_rps"] = len(pairs) / seconds
    res["detail"]["backfill_local1_master"] = spark.sparkContext.master
    spark.stop()


# -- registry rows: analytics and admit ------------------------------------


def run_rows(spark, a, tr: Tracer, res: dict, names: list[str]) -> None:
    from kinesumer_spark.oracle import compare_frames, run_oracle
    from kinesumer_spark.registry import all_queries

    queries = all_queries()
    absent = [n for n in names if n not in queries]
    if absent:
        raise RuntimeError(
            f"registry rows not registered on this host: {absent} "
            "(the JVM-state admission rows need javac)"
        )
    sc = spark.sparkContext
    times: list[float] = []
    per_row: dict[str, list[dict]] = {n: [] for n in names}
    first: dict[str, object] = {}

    def one_pass(p) -> None:
        """Every row once, built and fetched in a fixed order; ``p`` is
        the pass's tag in the job-group ids (``warm`` or its number)."""
        with tr.span(f"pass:{p}"):
            for name in names:
                with tr.span(name) as sp:
                    if a.trace:
                        sc.setJobGroup(f"build:{name}:{p}", name)
                    with tr.span("build") as b:
                        df = queries[name].spark(spark, a.data)
                    if a.trace:
                        sc.setJobGroup(f"exec:{name}:{p}", name)
                    with tr.span("exec") as e:
                        pdf = df.toPandas()
                if p == "warm":
                    continue
                times.append(sp.seconds)
                row = {"wall_s": sp.seconds, "build_s": b.seconds, "exec_s": e.seconds}
                if a.trace:
                    st = sc.statusTracker()
                    row["build_jobs"] = len(st.getJobIdsForGroup(f"build:{name}:{p}"))
                per_row[name].append(row)
                first.setdefault(name, pdf)

    with tr.span("rows"):
        # untimed: JIT, codegen, Python workers and the JVM state
        # operator's classes are warm before the first timed row
        with tr.span("warm") as warm:
            one_pass("warm")
        t_begin = time.monotonic()
        res["timed_from_epoch_s"] = time.time()
        p = 0
        while p == 0 or time.monotonic() - t_begin < a.seconds:
            one_pass(p)
            p += 1
    elapsed = time.monotonic() - t_begin
    if a.trace:
        sc.setJobGroup("after", "after")

    # correctness, outside the timed window: each row against its DuckDB
    # oracle, once per run
    failed = 0
    with tr.span("oracle"):
        for name in names:
            q = queries[name]
            problems = (
                compare_frames(first[name], run_oracle(q.oracle, a.data))
                if q.oracle
                else []
            )
            if problems:
                failed += 1
                res["problems"].append(f"{name}: {problems[:3]}")
    res["attempted"] = len(names)
    res["failed"] = failed
    cuts = statistics.quantiles([t * 1e3 for t in times], n=100, method="inclusive")
    res["detail"].update(
        warm_pass_s=warm.seconds,
        passes=p,
        pass_s=elapsed / p,
        row_wall_s={n: statistics.median(r["wall_s"] for r in rs) for n, rs in per_row.items()},
        rows={n: r for n, r in per_row.items()},
    )
    res["e2e"] = {
        "latency_p50_ms": cuts[49],
        "latency_p90_ms": cuts[89],
        "throughput_per_s": len(names) * p / elapsed,
    }
    if a.trace:
        from kinesumer_spark.catalog import TABLES, read_table

        res["read_table_s"] = {}
        for t in TABLES:
            with tr.span(f"read_table:{t}") as sp:
                read_table(spark, a.data, t)
            res["read_table_s"][t] = sp.seconds


# -- event log --------------------------------------------------------------


EXEC_KEYS = (
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.shuffle_fetch_wait_s",
    "exec.input_mb",
    "exec.tasks",
    "exec.jobs",
)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Executor totals per job group (``""`` for jobs outside one) over
    every job and task in the application's event log."""
    stage_group: dict[int, str] = {}
    by_group: dict[str, dict[str, float]] = {}

    def totals(group: str) -> dict[str, float]:
        return by_group.setdefault(group, dict.fromkeys(EXEC_KEYS, 0.0))

    (app,) = os.listdir(path)  # one application per event-log directory
    with open(os.path.join(path, app)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                totals(group)["exec.jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                out = totals(stage_group.get(ev.get("Stage ID"), ""))
                out["exec.tasks"] += 1
                out["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
                out["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                out["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                out["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                sr = tm.get("Shuffle Read Metrics") or {}
                out["exec.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                im = tm.get("Input Metrics") or {}
                out["exec.input_mb"] += im.get("Bytes Read", 0) / 2**20
    return by_group


def exec_totals(by_group: dict[str, dict[str, float]], keep=None, per: int = 1) -> dict:
    """The executor totals of the job groups ``keep`` accepts (all by
    default), divided by ``per``."""
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for group, t in by_group.items():
        if keep is None or keep(group):
            for k in EXEC_KEYS:
                out[k] += t[k] / per
    return out


# -- main ---------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["stream", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-mono", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--data", default="")
    ap.add_argument("--control", default="")
    ap.add_argument("--backlog", type=int, default=0)
    ap.add_argument("--settle", type=float, default=2.0)
    ap.add_argument("--min-batches", type=int, default=MIN_TAIL_BATCHES)
    a = ap.parse_args(argv)

    tr = Tracer()
    res: dict = {"detail": {}, "problems": [], "attempted": 0, "failed": 0}
    with tr.span("setup"):
        with tr.span("import"):
            from kinesumer_spark import tmpdirs
            from kinesumer_spark.session import get_spark
        extra = {}
        if a.trace:
            log_dir = os.path.join(a.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        with tr.span("session.get_spark") as sp_spark:
            spark = get_spark(app_name="perfbench", extra_conf=extra)
        with tr.span("registry.import") as sp_reg:
            from kinesumer_spark.registry import all_queries

            all_queries()
        with tr.span("wire.register") as sp_wire:
            from kinesumer_spark.sources.kinesis_wire import register_wire_source

            register_wire_source(spark)
    res["setup_s"] = time.monotonic() - a.spawn_mono
    res["layers"] = {
        "session.get_spark_s": sp_spark.seconds,
        "registry.import_s": sp_reg.seconds,
        "wire.register_s": sp_wire.seconds,
    }
    events: list[dict] = []
    if a.trace:
        _progress_listener(spark, events)

    import pyspark

    res["host"] = {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "scratch_base": tmpdirs.scratch_base(),
        "spark_master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }
    if a.workload == "stream":
        run_stream(spark, a, tr, res)
    else:
        run_rows(spark, a, tr, res, HEADLINE + ADMIT)
    if a.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress
        res["progress"] = list(events)
    spark.stop()
    if a.trace:
        by_group = parse_event_log(os.path.join(a.work, "eventlog"))
        if a.workload == "batch":
            # per timed pass: set-up, the warm pass and the read_table
            # calls are left out
            res["layers"].update(
                exec_totals(
                    by_group,
                    lambda g: g.startswith(("build:", "exec:")) and not g.endswith(":warm"),
                    res["detail"]["passes"],
                )
            )
        else:
            res["layers"].update(exec_totals(by_group))
        res["exec_run_s_by_group"] = {g: t["exec.run_s"] for g, t in by_group.items()}
        if a.workload == "stream":
            run_local1_drain(a, res)
        res["spans"] = tr.table()
    with open(a.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
