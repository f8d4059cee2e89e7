"""Kinesis WIRE-protocol execution path: an in-process endpoint speaking
the public Kinesis JSON API + a boto3-driven polling source.

Every round so far, the one reference behavior that had never executed
here was a live network source (reference kinesumer_test.go:137-193
runs against localstack Kinesis; this sandbox has no localstack/broker).
This module closes that gap with what the environment DOES allow: a
localhost HTTP server implementing the documented Kinesis JSON protocol
(``X-Amz-Target: Kinesis_20131202.*``, ``application/x-amz-json-1.1``
bodies, base64 ``Data`` blobs — the public AWS API reference shapes),
consumed by real ``boto3``/``botocore`` clients doing real HTTP with
real retry handling. The polling scan loop (O1, kinesumer.go:615-704)
therefore executes over an actual wire: shard discovery (ListShards —
including ``ParentShardId`` lineage and ``EndingSequenceNumber`` CLOSED
markers, the O3 surface from syncclient.go), iterator acquisition
(GetShardIterator TRIM_HORIZON / AT / AFTER_SEQUENCE_NUMBER), paced
GetRecords with ``Limit`` (the reference's scanLimit), pagination via
``NextShardIterator``, and ProvisionedThroughputExceededException
throttling answered by botocore's standard retry policy.

The feed is DETERMINISTIC from (shard, offset) — same scheme as the
``kinesumer_sim`` source — so the registered query's DuckDB oracle
reconstructs every delivered record from ``range()`` and the driver
hash-checks exactly-once delivery through the real protocol stack.

Scale notes: in polling mode the planner's scanLimit-paced tip probe
IS the read — each record crosses the wire once, on the driver, and
reaches the JVM as one Arrow batch per microbatch (Spark's simple
stream reader protocol); the driver holds the per-shard sequence
cursor (the ShardCheckPoint row set) plus the records of batches not
yet committed. EFO mode reads on executors, one partition per shard
range; the replay of an uncommitted batch after a restart re-reads
its logged range in one executor task. On a real deployment the same
consumer code points at the AWS endpoint — the fake is configuration,
not architecture.
"""

from __future__ import annotations

import base64
import json
import struct
import threading
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_DDL = (
    "stream string, shard_id string, sequence_number string, "
    "partition_key string, payload_k bigint"
)


# ---------------------------------------------------------------------------
# The deterministic shard feed (mirrors the kinesumer_sim scheme so the
# DuckDB oracle can replay it from range())
# ---------------------------------------------------------------------------


_HASH_SPACE = 2**128  # the Kinesis partition-key hash ring (MD5)


# ---------------------------------------------------------------------------
# vnd.amazon.eventstream framing (public spec: the AWS event-stream
# encoding — prelude [total_len u32][headers_len u32][prelude_crc u32],
# headers as (name_len u8, name, type u8=7 string, value_len u16, value),
# payload, message crc32) — what SubscribeToShard responses speak; the
# frames below parse with botocore's own EventStreamBuffer.
# ---------------------------------------------------------------------------


def _es_header(name: str, value: str) -> bytes:
    nb, vb = name.encode(), value.encode()
    return (
        bytes([len(nb)]) + nb + bytes([7]) + struct.pack(">H", len(vb)) + vb
    )


def _es_frame(headers: dict, payload: bytes) -> bytes:
    hdrs = b"".join(_es_header(k, v) for k, v in headers.items())
    prelude = struct.pack(">II", 12 + len(hdrs) + len(payload) + 4, len(hdrs))
    msg = (
        prelude
        + struct.pack(">I", zlib.crc32(prelude) & 0xFFFFFFFF)
        + hdrs
        + payload
    )
    return msg + struct.pack(">I", zlib.crc32(msg) & 0xFFFFFFFF)


def _es_event(event_type: str, payload: dict) -> bytes:
    return _es_frame(
        {
            ":event-type": event_type,
            ":message-type": "event",
            ":content-type": "application/x-amz-json-1.1",
        },
        json.dumps(payload).encode(),
    )


# botocore requires the stream to open with an initial-response event
_ES_INITIAL = _es_event("initial-response", {})


def _record(stream: str, shard: int, per_shard: int, i: int) -> dict:
    seq = shard * per_shard + i
    return {
        "SequenceNumber": str(seq).zfill(21),
        "ApproximateArrivalTimestamp": 1700000000.0 + i,
        "PartitionKey": str(seq % 97),
        # Data is the raw payload blob (base64 on the wire, like the real
        # API); the consumer decodes schema-on-read, as the reference's
        # application does
        "Data": base64.b64encode(
            json.dumps({"k": (seq * 31 + shard) % 1000}).encode()
        ).decode(),
    }


class _Shard:
    """Record storage per shard. Pre-filled feeds use the deterministic
    (shard, offset) scheme above; PutRecords appends live records routed
    by the real MD5 hash ring over ``hash_range``."""

    def __init__(
        self,
        shard_id: str,
        n_records: int = 0,
        *,
        parent: str | None = None,
        adjacent_parent: str | None = None,
        closed: bool = False,
        hash_range: tuple[int, int] | None = None,
    ) -> None:
        self.shard_id = shard_id
        self.n_records = n_records  # prefill size (see _prefill)
        self.parent = parent
        self.adjacent_parent = adjacent_parent  # MergeShards second parent
        self.closed = closed
        self.hash_range = hash_range or (0, _HASH_SPACE - 1)
        self.records: list[dict] = []

    def _prefill(self, stream: str, pos: int) -> None:
        self.records = [
            _record(stream, pos, self.n_records, i)
            for i in range(self.n_records)
        ]

    def seq_index(self, seq: str, *, after: bool) -> int:
        """Index of the first record at (or after, exclusive) ``seq`` —
        zero-padded sequence strings compare lexicographically."""
        import bisect

        seqs = [r["SequenceNumber"] for r in self.records]
        if after:
            return bisect.bisect_right(seqs, seq)
        return bisect.bisect_left(seqs, seq)


class _ApiError(Exception):
    def __init__(self, type_: str, message: str) -> None:
        super().__init__(message)
        self.type = type_
        self.message = message


class _KinesisApi:
    """Dispatch table for the protocol subset a polling consumer uses."""

    def __init__(self, streams: dict[str, list[_Shard]]) -> None:
        self.streams = streams
        self.throttle_every = 0  # every Nth GetRecords throttles (0 = off)
        self._calls = 0
        # every Nth GetRecords raises ExpiredIteratorException (0 = off)
        # — the fault the reference recovers from by re-acquiring the
        # iterator at its checkpoint (kinesumer.go:689-693). Unlike
        # throttling, botocore does NOT retry this; the consumer must.
        self.expire_every = 0
        self._gr_calls = 0
        # cap GetRecords page size server-side (0 = honor Limit only):
        # forces multi-page reads so mid-read faults are exercisable
        self.max_page = 0
        # every Nth PutRecords ENTRY (counted across calls) fails with a
        # per-record ProvisionedThroughputExceededException (0 = off) —
        # the AWS partial-failure contract: the CALL succeeds
        # (FailedRecordCount > 0), botocore does NOT retry, and the
        # producer must resubmit exactly the failed subset
        self.put_fail_every = 0
        self._put_entries = 0
        # per-stream lifecycle: DeleteStream flips ACTIVE → DELETING,
        # after which data-plane ops raise ResourceInUseException —
        # the error the reference answers by EXITING that stream's
        # consume loop (kinesumer.go:667-675, 685-688)
        self.stream_status = {name: "ACTIVE" for name in streams}
        self.riue_raised = 0
        self.consumer_riue = 0  # RegisterStreamConsumer name collisions raised
        # cap ListShards page size server-side (0 = honor MaxResults
        # only): forces NextToken pagination so wide topologies are
        # exercisable — the loop the reference runs at
        # kinesumer.go:323-342
        self.list_shards_page = 0
        self.lock = threading.Lock()
        # EFO consumer registry (O19): ConsumerARN -> doc. Registration
        # surfaces CREATING first; DescribeStreamConsumer flips it to
        # ACTIVE on the second describe, so consumers must run the real
        # poll-until-active loop the reference runs.
        self.consumers: dict[str, dict] = {}
        self._describes: dict[str, int] = {}
        self.efo_event_batch = 10  # records per SubscribeToShardEvent
        # cap events per subscription (0 = unlimited): a capped
        # subscription ends its event stream early — the wire analog of
        # AWS ending every SubscribeToShard after 5 minutes — so the
        # consumer must RESUBSCRIBE at the ContinuationSequenceNumber
        self.efo_max_events_per_sub = 0
        self.efo_subscriptions = 0  # observability: renewals must fire

    def _stream_arn(self, stream: str) -> str:
        return f"arn:aws:kinesis:us-east-1:000000000000:stream/{stream}"

    def _stream_of_arn(self, arn: str) -> str:
        return arn.rsplit("stream/", 1)[-1].split("/", 1)[0]

    # -- iterator tokens: base64(json) — opaque to clients, like AWS's ----
    def _token(self, stream: str, shard_id: str, idx: int) -> str:
        return base64.b64encode(
            json.dumps({"s": stream, "h": shard_id, "i": idx}).encode()
        ).decode()

    def _shard(self, stream: str, shard_id: str) -> tuple[int, _Shard]:
        shards = self.streams.get(stream)
        if shards is None:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        for idx, sh in enumerate(shards):
            if sh.shard_id == shard_id:
                return idx, sh
        raise _ApiError("ResourceNotFoundException", f"no shard {shard_id}")

    def dispatch(self, op: str, body: dict) -> dict:
        fn = getattr(self, f"op_{op}", None)
        if fn is None:
            raise _ApiError("UnknownOperationException", op)
        return fn(body)

    def _require_active(self, stream: str) -> None:
        if self.stream_status.get(stream, "ACTIVE") != "ACTIVE":
            with self.lock:
                self.riue_raised += 1
            raise _ApiError(
                "ResourceInUseException", f"stream {stream} not ACTIVE"
            )

    def op_DeleteStream(self, body: dict) -> dict:
        stream = body["StreamName"]
        if stream not in self.streams:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        self.stream_status[stream] = "DELETING"
        return {}

    def op_DescribeStream(self, body: dict) -> dict:
        """The name→ARN resolution step of the reference's EFO init
        (kinesumer.go:408-416: DescribeStream yields the StreamARN that
        RegisterStreamConsumer and ListStreamConsumers require)."""
        stream = body["StreamName"]
        shards = self.streams.get(stream)
        if shards is None:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        status = self.stream_status.get(stream, "ACTIVE")
        return {
            "StreamDescription": {
                "StreamName": stream,
                "StreamARN": self._stream_arn(stream),
                "StreamStatus": status,
                # topology rides ListShards (paginated); an empty list
                # with HasMoreShards=True would spin any legacy
                # DescribeStream enumeration loop forever
                "Shards": [],
                "HasMoreShards": False,
                "RetentionPeriodHours": 24,
                "StreamCreationTimestamp": 1700000000.0,
                "EnhancedMonitoring": [],
            }
        }

    def op_ListShards(self, body: dict) -> dict:
        # the real API contract: StreamName XOR NextToken — a token
        # encodes the stream and the resume position opaquely
        if "NextToken" in body:
            if "StreamName" in body:
                raise _ApiError(
                    "InvalidArgumentException",
                    "NextToken and StreamName cannot be provided together",
                )
            tok = json.loads(base64.b64decode(body["NextToken"]))
            stream, first = tok["s"], tok["i"]
        else:
            stream, first = body["StreamName"], 0
        self._require_active(stream)
        shards = self.streams.get(stream)
        if shards is None:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        page = int(body.get("MaxResults", 1000))
        if self.list_shards_page:
            page = min(page, self.list_shards_page)
        window = shards[first : first + page]
        out = []
        for sh in window:
            rng: dict = {
                "StartingSequenceNumber": (
                    sh.records[0]["SequenceNumber"]
                    if sh.records
                    else str(0).zfill(21)
                )
            }
            if sh.closed and sh.records:
                rng["EndingSequenceNumber"] = sh.records[-1]["SequenceNumber"]
            doc = {
                "ShardId": sh.shard_id,
                "HashKeyRange": {
                    "StartingHashKey": str(sh.hash_range[0]),
                    "EndingHashKey": str(sh.hash_range[1]),
                },
                "SequenceNumberRange": rng,
            }
            if sh.parent:
                doc["ParentShardId"] = sh.parent
            if sh.adjacent_parent:
                doc["AdjacentParentShardId"] = sh.adjacent_parent
            out.append(doc)
        resp: dict = {"Shards": out}
        if first + page < len(shards):
            resp["NextToken"] = base64.b64encode(
                json.dumps({"s": stream, "i": first + page}).encode()
            ).decode()
        return resp

    def op_GetShardIterator(self, body: dict) -> dict:
        stream = body["StreamName"]
        self._require_active(stream)
        shard_id = body["ShardId"]
        _pos, sh = self._shard(stream, shard_id)
        kind = body["ShardIteratorType"]
        if kind == "TRIM_HORIZON":
            idx = 0
        elif kind == "LATEST":
            idx = len(sh.records)
        elif kind == "AT_SEQUENCE_NUMBER":
            idx = sh.seq_index(body["StartingSequenceNumber"], after=False)
        elif kind == "AFTER_SEQUENCE_NUMBER":
            idx = sh.seq_index(body["StartingSequenceNumber"], after=True)
        else:
            raise _ApiError("InvalidArgumentException", kind)
        return {"ShardIterator": self._token(stream, shard_id, idx)}

    def op_GetRecords(self, body: dict) -> dict:
        with self.lock:
            self._calls += 1
            throttled = (
                self.throttle_every and self._calls % self.throttle_every == 0
            )
            self._gr_calls += 1
            expired = (
                self.expire_every
                and self._gr_calls % self.expire_every == 0
            )
        if throttled:
            raise _ApiError(
                "ProvisionedThroughputExceededException", "slow down"
            )
        if expired:
            raise _ApiError(
                "ExpiredIteratorException", "Iterator expired"
            )
        tok = json.loads(base64.b64decode(body["ShardIterator"]))
        stream, shard_id, idx = tok["s"], tok["h"], tok["i"]
        self._require_active(stream)
        _pos, sh = self._shard(stream, shard_id)
        limit = int(body.get("Limit", 10000))
        if self.max_page:
            limit = min(limit, self.max_page)
        with self.lock:  # PutRecords may be appending concurrently
            n = len(sh.records)
            hi = min(idx + limit, n)
            records = list(sh.records[idx:hi])
        out: dict = {"Records": records, "MillisBehindLatest": 0}
        if sh.closed and hi >= n:
            # closed shard fully consumed: the null iterator is the wire
            # signal the reference's CLOSED filter keys on (O3)
            out["NextShardIterator"] = None
        else:
            out["NextShardIterator"] = self._token(stream, shard_id, hi)
        return out

    def op_SplitShard(self, body: dict) -> dict:
        """Live resharding (public SplitShard semantics): close the
        parent and open two children covering its hash range either
        side of ``NewStartingHashKey``, each carrying ``ParentShardId``
        — the topology change the reference's syncShardInfo discovers
        on its next ListShards sweep. Subsequent PutRecords route to
        the children; the closed parent serves its remaining records
        until the null-iterator drain signal."""
        stream = body["StreamName"]
        shards = self.streams.get(stream)
        if shards is None:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        with self.lock:
            _pos, parent = self._shard(stream, body["ShardToSplit"])
            if parent.closed:
                raise _ApiError(
                    "InvalidArgumentException", "shard is not open"
                )
            split_at = int(body["NewStartingHashKey"])
            lo, hi = parent.hash_range
            if not (lo < split_at <= hi):
                raise _ApiError(
                    "InvalidArgumentException", "hash key outside shard range"
                )
            parent.closed = True
            nxt = (
                max(int(s.shard_id.rsplit("-", 1)[1]) for s in shards) + 1
            )
            shards.extend(
                [
                    _Shard(
                        f"shardId-{nxt:012d}",
                        parent=parent.shard_id,
                        hash_range=(lo, split_at - 1),
                    ),
                    _Shard(
                        f"shardId-{nxt + 1:012d}",
                        parent=parent.shard_id,
                        hash_range=(split_at, hi),
                    ),
                ]
            )
        return {}

    def op_MergeShards(self, body: dict) -> dict:
        """Live scale-in (public MergeShards semantics): close BOTH
        adjacent shards and open one child spanning their union hash
        range, carrying ``ParentShardId`` + ``AdjacentParentShardId``
        — the dual-lineage shape the reference's syncShardInfo reads.
        Subsequent PutRecords route to the child; each closed parent
        serves its remainder until its null-iterator drain signal, and
        a lineage-gating consumer must wait for BOTH."""
        stream = body["StreamName"]
        shards = self.streams.get(stream)
        if shards is None:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        with self.lock:
            _p, a = self._shard(stream, body["ShardToMerge"])
            _q, b = self._shard(stream, body["AdjacentShardToMerge"])
            if a.closed or b.closed:
                raise _ApiError(
                    "InvalidArgumentException", "shard is not open"
                )
            lo_sh, hi_sh = sorted((a, b), key=lambda s: s.hash_range[0])
            if lo_sh.hash_range[1] + 1 != hi_sh.hash_range[0]:
                raise _ApiError(
                    "InvalidArgumentException", "shards are not adjacent"
                )
            a.closed = True
            b.closed = True
            nxt = (
                max(int(s.shard_id.rsplit("-", 1)[1]) for s in shards) + 1
            )
            shards.append(
                _Shard(
                    f"shardId-{nxt:012d}",
                    parent=body["ShardToMerge"],
                    adjacent_parent=body["AdjacentShardToMerge"],
                    hash_range=(
                        lo_sh.hash_range[0],
                        hi_sh.hash_range[1],
                    ),
                )
            )
        return {}

    def op_PutRecords(self, body: dict) -> dict:
        """The producer half of the protocol: each record routes to the
        open shard owning MD5(PartitionKey) on the 128-bit hash ring —
        the real Kinesis placement algorithm (public API semantics) —
        and is assigned the stream's next monotonic sequence number."""
        import hashlib

        stream = body["StreamName"]
        self._require_active(stream)
        shards = self.streams.get(stream)
        if shards is None:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        results = []
        with self.lock:
            next_seq = (
                max(
                    (
                        int(sh.records[-1]["SequenceNumber"])
                        for sh in shards
                        if sh.records
                    ),
                    default=-1,
                )
                + 1
            )
            for rec in body["Records"]:
                self._put_entries += 1
                if (
                    self.put_fail_every
                    and self._put_entries % self.put_fail_every == 0
                ):
                    results.append(
                        {
                            "ErrorCode": (
                                "ProvisionedThroughputExceededException"
                            ),
                            "ErrorMessage": "rate exceeded",
                        }
                    )
                    continue
                h = int.from_bytes(
                    hashlib.md5(rec["PartitionKey"].encode()).digest(), "big"
                )
                owner = next(
                    (
                        sh
                        for sh in shards
                        if not sh.closed
                        and sh.hash_range[0] <= h <= sh.hash_range[1]
                    ),
                    None,
                )
                if owner is None:
                    results.append(
                        {
                            "ErrorCode": "InternalFailure",
                            "ErrorMessage": "no open shard owns key",
                        }
                    )
                    continue
                seq = str(next_seq).zfill(21)
                next_seq += 1
                owner.records.append(
                    {
                        "SequenceNumber": seq,
                        "ApproximateArrivalTimestamp": 1700000000.0,
                        "PartitionKey": rec["PartitionKey"],
                        "Data": rec["Data"],  # already base64 on the wire
                    }
                )
                results.append(
                    {"SequenceNumber": seq, "ShardId": owner.shard_id}
                )
        failed = sum(1 for r in results if "ErrorCode" in r)
        return {"FailedRecordCount": failed, "Records": results}

    # -- EFO registry (O19) + push scan (O2) --------------------------------

    def op_RegisterStreamConsumer(self, body: dict) -> dict:
        stream = self._stream_of_arn(body["StreamARN"])
        if stream not in self.streams:
            raise _ApiError("ResourceNotFoundException", f"no stream {stream}")
        name = body["ConsumerName"]
        arn = f"{self._stream_arn(stream)}/consumer/{name}:1700000001"
        # real-service contract: registering a name that already exists
        # on the stream is ResourceInUseException — the caller recovers
        # by adopting the existing consumer via ListStreamConsumers
        # (kinesumer.go:425-449). The old fake silently re-created the
        # doc, resetting an ACTIVE consumer to CREATING (r10). The
        # membership check and the insert share ONE lock hold so two
        # concurrent same-name registrations can't both pass the check
        # (ThreadingHTTPServer: every op can race).
        with self.lock:
            if arn in self.consumers:
                self.consumer_riue += 1
                raise _ApiError(
                    "ResourceInUseException",
                    f"consumer {name} already exists on {stream}",
                )
            doc = {
                "ConsumerName": name,
                "ConsumerARN": arn,
                "ConsumerStatus": "CREATING",
                "ConsumerCreationTimestamp": 1700000001.0,
            }
            self.consumers[arn] = doc
            self._describes[arn] = 0
        return {"Consumer": dict(doc)}

    def op_DescribeStreamConsumer(self, body: dict) -> dict:
        arn = body.get("ConsumerARN")
        if arn is None:
            stream = self._stream_of_arn(body["StreamARN"])
            name = body["ConsumerName"]
            # same snapshot-under-API-lock discipline as the listing op:
            # Register/Deregister mutate the dict concurrently (r11
            # second review — the listing fix missed this sibling path)
            with self.lock:
                arn = next(
                    (
                        a
                        for a, d in self.consumers.items()
                        if d["ConsumerName"] == name
                        and self._stream_of_arn(a) == stream
                    ),
                    None,
                )
        doc = self.consumers.get(arn)
        if doc is None:
            raise _ApiError("ResourceNotFoundException", f"no consumer {arn}")
        with self.lock:
            self._describes[arn] += 1
            if self._describes[arn] >= 2:
                doc["ConsumerStatus"] = "ACTIVE"
        out = dict(doc)
        out["StreamARN"] = self._stream_arn(self._stream_of_arn(arn))
        return {"ConsumerDescription": out}

    def op_ListStreamConsumers(self, body: dict) -> dict:
        """Paginated like the real API: MaxResults (default 20) caps the
        page and NextToken resumes after the last returned consumer.
        StreamARN stays required on token pages (ListStreamConsumers has
        no StreamName-xor-NextToken contract — that is ListShards)."""
        stream = self._stream_of_arn(body["StreamARN"])
        # snapshot under the API lock: Register/Deregister mutate the
        # dict under self.lock and ThreadingHTTPServer interleaves ops —
        # an unlocked iteration can die mid-listing (r11 review)
        # Sort by ConsumerName, not ARN: the NextToken resume below scans
        # for the first ConsumerName > token, and ARN order (name + ':' +
        # timestamp) diverges from bare-name order when one name is a
        # prefix of another ('foo-2' < 'foo:...' byte-wise), which could
        # skip consumers across a page boundary (r11 advisory).
        with self.lock:
            all_consumers = sorted(
                (
                    dict(d)
                    for a, d in self.consumers.items()
                    if self._stream_of_arn(a) == stream
                ),
                key=lambda d: d["ConsumerName"],
            )
        start = 0
        token = body.get("NextToken")
        if token:
            # token = consumer name to resume strictly after. Resume at
            # the first name GREATER than the token (the listing is
            # name-sorted), not at an exact match: if the token's
            # consumer was deregistered between pages, an exact-match
            # fallback to end-of-list would silently drop every
            # remaining consumer (r11 second review).
            start = next(
                (
                    i
                    for i, d in enumerate(all_consumers)
                    if d["ConsumerName"] > token
                ),
                len(all_consumers),
            )
        limit = int(body.get("MaxResults", 20))
        page = all_consumers[start : start + limit]
        out: dict = {"Consumers": page}
        if start + limit < len(all_consumers):
            out["NextToken"] = page[-1]["ConsumerName"]
        return out

    def op_DeregisterStreamConsumer(self, body: dict) -> dict:
        arn = body["ConsumerARN"]
        with self.lock:
            if arn not in self.consumers:
                raise _ApiError(
                    "ResourceNotFoundException", f"no consumer {arn}"
                )
            del self.consumers[arn]
        return {}

    def op_SubscribeToShard(self, body: dict):
        """Returns ("eventstream", payload_bytes) — the handler streams
        it with the eventstream content type. The event split (a few
        records per SubscribeToShardEvent, each carrying the
        ContinuationSequenceNumber to resume AT) is the push-pacing the
        reference's EFO loop consumes (O2)."""
        arn = body["ConsumerARN"]
        doc = self.consumers.get(arn)
        if doc is None:
            raise _ApiError("ResourceNotFoundException", f"no consumer {arn}")
        if doc["ConsumerStatus"] != "ACTIVE":
            raise _ApiError(
                "ResourceInUseException", f"consumer {arn} not ACTIVE"
            )
        stream = self._stream_of_arn(arn)
        self._require_active(stream)  # EFO data plane honors DELETING too
        _pos, sh = self._shard(stream, body["ShardId"])
        pos_type = body["StartingPosition"]["Type"]
        if pos_type == "TRIM_HORIZON":
            idx = 0
        elif pos_type == "LATEST":
            idx = len(sh.records)
        elif pos_type == "AT_SEQUENCE_NUMBER":
            idx = sh.seq_index(
                body["StartingPosition"]["SequenceNumber"], after=False
            )
        elif pos_type == "AFTER_SEQUENCE_NUMBER":
            idx = sh.seq_index(
                body["StartingPosition"]["SequenceNumber"], after=True
            )
        else:
            raise _ApiError("InvalidArgumentException", pos_type)
        with self.lock:
            records = list(sh.records[idx:])
            self.efo_subscriptions += 1
        payload = _ES_INITIAL
        step = self.efo_event_batch
        chunks = [
            records[i : i + step] for i in range(0, len(records), step)
        ] or [[]]
        if self.efo_max_events_per_sub:
            # end the subscription early (AWS's 5-minute lease, O2):
            # the last emitted event still carries the continuation the
            # consumer must renew from
            chunks = chunks[: self.efo_max_events_per_sub]
        for chunk in chunks:
            # continuation = the sequence to resume AT next (AWS contract)
            last_in_chunk = chunk[-1]["SequenceNumber"] if chunk else None
            if last_in_chunk is not None:
                nxt = sh.seq_index(last_in_chunk, after=True)
                cont = (
                    sh.records[nxt]["SequenceNumber"]
                    if nxt < len(sh.records)
                    else str(int(last_in_chunk) + 1).zfill(21)
                )
            elif idx < len(sh.records):
                cont = sh.records[idx]["SequenceNumber"]
            elif sh.records:
                # at the tip: continuation = next EXPECTED sequence, so
                # a renewing consumer idles there — never replays
                cont = str(int(sh.records[-1]["SequenceNumber"]) + 1).zfill(21)
            else:
                cont = str(0).zfill(21)
            payload += _es_event(
                "SubscribeToShardEvent",
                {
                    "Records": chunk,
                    "ContinuationSequenceNumber": cont,
                    "MillisBehindLatest": 0,
                },
            )
        return ("eventstream", payload)


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self) -> None:  # noqa: N802 - http.server contract
        length = int(self.headers.get("Content-Length", 0))
        body = json.loads(self.rfile.read(length) or b"{}")
        op = self.headers.get("X-Amz-Target", "").split(".")[-1]
        try:
            doc = self.server.api.dispatch(op, body)  # type: ignore[attr-defined]
            code = 200
        except _ApiError as e:
            doc = {"__type": e.type, "message": e.message}
            code = 400
        if isinstance(doc, tuple) and doc[0] == "eventstream":
            data = doc[1]
            ctype = "application/vnd.amazon.eventstream"
        else:
            data = json.dumps(doc).encode()
            ctype = "application/x-amz-json-1.1"
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args) -> None:  # silence per-request stderr spam
        pass


class FakeKinesisServer:
    """Localhost wire endpoint; ``with FakeKinesisServer({...}) as url:``."""

    def __init__(self, streams: dict[str, list[_Shard]]) -> None:
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.api = _KinesisApi(streams)  # type: ignore[attr-defined]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def api(self) -> _KinesisApi:
        return self._httpd.api  # type: ignore[attr-defined]

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address
        return f"http://{host}:{port}"

    def __enter__(self) -> "FakeKinesisServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def _split_ranges(n: int) -> list[tuple[int, int]]:
    step = _HASH_SPACE // n
    return [
        (i * step, (i + 1) * step - 1 if i < n - 1 else _HASH_SPACE - 1)
        for i in range(n)
    ]


def simple_stream(
    name: str = "wire", n_shards: int = 4, per_shard: int = 50
) -> dict[str, list[_Shard]]:
    shards = [
        _Shard(f"shardId-{s:012d}", per_shard, hash_range=rng)
        for s, rng in enumerate(_split_ranges(n_shards))
    ]
    for pos, sh in enumerate(shards):
        sh._prefill(name, pos)
    return {name: shards}


def open_stream(name: str = "wire", n_shards: int = 4) -> dict:
    """Empty open shards — the producer-side (PutRecords) topology."""
    return {
        name: [
            _Shard(f"shardId-{s:012d}", 0, hash_range=rng)
            for s, rng in enumerate(_split_ranges(n_shards))
        ]
    }


def resharded_stream(name: str = "wire", per_shard: int = 20) -> dict:
    """A post-split topology: closed parent, two open children carrying
    ``ParentShardId`` — the lineage shape the reference reads from
    ListShards (syncclient.go) and this engine's gate consumes."""
    parent = _Shard("shardId-000000000000", per_shard, closed=True)
    half = _HASH_SPACE // 2
    kids = [
        _Shard(
            f"shardId-{i:012d}",
            per_shard,
            parent=parent.shard_id,
            hash_range=rng,
        )
        for i, rng in zip((1, 2), [(0, half - 1), (half, _HASH_SPACE - 1)])
    ]
    shards = [parent, *kids]
    for pos, sh in enumerate(shards):
        sh._prefill(name, pos)
    return {name: shards}


# ---------------------------------------------------------------------------
# boto3 client + lineage mapping
# ---------------------------------------------------------------------------


def wire_client(endpoint: str):
    """Real boto3 Kinesis client pointed at the localhost endpoint —
    botocore does the signing, (de)serialization, blob base64 decode,
    and standard-mode retries (throttling included)."""
    import boto3
    from botocore.config import Config

    return boto3.client(
        "kinesis",
        region_name="us-east-1",
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
        endpoint_url=endpoint,
        config=Config(
            retries={"mode": "standard", "max_attempts": 8},
            connect_timeout=5,
            read_timeout=10,
        ),
    )


def register_efo_consumer(client, stream: str, name: str) -> str:
    """The reference's FULL EFO registry init (O19,
    kinesumer.go:372-470), returns the ConsumerARN:

    1. DescribeStream resolves the stream name to its ARN (the registry
       APIs take ARNs, not names — kinesumer.go:408-416).
    2. RegisterStreamConsumer; an already-registered name raises
       ResourceInUseException, recovered by ADOPTING the existing
       consumer via ListStreamConsumers(MaxResults=20) + name match
       (kinesumer.go:425-449) — the branch that makes a consumer-group
       restart (or a second client of the same app) idempotent instead
       of fatal.
    3. Poll DescribeStreamConsumer until ACTIVE, bounded
       (kinesumer.go:378-405; an adopted consumer is typically ACTIVE
       on the first poll)."""
    from botocore.exceptions import ClientError

    stream_arn = client.describe_stream(StreamName=stream)[
        "StreamDescription"
    ]["StreamARN"]
    try:
        arn = client.register_stream_consumer(
            StreamARN=stream_arn, ConsumerName=name
        )["Consumer"]["ConsumerARN"]
    except ClientError as e:
        if e.response["Error"]["Code"] != "ResourceInUseException":
            raise
        # page through the full consumer listing — the service cap is
        # currently 20 consumers/stream, but the adoption branch must
        # not silently miss the target if that cap rises (or the fake
        # is configured with more)
        arn = None
        kwargs: dict = {"StreamARN": stream_arn, "MaxResults": 20}
        while arn is None:
            page = client.list_stream_consumers(**kwargs)
            arn = next(
                (
                    c["ConsumerARN"]
                    for c in page["Consumers"]
                    if c["ConsumerName"] == name
                ),
                None,
            )
            token = page.get("NextToken")
            if arn is not None or not token:
                break
            # unlike ListShards (StreamName xor NextToken,
            # kinesumer.go:305-344), ListStreamConsumers keeps
            # StreamARN required on every page
            kwargs = {
                "StreamARN": stream_arn,
                "NextToken": token,
                "MaxResults": 20,
            }
        if arn is None:
            # eventually-consistent listing, or the consumer was
            # deregistered between our RIUE and the list — surface a
            # retryable error with context instead of StopIteration
            raise RuntimeError(
                f"consumer {name} raised ResourceInUseException but is "
                f"absent from ListStreamConsumers on {stream}; retry "
                "registration"
            ) from e
    import time as _time

    # real registrations take seconds to go CREATING → ACTIVE and
    # DescribeStreamConsumer is throttled (20 TPS) — back off between
    # polls (the reference sleeps 1 s flat, kinesumer.go:380-404); the
    # fake flips ACTIVE on the second describe, so the local cost is
    # one 0.1 s sleep
    for attempt in range(50):
        desc = client.describe_stream_consumer(ConsumerARN=arn)[
            "ConsumerDescription"
        ]
        if desc["ConsumerStatus"] == "ACTIVE":
            return arn
        _time.sleep(min(2.0, 0.1 * (2 ** min(attempt, 5))))
    raise TimeoutError(f"consumer {arn} never became ACTIVE")


def list_all_shards(client, stream: str) -> list[dict]:
    """The reference's paginated shard listing (kinesumer.go:305-344):
    ListShards pages via NextToken — the API contract forbids passing
    StreamName with a token — until the topology is fully enumerated.
    A 1000-shard stream is several pages; stopping at page one would
    silently consume a prefix of the topology."""
    out = client.list_shards(StreamName=stream)
    shards = list(out["Shards"])
    while "NextToken" in out:
        out = client.list_shards(NextToken=out["NextToken"])
        shards.extend(out["Shards"])
    return shards


def drain_via_efo(
    endpoint: str, stream: str, consumer_name: str = "drain"
) -> list[tuple]:
    """The reference's EFO push loop (O2) over the wire: register,
    wait-for-ACTIVE, subscribe per shard, consume pushed events, then
    RESUBSCRIBE from the ContinuationSequenceNumber (the reference
    renews its subscription every lease; here the resubscribe proves
    continuation semantics — the second subscription must deliver
    nothing new on a finite feed)."""
    client = wire_client(endpoint)
    arn = register_efo_consumer(client, stream, consumer_name)
    rows = []
    try:
        for s in list_all_shards(client, stream):
            position = {"Type": "TRIM_HORIZON"}
            for _round in range(2):  # initial subscription + renewal
                resp = client.subscribe_to_shard(
                    ConsumerARN=arn,
                    ShardId=s["ShardId"],
                    StartingPosition=position,
                )
                cont = None
                for ev in resp["EventStream"]:
                    e = ev["SubscribeToShardEvent"]
                    for rec in e["Records"]:
                        rows.append(
                            (
                                s["ShardId"],
                                rec["SequenceNumber"],
                                rec["PartitionKey"],
                                json.loads(bytes(rec["Data"]).decode())["k"],
                            )
                        )
                    cont = e["ContinuationSequenceNumber"]
                if cont is None:
                    break
                position = {
                    "Type": "AT_SEQUENCE_NUMBER",
                    "SequenceNumber": cont,
                }
    finally:
        client.deregister_stream_consumer(ConsumerARN=arn)
    return rows


def lineage_from_list_shards(client, stream: str) -> dict:
    """ListShards → the Engine's reshard-lineage map
    ``{(stream, child_shard): [(parent_shard, parent_ending_seq)]}``
    (engine.py Engine._lineage). Only CLOSED parents gate: an open
    parent has no EndingSequenceNumber yet, so its children cannot be
    admitted before it anyway (they hold no data until the split)."""
    shards = list_all_shards(client, stream)
    ending = {
        s["ShardId"]: s["SequenceNumberRange"].get("EndingSequenceNumber")
        for s in shards
    }
    lineage: dict = {}
    for s in shards:
        for parent in (
            s.get("ParentShardId"),
            s.get("AdjacentParentShardId"),  # merge child's second parent
        ):
            if parent and ending.get(parent) is not None:
                lineage.setdefault((stream, s["ShardId"]), []).append(
                    (parent, ending[parent])
                )
    return lineage


# ---------------------------------------------------------------------------
# The polling source: O1's scan loop as a Python streaming DataSource
# whose data path is the wire
# ---------------------------------------------------------------------------


class _WireSlice(InputPartition):
    def __init__(
        self, shard_id: str, after_seq: str | None, end_seq: str
    ) -> None:
        self.shard_id = shard_id
        self.after_seq = after_seq  # exclusive start (None = TRIM_HORIZON)
        self.end_seq = end_seq  # inclusive end


class KinesumerWireStreamReader(DataSourceStreamReader):
    """Per-shard offset map (the ShardCheckPoint row set) with
    GetRecords-paced advancement, all state JSON-picklable: boto3
    clients are created lazily per use and NEVER stored on self (the
    reader is serialized to executors for read()).

    Who reads what: in polling mode the driver's tip probe fetches each
    record once and keeps it as the batch's data (served through
    ``KinesumerWirePollingReader``); executors read only to replay a
    WAL-logged batch whose prefetched records are gone (a restart).
    In EFO mode Spark drives this class directly: the probe only paces
    the batch boundary and executors read the committed range through
    SubscribeToShard."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.endpoint = options["endpoint"]
        self.stream = options.get("stream", "wire")
        self.scan_limit = int(options.get("scanlimit", 25))
        # mode=polling (default): the planner's tip probe is the read,
        # once, on the driver. mode=efo: the probe only paces the batch
        # boundary (admission control) and executors read the committed
        # range as SubscribeToShard push events (O2)
        self.mode = options.get("mode", "polling")
        self.consumer_arn = options.get("consumerarn", "")
        # lineagegate=true adds the reshard admission rule the reference
        # leaves open (``TODO(mingrammer): handle the closed shards``,
        # kinesumer.go:314): a child shard's records are not admitted
        # until its CLOSED parent is fully drained, so per-key order
        # survives a split/merge boundary. Planner-side only — O(#shards)
        # driver state, zero executor cost. Multi-client contract: when
        # the `shards` ownership filter can place a closed parent on a
        # DIFFERENT client, the drain signal must be externally visible
        # — set dynamoendpoint so the gate reads the parent's committed
        # checkpoint (== EndingSequenceNumber, or the KCL-style
        # SHARD_END sentinel) from the shared state store; without a
        # store, lineagegate requires parent and child in the same
        # assignment slice (see _parent_drained).
        self.lineage_gate = (
            str(options.get("lineagegate", "false")).lower() == "true"
        )
        # dynamoendpoint + app: seed the starting cursor from the
        # DynamoDB wire state store's committed checkpoints — the
        # reference's restart path (syncclient.go:146 ListCheckPoints →
        # kinesumer.go:575 resume AFTER the stored sequence number). A
        # fresh consumer group (no checkpoint rows) degrades to
        # TRIM_HORIZON per shard.
        self.dynamo_endpoint = options.get("dynamoendpoint", "")
        self.app = options.get("app", "app")
        self.state_table = options.get("statetable", "kinesumer-state")
        # shards=<comma-separated ids>: this consumer's ASSIGNED slice —
        # the reference's range-partition assignment (O5) makes each
        # client read only its own shards; an empty option means "all"
        # (single-consumer mode). Planner-side filter, zero executor
        # cost.
        raw = options.get("shards", "")
        self.shard_filter = (
            frozenset(s.strip() for s in raw.split(",") if s.strip())
            or None
        )

    def _visible(self, shards: list[dict]) -> list[dict]:
        if self.shard_filter is None:
            return shards
        return [s for s in shards if s["ShardId"] in self.shard_filter]

    def initialOffset(self) -> dict:
        from botocore.exceptions import ClientError

        client = wire_client(self.endpoint)
        try:
            shards = self._visible(list_all_shards(client, self.stream))
        except ClientError as e:
            if e.response["Error"]["Code"] != "ResourceInUseException":
                raise
            # stream already non-ACTIVE at query start: freeze from
            # birth (empty shard map, no partitions ever) — a union's
            # sibling sources still flow
            self._stream_dead = True
            return {}
        committed: dict[str, str] = {}
        # a stale `shards` assignment can match zero shards after a
        # reshard shrinks the topology — start idle (the next assignment
        # refresh restarts the query with a live slice) rather than
        # letting the state store's ErrEmptyShardIDs fail the start
        if self.dynamo_endpoint and shards:
            committed = self._state_store().list_check_points(
                self.stream, [s["ShardId"] for s in shards]
            )
        # "" = nothing consumed yet (TRIM_HORIZON on first read); a
        # committed sequence number resumes AFTER it (exactly-once
        # across consumer restarts via the external store); the
        # SHARD_END sentinel (written by commit() when a closed shard
        # fully drained) restores as the drained cursor (None) — it is
        # not a sequence number and must never feed a shard iterator
        return {
            s["ShardId"]: (
                None
                if committed.get(s["ShardId"]) == "SHARD_END"
                else committed.get(s["ShardId"], "")
            )
            for s in shards
        }

    def _learn_wal_position(self, *offset_dicts: dict) -> None:
        """Track the strongest position the WAL has ever shown us: the
        max sequence per shard across every partitions() argument, plus
        the closed-and-drained sentinel (None) — a shard the WAL says
        is drained must never be re-probed from TRIM_HORIZON."""
        high = getattr(self, "_wal_high", {})
        closed = getattr(self, "_wal_closed", set())
        for src in offset_dicts:
            for sid, s in src.items():
                if s is None:
                    closed.add(sid)
                elif s != "" and s > high.get(sid, ""):
                    high[sid] = s
        self._wal_high = high
        self._wal_closed = closed

    def _heal_cursor_from_wal(self) -> None:
        """Seed/advance the probe cursor from the WAL position: a
        rebuilt cursor that probes from behind the WAL would emit an
        offsets-log entry whose follow-up batch replays committed
        records; a WAL-drained shard (None) stays drained."""
        for sid in getattr(self, "_wal_closed", set()):
            self._cursor[sid] = None
        for sid, s in getattr(self, "_wal_high", {}).items():
            cur = self._cursor.get(sid)
            if cur is not None and cur < s:
                self._cursor[sid] = s

    def latestOffset(self) -> dict:
        return self.advance()

    def advance(
        self, start: dict | None = None, keep: list | None = None
    ) -> dict:
        """One planning round; returns the new per-shard cursor.

        ``start`` sets the cursor the round probes from (the simple
        reader protocol hands Spark's offset in; None continues from
        the reader's own cursor).

        The tip probe IS a GetRecords scan (there is no "what's the tip"
        API in Kinesis — consumers discover it by reading): each round
        advances every shard by ≤ scanLimit records, exactly the
        reference's paced loop. With ``keep`` the round's records are
        appended to it as rows — polling mode's whole data path, each
        record fetched once. Without it (EFO) the records are dropped
        and executors fetch the committed range; Kinesis reads are
        replayable by design, which is also what lets a restart replay
        a WAL-logged batch on executors."""
        # A stream that went non-ACTIVE (ResourceInUseException — e.g.
        # DELETING under the consumer) is FROZEN, not fatal: the
        # reference exits that stream's consume loop and the client
        # lives on (kinesumer.go:667-675 "closed" return, 685-688).
        # Here the planner stops advancing its offsets — no new
        # partitions — so sibling sources in a unioned query keep
        # flowing; records already committed stay delivered. Sticky by
        # design, like the reference's loop exit. The guard covers the
        # FIRST probe too (initialOffset's ListShards can be the call
        # that discovers the deletion).
        if start is not None:
            self._cursor = dict(start)
        if getattr(self, "_stream_dead", False):
            return dict(getattr(self, "_cursor", {}))
        from botocore.exceptions import ClientError

        before = None
        try:
            if not hasattr(self, "_cursor"):
                self._cursor = self.initialOffset()
                # WAL-restart heal (Spark probes the restored offset
                # through partitions() before the first plan)
                self._heal_cursor_from_wal()
            before = dict(self._cursor)
            return self._probe_tips(keep)
        except ClientError as e:
            if e.response["Error"]["Code"] != "ResourceInUseException":
                raise
            self._stream_dead = True
            # deletion can land MID-probe-round: shards probed before
            # the fault already advanced the cursor, but committing
            # those ranges would promise records the round never
            # finished collecting (or, in EFO, schedule executor reads
            # against a data plane that is gone). Freeze at the
            # PRE-round snapshot and drop the partial round's rows —
            # nothing delivered is lost, nothing undeliverable promised.
            self._cursor = before if before is not None else {}
            if keep is not None:
                keep.clear()
            return dict(self._cursor)

    def _state_store(self):
        """Planner-side DynamoStateStore, constructed ONCE per reader:
        construction is not free (boto3 client + the reference's
        DescribeTable reachability ping, statestore.go:61-63), and the
        gate/commit paths run every planning round."""
        store = getattr(self, "_store", None)
        if store is None:
            from kinesumer_spark.sources.dynamo_wire import DynamoStateStore

            store = DynamoStateStore(
                self.dynamo_endpoint, self.app, table=self.state_table
            )
            self._store = store
        return store

    def _parent_drained(self, parent_id: str) -> bool:
        """Is a CLOSED parent shard fully consumed, so its children may
        be admitted?

        Three cases:
        - parent in OUR cursor map: drained iff our cursor holds the
          closed-and-drained sentinel (None) — the single-client path.
        - parent owned by ANOTHER client (ownership filter excludes it)
          and a DynamoDB state store is configured: drained iff that
          store's committed checkpoint for the parent is the KCL-style
          ``SHARD_END`` sentinel — which the owning reader's commit()
          writes itself once the drained shard's records are durably
          committed (one batch after drain; see commit()) — or reached
          its EndingSequenceNumber (length-then-lex; satisfiable only
          by app-level committers on feeds whose last record's sequence
          IS the ending sequence — real Kinesis sequence numbers are
          sparse in the shard range, so SHARD_END is the real-service
          path, r10 review).
        - foreign parent with NO state store: there is no cross-client
          drain signal at all, so lineagegate cannot order across the
          boundary — documented contract: lineagegate without
          dynamoendpoint requires parent and child in the same
          assignment slice; the child is admitted immediately.

        Drain is sticky (a drained shard never un-drains), so positive
        foreign lookups are cached — steady-state cost is zero; a
        not-yet-drained foreign parent costs one 1-key BatchGetItem per
        planning round, bounded by the number of in-flight reshards."""
        if parent_id in self._cursor:
            return self._cursor.get(parent_id) is None
        if not self.dynamo_endpoint:
            return True
        drained = getattr(self, "_foreign_drained", set())
        self._foreign_drained = drained
        if parent_id in drained:
            return True
        committed = self._state_store().list_check_points(
            self.stream, [parent_id]
        ).get(parent_id)
        ending = getattr(self, "_ending", {}).get(parent_id)
        ok = committed is not None and (
            committed == "SHARD_END"
            or (
                ending is not None
                and (len(committed), committed) >= (len(ending), ending)
            )
        )
        if ok:
            drained.add(parent_id)
        return ok

    def _row(self, shard_id: str, rec: dict) -> tuple:
        # Data is the raw payload blob; the consumer decodes it
        # schema-on-read, as the reference's application does
        payload = json.loads(bytes(rec["Data"]).decode())
        return (
            self.stream,
            shard_id,
            rec["SequenceNumber"],
            rec["PartitionKey"],
            int(payload["k"]),
        )

    def _probe_tips(self, keep: list | None = None) -> dict:
        client = wire_client(self.endpoint)
        # Every planning round re-lists the topology — the reference's
        # syncShardInfo sweep (syncclient.go): shards born from a LIVE
        # SplitShard/MergeShards enter the cursor map here (O18 refresh),
        # and the lineage table rebuilds so a freshly-closed parent
        # starts gating its children the same round. One ListShards per
        # microbatch — O(#shards) driver work, no executor cost.
        all_shards = list_all_shards(client, self.stream)
        shards = self._visible(all_shards)
        for s in shards:
            self._cursor.setdefault(s["ShardId"], "")
        if self.lineage_gate:
            # Only CLOSED parents gate (EndingSequenceNumber present):
            # an open parent has no post-split children data to order
            # against, and blocking on it would deadlock the stream.
            #
            # Lineage maps come from the UNFILTERED topology: with a
            # `shards` ownership filter, a child's closed parent can be
            # assigned to ANOTHER client — building the maps from only
            # our slice made such a parent invisible and silently
            # dropped the split/merge ordering guarantee in multi-client
            # mode (r9 advisory).
            self._ending = {
                s["ShardId"]: s["SequenceNumberRange"].get(
                    "EndingSequenceNumber"
                )
                for s in all_shards
            }
            # A merge child carries TWO parents (ParentShardId +
            # AdjacentParentShardId) and must wait for BOTH to drain.
            self._parents = {}
            for s in all_shards:
                gating = [
                    p
                    for p in (
                        s.get("ParentShardId"),
                        s.get("AdjacentParentShardId"),
                    )
                    if p and self._ending.get(p) is not None
                ]
                if gating:
                    self._parents[s["ShardId"]] = gating
        for shard_id, last in self._cursor.items():
            if last is None:
                continue  # closed shard fully drained
            if self.lineage_gate:
                # a parent absent from the cursor map (trimmed past
                # retention) gates nothing — matches KCL semantics
                # defer child admission until EVERY closed parent drains
                # (a merge child has two); parents iterate first
                # (ListShards order), so the child unblocks in the same
                # planner round its last parent is marked drained,
                # admitting its first records in the NEXT microbatch —
                # strictly after every parent row
                if any(
                    not self._parent_drained(p)
                    for p in self._parents.get(shard_id, ())
                ):
                    continue
            from botocore.exceptions import ClientError

            # the probe acquires a FRESH iterator every round, so an
            # expired iterator only means the fault landed between the
            # two calls — re-acquire and retry, bounded (the reference's
            # same invalidate-and-restart, kinesumer.go:689-693)
            for attempt in range(5):
                if last == "":
                    it = client.get_shard_iterator(
                        StreamName=self.stream,
                        ShardId=shard_id,
                        ShardIteratorType="TRIM_HORIZON",
                    )["ShardIterator"]
                else:
                    it = client.get_shard_iterator(
                        StreamName=self.stream,
                        ShardId=shard_id,
                        ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                        StartingSequenceNumber=last,
                    )["ShardIterator"]
                try:
                    out = client.get_records(
                        ShardIterator=it, Limit=self.scan_limit
                    )
                    break
                except ClientError as e:
                    if (
                        e.response["Error"]["Code"]
                        != "ExpiredIteratorException"
                        or attempt == 4
                    ):
                        raise
            if out["Records"]:
                self._cursor[shard_id] = out["Records"][-1]["SequenceNumber"]
                if keep is not None:
                    keep.extend(self._row(shard_id, r) for r in out["Records"])
            if out.get("NextShardIterator") is None and not out["Records"]:
                self._cursor[shard_id] = None  # CLOSED + drained (O3)
        return dict(self._cursor)

    def partitions(self, start: dict, end: dict):
        # Track the WAL position — max sequence AND the drained
        # sentinel, starts and ends alike (on restart the FIRST call
        # is a probe with the restored offset as both) — and heal the
        # probe cursor with it: a fresh reader rebuilds its cursor
        # from TRIM_HORIZON, and emitting an offsets-log entry BEHIND
        # the WAL would make the batch planned from that stale entry
        # REPLAY committed records (a drained-closed shard would
        # replay WHOLE). The learned position is only a cursor seed,
        # never a slice clamp: a replayed uncommitted batch arrives as
        # (start, end) below the high and must be delivered verbatim —
        # clamping it would LOSE the batch (its first run never
        # committed). Cost of the heal: one wasted probe round per
        # restart; the dynamoendpoint option seeds the cursor from
        # external checkpoints and avoids even that.
        self._learn_wal_position(start, end)
        if hasattr(self, "_cursor"):
            self._heal_cursor_from_wal()
        out = []
        for shard_id, end_seq in end.items():
            if end_seq in ("", None):
                continue
            start_seq = start.get(shard_id, "") or ""
            if end_seq <= start_seq:  # vacuous or stale-probe range
                continue
            out.append(
                _WireSlice(shard_id, start_seq or None, end_seq)
            )
        return out

    def read(self, partition: _WireSlice):
        client = wire_client(self.endpoint)
        if self.mode == "efo":
            yield from self._read_efo(client, partition)
            return
        from botocore.exceptions import ClientError

        last_seq = partition.after_seq

        def acquire() -> str:
            # re-acquire from the last delivered sequence — the
            # reference's expired-iterator recovery (kinesumer.go:689-693:
            # invalidate the cached iterator, restart from checkpoint)
            if last_seq is None:
                return client.get_shard_iterator(
                    StreamName=self.stream,
                    ShardId=partition.shard_id,
                    ShardIteratorType="TRIM_HORIZON",
                )["ShardIterator"]
            return client.get_shard_iterator(
                StreamName=self.stream,
                ShardId=partition.shard_id,
                ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                StartingSequenceNumber=last_seq,
            )["ShardIterator"]

        end = partition.end_seq
        it = acquire()
        stale = 0  # consecutive-expiry bound: progress resets it, a
        # persistently-expiring endpoint fails the task instead of
        # livelocking the executor (Spark then retries the task)
        while it is not None:
            try:
                out = client.get_records(ShardIterator=it, Limit=10000)
                stale = 0
            except ClientError as e:
                if (
                    e.response["Error"]["Code"]
                    == "ExpiredIteratorException"
                ):
                    stale += 1
                    if stale > 10:
                        raise
                    it = acquire()
                    continue
                raise
            for rec in out["Records"]:
                seq = rec["SequenceNumber"]
                if seq > end:  # zero-padded: lexicographic == numeric
                    return
                yield self._row(partition.shard_id, rec)
                last_seq = seq
                if seq == end:
                    return
            it = out.get("NextShardIterator")

    def _read_efo(self, client, partition: _WireSlice):
        """The EFO push path in the executor: SubscribeToShard events
        consumed off the event stream until the committed range end —
        the reference's O2 loop (push records + continuation) with the
        planner still owning the batch boundary.

        A subscription that ends before the range end is NOT done —
        AWS ends every SubscribeToShard after 5 minutes — so the loop
        RENEWS at the last event's ContinuationSequenceNumber (AWS
        contract: the sequence to resume AT), exactly the reference's
        EFO renewal. A renewal that delivers no progress counts toward
        a stale bound: a persistently-dead subscription fails the task
        (Spark's task retry is the escalation), never livelocks."""
        if partition.after_seq is None:
            position = {"Type": "TRIM_HORIZON"}
        else:
            position = {
                "Type": "AFTER_SEQUENCE_NUMBER",
                "SequenceNumber": partition.after_seq,
            }
        end = partition.end_seq
        stale = 0
        while True:
            resp = client.subscribe_to_shard(
                ConsumerARN=self.consumer_arn,
                ShardId=partition.shard_id,
                StartingPosition=position,
            )
            cont = None
            progressed = False
            for ev in resp["EventStream"]:
                e = ev["SubscribeToShardEvent"]
                for rec in e["Records"]:
                    seq = rec["SequenceNumber"]
                    if seq > end:
                        return
                    yield self._row(partition.shard_id, rec)
                    progressed = True
                    if seq == end:
                        return
                cont = e["ContinuationSequenceNumber"]
            stale = 0 if progressed else stale + 1
            if cont is None or stale > 10:
                raise RuntimeError(
                    f"EFO subscription for {partition.shard_id} ended "
                    f"before committed end {end} with no continuation "
                    f"progress (stale={stale})"
                )
            position = {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": cont}

    def commit(self, end: dict) -> None:
        """Spark's WAL owns the per-query checkpoint, so nothing is
        written for ordinary progress. ONE external write remains: when
        a closed shard is fully drained AND its records are durably
        committed (this callback fires after the batch is), record the
        KCL-style ``SHARD_END`` sentinel in the shared state store.
        Against real Kinesis a drained parent's data checkpoints can
        NEVER reach its EndingSequenceNumber (record sequence numbers
        are sparse in the shard's sequence range; consumers detect
        shard end via NextShardIterator == null, not seq comparison),
        so without this write the cross-client lineage gate
        (_parent_drained) would block a foreign child forever. Written
        once per shard, idempotent under replay."""
        if not self.dynamo_endpoint:
            return
        done = getattr(self, "_shard_end_written", set())
        self._shard_end_written = done
        drained = [
            sid for sid, s in end.items() if s is None and sid not in done
        ]
        if not drained:
            return
        self._state_store().update_check_points(
            [
                {
                    "stream": self.stream,
                    "shard_id": sid,
                    "sequence_number": "SHARD_END",
                }
                for sid in drained
            ]
        )
        done.update(drained)


class KinesumerWirePollingReader(SimpleDataSourceStreamReader):
    """Polling mode through Spark's simple stream reader protocol: the
    planner's tip probe is the read. ``read(start)`` runs one
    ``advance`` round from Spark's offset and returns the round's
    records as ONE Arrow batch with the new cursor; Spark moves the
    batch into the driver's block manager, so a microbatch runs no
    Python read task and each record crosses the wire once.
    ``readBetweenOffsets`` is the cache miss — a WAL-logged batch
    replayed after a restart — and reads the range on an executor
    through the shard slices of ``KinesumerWireStreamReader``. Listing,
    lineage gate, deletion freeze, Dynamo seeding, ownership filter
    and the SHARD_END commit all stay in that one reader."""

    def __init__(self, schema: StructType, options: dict) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        self._reader = KinesumerWireStreamReader(schema, options)
        self._arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        return self._reader.initialOffset()

    def read(self, start: dict):
        import pyarrow as pa

        rows: list[tuple] = []
        end = self._reader.advance(start, rows)
        if not rows:
            return iter(()), end
        columns = [list(c) for c in zip(*rows)]
        batch = pa.record_batch(columns, schema=self._arrow_schema)
        return iter([batch]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        r = self._reader
        for part in r.partitions(start, end):
            yield from r.read(part)

    def commit(self, end: dict) -> None:
        self._reader.commit(end)


class _WirePutResult(WriterCommitMessage):
    def __init__(self, n_ok: int, n_retried: int, n_calls: int) -> None:
        self.n_ok = n_ok
        self.n_retried = n_retried
        self.n_calls = n_calls


class KinesumerWirePutWriter(DataSourceWriter):
    """The producer half over the wire: each executor batches its rows
    into PutRecords calls of ≤500 entries (the AWS per-call cap) and
    retries ONLY the failed subset — the AWS partial-failure contract:
    the call itself succeeds with ``FailedRecordCount > 0`` and
    per-entry ``ErrorCode``s, botocore does NOT retry (it only retries
    failed CALLS), so resubmitting failed entries is the producer's
    job. Bounded attempts with backoff; a partition that cannot drain
    its failures fails the task (Spark's task retry escalates).

    Semantics match AWS producers: at-least-once under task retry
    (PutRecords is not transactional — a re-run task resubmits rows
    already placed by the failed attempt), per-key shard placement via
    the MD5 hash ring, no cross-call ordering guarantee. The reference
    is a consumer library; its own test harness produces the feed with
    exactly this call (kinesumer_test.go:117-128).

    Scale: executors stream rows straight onto the wire — no driver
    collect, no staging; state per task is one pending-entries buffer
    of at most ``batchsize`` rows."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.endpoint = options["endpoint"]
        self.stream = options.get("stream", "wire")
        self.key_col = options.get("keycolumn", "partition_key")
        self.data_col = options.get("datacolumn", "data")
        self.batch_size = min(int(options.get("batchsize", 500)), 500)
        self.max_attempts = int(options.get("maxattempts", 8))

    def _flush(self, client, entries: list) -> tuple[int, int]:
        import time

        pending = entries
        retried = calls = 0
        for attempt in range(self.max_attempts):
            resp = client.put_records(
                StreamName=self.stream, Records=pending
            )
            calls += 1
            if not resp.get("FailedRecordCount"):
                return retried, calls
            pending = [
                pending[i]
                for i, r in enumerate(resp["Records"])
                if "ErrorCode" in r
            ]
            retried += len(pending)
            if attempt < self.max_attempts - 1:  # no sleep before raise
                time.sleep(0.01 * (2**attempt))  # 10ms..1.3s over 8 tries
        raise RuntimeError(
            f"{len(pending)} records still throttled after "
            f"{self.max_attempts} PutRecords attempts"
        )

    def write(self, iterator) -> _WirePutResult:
        client = wire_client(self.endpoint)
        buf: list = []
        n_ok = n_retried = n_calls = 0
        for row in iterator:
            buf.append(
                {
                    "PartitionKey": row[self.key_col],
                    "Data": row[self.data_col].encode(),
                }
            )
            if len(buf) >= self.batch_size:
                r, c = self._flush(client, buf)
                n_ok += len(buf)
                n_retried += r
                n_calls += c
                buf = []
        if buf:
            r, c = self._flush(client, buf)
            n_ok += len(buf)
            n_retried += r
            n_calls += c
        return _WirePutResult(n_ok, n_retried, n_calls)

    def commit(self, messages) -> None:  # wire placement IS the commit
        pass

    def abort(self, messages) -> None:  # nothing staged to clean up
        pass


class KinesumerWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesumer_wire"

    def schema(self) -> str:
        return _DDL

    def streamReader(self, schema: StructType) -> KinesumerWireStreamReader:
        # polling has no partitioned reader: Spark then falls back to
        # simpleStreamReader, whose probe round is the read
        if self.options.get("mode", "polling") != "efo":
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "polling streamReader"},
            )
        return KinesumerWireStreamReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType):
        return KinesumerWirePollingReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return KinesumerWirePutWriter(schema, self.options)


def register_wire_source(spark) -> None:
    spark.dataSource.register(KinesumerWireDataSource)


def drain_via_wire(
    endpoint: str, stream: str, scan_limit: int = 10000
) -> list[tuple]:
    """Driver-side reference consume loop (no Spark): the literal O1
    polling algorithm over the wire — used by tests to cross-check the
    Spark source against a direct protocol walk."""
    client = wire_client(endpoint)
    rows = []
    for s in list_all_shards(client, stream):
        it = client.get_shard_iterator(
            StreamName=stream,
            ShardId=s["ShardId"],
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        while it is not None:
            out = client.get_records(ShardIterator=it, Limit=scan_limit)
            for rec in out["Records"]:
                rows.append(
                    (
                        s["ShardId"],
                        rec["SequenceNumber"],
                        rec["PartitionKey"],
                        json.loads(bytes(rec["Data"]).decode())["k"],
                    )
                )
            if not out["Records"]:
                # tip of an open shard (a real poller sleeps and retries;
                # the test feed is finite) or the closed-shard null
                # iterator — either way this shard is drained
                break
            it = out.get("NextShardIterator")
    return rows
