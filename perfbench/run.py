"""Repo benchmark: one workload per invocation, in fresh processes.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # every workload, tiny sizes

Workloads (``BENCHMARK.json`` records why each was chosen):

- ``stream``: the program's PutRecords writer places a key-skewed
  backlog on a benchmark-owned wire endpoint; a fresh
  ``Engine.consume`` + ``Engine.run`` consumer catches it up from
  TRIM_HORIZON; then an open-loop generator sends ~1,000 records/s and
  the consumer tails the live stream for ``--seconds`` and at least
  ``MIN_TAIL_BATCHES`` microbatches (``latency_p50_ms`` and
  ``latency_p90_ms``: due time to sink, per record); finally a second, fresh consumer group re-drains the whole
  stream from TRIM_HORIZON in the warmed-up session
  (``throughput_per_s``: records per second).
- ``batch``: the 15 headline registry rows and the JVM-state TTL
  admission row, each built through its registry callable and fetched
  with ``toPandas()`` in a fixed order in one fresh session: one untimed
  warm pass, then timed passes until ``--seconds`` have passed (at least
  one); every row of the first timed pass is then compared with its
  DuckDB oracle (latencies: per row; throughput: rows per second;
  per-layer totals: per timed pass).

The launcher generates the inputs from ``--seed`` (the program gets
only those), starts the endpoint process for ``stream``, starts the
workload process (``workload.py``) with host-sized settings, samples
the resident memory of its process tree, stops every process it
started, and prints the result as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the full per-layer table is written to
``.perfbench_work/out/`` and printed above the last line.

Everything the benchmark writes stays under ``.perfbench_work/`` at the
checkout root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from datagen import write_tables  # noqa: E402
from workload import ADMIT, BUDGET_S, HEADLINE, MIN_TAIL_BATCHES  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# the workload's own budget plus set-up; with process shutdown, a run
# ends within 180 s
RUN_BUDGET_S = BUDGET_S + 60

# per-workload sizes: (full run, smoke run)
SIZES = {
    "stream": (
        {"backlog": 15000, "rate": 1000.0, "settle": 3.0, "min_batches": MIN_TAIL_BATCHES},
        {"backlog": 300, "rate": 200.0, "settle": 0.5, "min_batches": 3},
    ),
    "batch": ({"sf": 0.001}, {"sf": 0.001}),
}

# the metric names and units this benchmark prints: BENCHMARK.json at
# the checkout root is the one place they are declared
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
# per-layer metrics present on every workload; the full table, with the
# workload-specific layers, goes to the table file
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _child_env(run_dir: str) -> dict:
    """Host-sized, bounded settings; every scratch path inside the
    checkout."""
    cache = os.path.join(WORK, "cache")
    tmp = os.path.join(run_dir, "tmp")
    scratch = os.path.join(run_dir, "scratch")
    for d in (cache, tmp, scratch):
        os.makedirs(d, exist_ok=True)
    heap_gb = min(max(int(_mem_total_mb() / 1024 * 0.25), 1), 8)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(_nproc()),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_SCRATCH=scratch,
        XDG_CACHE_HOME=cache,
        AWS_CONFIG_FILE=os.path.join(run_dir, "aws_config"),
        AWS_SHARED_CREDENTIALS_FILE=os.path.join(run_dir, "aws_credentials"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(proc: subprocess.Popen, grace: float) -> None:
    """Wait for ``proc`` and everything in its process group to end,
    escalating to SIGTERM and then SIGKILL after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None and _group_alive(proc.pid):
            os.killpg(proc.pid, sig)
            deadline = time.monotonic() + 5
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            proc.poll()
            time.sleep(0.05)
        if not _group_alive(proc.pid):
            break
    proc.wait()


class RssSampler(threading.Thread):
    """Peak summed RSS of one process group (driver, JVM, workers)."""

    def __init__(self, pgid: int) -> None:
        super().__init__(daemon=True)
        self.pgid = pgid
        self.peak_kb = 0
        self.halt = threading.Event()
        self.page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def run(self) -> None:
        while not self.halt.is_set():
            total = 0
            for pid in os.listdir("/proc"):
                if not pid.isdigit():
                    continue
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        stat = f.read()
                    if int(stat.rsplit(")", 1)[1].split()[2]) != self.pgid:
                        continue
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self.page_kb
                except (OSError, IndexError, ValueError):
                    continue  # the process ended while we read it
            self.peak_kb = max(self.peak_kb, total)
            self.halt.wait(0.1)


def _sentinel_ms() -> float:
    """Host speed mark: the time of a fixed pure-Python loop. It moves
    when the host gets slower or faster, not when the program changes."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1e3


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        return "unknown"


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def _prime_jar_cache(env: dict) -> None:
    """Build step: compile the JVM admission operator into the checkout's
    jar cache once, so no timed run pays javac."""
    if glob.glob(os.path.join(WORK, "cache", "ksjvm", "ksjvm_*.jar")):
        return
    subprocess.run(
        [sys.executable, "-c",
         "from kinesumer_spark.jvm import jvm_state_supported; jvm_state_supported()"],
        env=env, cwd=ROOT, timeout=600, check=False,
        stdout=sys.stderr, stderr=sys.stderr,
    )


def _stream_phases(progress: list[dict], prefix: str, per: int = 1) -> tuple[dict, list[dict]]:
    """Per-microbatch phase durations (Spark's ``durationMs``) over
    batches that carried rows: counts and sums divided by ``per``,
    medians and shares as they are."""
    last = {}
    for p in progress:
        last[(p["runId"], p["batchId"])] = p  # the last event of a batch wins
    batches = [p for p in last.values() if p.get("numInputRows", 0) > 0]

    def dur(key: str) -> list[float]:
        return [p.get("durationMs", {}).get(key, 0) for p in batches]

    trig = dur("triggerExecution")
    out = {
        f"{prefix}.batches": len(batches) / per,
        f"{prefix}.trigger_ms": statistics.median(trig) if trig else 0.0,
        f"{prefix}.trigger_p90_ms": (
            statistics.quantiles(trig, n=10, method="inclusive")[8]
            if len(trig) > 1 else sum(trig)
        ),
        f"{prefix}.latest_offset_ms": sum(dur("latestOffset")) / per,
        f"{prefix}.get_batch_ms": sum(dur("getBatch")) / per,
        f"{prefix}.plan_ms": sum(dur("queryPlanning")) / per,
        f"{prefix}.add_batch_ms": sum(dur("addBatch")) / per,
        f"{prefix}.wal_ms": sum(dur("walCommit")) / per,
        f"{prefix}.commit_offsets_ms": sum(dur("commitOffsets")) / per,
        f"{prefix}.rows_per_batch": statistics.median(
            [p["numInputRows"] for p in batches]
        ) if batches else 0.0,
    }
    if sum(trig):  # how much of the trigger the named phases account for
        out[f"{prefix}.phases_share_of_trigger"] = sum(
            sum(dur(k)) for k in PHASES
        ) / sum(trig)
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    if ops:
        final = {}
        for p in batches:
            for i, op in enumerate(p.get("stateOperators", [])):
                final[(p["runId"], i)] = op
        out.update(
            {
                "state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops) / per,
                "state.rows_total": sum(op.get("numRowsTotal", 0) for op in final.values()),
                "state.memory_mb": sum(op.get("memoryUsedBytes", 0) for op in final.values()) / 2**20,
                "state.rows_removed": sum(op.get("numRowsRemoved", 0) for op in ops) / per,
            }
        )
        zips = [
            op["customMetrics"]["rocksdbSaveZipFilesLatencyMs"]
            for op in ops
            if "rocksdbSaveZipFilesLatencyMs" in op.get("customMetrics", {})
        ]
        if zips:
            out["state.rocksdb_zip_ms"] = sum(zips) / per
    return out, batches


def _layer_table(wl: str, child: dict, ep: dict | None) -> dict:
    """The per-layer table of one traced run: totals per run for
    ``stream``, per timed pass for ``batch``."""
    L = dict(child["layers"])
    by_group = child["exec_run_s_by_group"]
    progress = child["progress"]
    per = 1
    if wl == "batch":
        # the timed passes only: progress of batches triggered after the
        # warm pass
        since = child["timed_from_epoch_s"]
        progress = [
            p for p in progress
            if datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() >= since
        ]
        per = child["detail"]["passes"]
    phases, batches = _stream_phases(progress, "stream", per)
    L.update(phases)
    if wl == "stream":
        # the consumer of the catch-up and the tail (the re-drain is a
        # second query with its own batch ids)
        ts = child["trace_stream"]
        sink_s = ts["sink_s"]
        main = [p for p in batches if p["runId"] == ts["run_id"]]
        probe = [p["durationMs"].get("latestOffset", 0) for p in main]
        add = {str(p["batchId"]): p["durationMs"].get("addBatch", 0) for p in main}
        over = [add[b] - sink_s[b] * 1e3 for b in add if b in sink_s]
        L.update(
            {
                "wire.probe_ms_median": statistics.median(probe),
                "wire.probe_ms_sum": sum(probe),
                "engine.deliver_ms_median": statistics.median(add.values()),
                "engine.overhead_ms_median": statistics.median(over),
                "engine.overhead_ms_sum": sum(over),
                "produce.task_s": by_group.get("produce", 0.0),
            }
        )
        d = child["detail"]
        L["produce.rps"] = d["produce_rps"]
        L["tail.backlog_max"] = d["tail_backlog_max"]
        L["backfill.catchup_cold_rps"] = d["catchup_cold_rps"]
        L["backfill.local1_rps"] = d["backfill_local1_rps"]
        for op, c in sorted(ep["ops"].items()):
            L[f"endpoint.{op}.calls"] = c["calls"]
            L[f"endpoint.{op}.busy_s"] = c["busy_s"]
        L["endpoint.records_out"] = ep["records_out"]
        gen = ep["loadgen"]
        L["produce.put_calls"] = ep["ops"]["PutRecords"]["calls"] - gen["calls"]
        L["produce.entries_retried"] = ep["put_failed"] - gen["entries_retried"]
        L["loadgen.sent"] = gen["sent"]
        L["loadgen.late_max_ms"] = gen["late_max_ms"]
        L["wire.fetch_amplification"] = ep["records_out"] / ts["delivered"]
    else:
        first = {n: r[0] for n, r in child["detail"]["rows"].items()}
        for group, names in (("analytics", HEADLINE), ("admit", ADMIT)):
            L[f"{group}.build_s"] = sum(first[n]["build_s"] for n in names)
            L[f"{group}.exec_s"] = sum(first[n]["exec_s"] for n in names)
            L[f"{group}.build_jobs"] = sum(first[n]["build_jobs"] for n in names)
        for n, r in first.items():
            for k in ("build_s", "exec_s", "build_jobs"):
                L[f"row.{n}.{k}"] = r[k]
        for t, sec in child["read_table_s"].items():
            L[f"catalog.read_table_s.{t}"] = sec
        admit, _ = _stream_phases(
            [p for p in progress if "admit" in (p.get("name") or "")], "admit", per
        )
        L["admit.batches"] = admit["admit.batches"]
        L["admit.trigger_ms"] = admit["admit.trigger_ms"]
    return L


def run_once(wl: str, seed: int, seconds: float, trace: int, smoke: bool) -> int:
    if not os.path.isdir(os.path.join(ROOT, "kinesumer_spark")):
        return _fail(f"no kinesumer_spark package under {ROOT}; run from a repo checkout")
    if shutil.which("java") is None:
        return _fail("java is not on PATH; Spark needs a JDK")
    size = SIZES[wl][1 if smoke else 0]
    run_dir = os.path.join(WORK, f"run-{wl}-{seed}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = _child_env(run_dir)
    procs: list[subprocess.Popen] = []
    try:
        _prime_jar_cache(env)
        t_launch = time.monotonic()
        load_before = os.getloadavg()[0]
        sentinel_before = _sentinel_ms()
        args = [
            "--workload", wl, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", run_dir,
            "--out", os.path.join(run_dir, "result.json"),
        ]
        ep_proc = None
        if wl == "stream":
            control = os.path.join(run_dir, "control")
            os.makedirs(control)
            ep_proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "endpoint.py"), "--control", control,
                 "--seed", str(seed), "--rate", str(size["rate"])],
                env=env, cwd=run_dir, stdin=subprocess.PIPE,
                stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
            )
            procs.append(ep_proc)
            args += ["--control", control, "--backlog", str(size["backlog"]),
                     "--settle", str(size["settle"]), "--min-batches", str(size["min_batches"])]
        else:
            data = write_tables(os.path.join(run_dir, "data"), size["sf"], seed)
            args += ["--data", data]
        # flush the writeback (and discards) left by generated inputs and
        # earlier runs, so they do not land inside this run's timings
        os.sync()
        t_spawn = time.monotonic()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"), *args,
             "--spawn-mono", repr(t_spawn)],
            env=env, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
            start_new_session=True,
        )
        procs.append(child)
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=max(RUN_BUDGET_S - (t_spawn - t_launch), 10))
        except subprocess.TimeoutExpired:
            code = None
        sampler.halt.set()
        sampler.join()
        _stop_group(child, grace=10 if code is not None else 0)
        ep = None
        if ep_proc is not None:
            with open(os.path.join(control, "stop"), "w"):
                pass
            ep_proc.stdin.close()
            _stop_group(ep_proc, grace=10)
            stats = os.path.join(control, "endpoint_stats.json")
            if os.path.exists(stats):
                with open(stats) as f:
                    ep = json.load(f)
        if code != 0:
            return _fail(
                f"workload process {'timed out' if code is None else f'exited with {code}'}"
            )
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        load_after = os.getloadavg()[0]
        sentinel_after = _sentinel_ms()
        e2e = dict(res["e2e"])
        e2e["setup_s"] = res["setup_s"]
        e2e["rss_peak_mb"] = sampler.peak_kb / 1024
        host = {
            "nproc": _nproc(),
            "mem_total_mb": round(_mem_total_mb()),
            "heap": env["SPARK_GRAFT_DRIVER_MEM"],
            "scratch_mode": res["host"]["scratch_base"],
            "load1_before": load_before,
            "load1_after": load_after,
            "sentinel_ms_before": sentinel_before,
            "sentinel_ms_after": sentinel_after,
            "git_commit": _git_commit(),
            "java": _java_version(),
            **res["host"],
        }
        if ep is not None:
            host["loadgen_late_max_ms"] = ep.get("loadgen", {}).get("late_max_ms")
        detail = {
            "workload": wl, "seed": seed, "seconds": seconds, "trace": trace,
            "smoke": smoke, "host": host, "e2e": e2e,
            "detail": {k: v for k, v in res["detail"].items() if k != "rows"},
            "problems": res["problems"],
        }
        print(json.dumps({"detail": detail}))
        size_tag = "smoke" if smoke else "full"
        tag = f"{wl}-{size_tag}-seed{seed}"
        if trace:
            layers = _layer_table(wl, res, ep)
            last = os.path.join(out_dir, f"{wl}-{size_tag}-untraced.json")
            overhead = None
            if os.path.exists(last):
                with open(last) as f:
                    base = json.load(f)["e2e"]
                overhead = {k: e2e[k] / base[k] - 1 for k in e2e if base.get(k)}
            table = {
                **detail, "layers": layers, "tracing_overhead": overhead,
                "spans": res["spans"],
            }
            with open(os.path.join(out_dir, f"{tag}-trace.json"), "w") as f:
                json.dump(table, f, indent=1)
            for k in sorted(layers):
                print(f"layer {k:48s} {layers[k]:.6g}" if isinstance(layers[k], float)
                      else f"layer {k:48s} {layers[k]}")
            print(f"tracing overhead vs last untraced {wl} run: {overhead}")
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            with open(os.path.join(out_dir, f"{wl}-{size_tag}-untraced.json"), "w") as f:
                json.dump(detail, f)
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
        correct = res["failed"] == 0 and not res["problems"]
        print(json.dumps({
            "correct": correct,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        for p in procs:
            if p.poll() is None or _group_alive(p.pid):
                _stop_group(p, grace=0)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="repo benchmark (see module docstring)")
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload, run every workload traced and untraced")
    a = ap.parse_args(argv)
    # a launcher stopped from outside still runs its cleanup (finally)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    if a.workload:
        return run_once(a.workload, a.seed, a.seconds, a.trace, a.smoke)
    if not a.smoke:
        ap.error("--workload is required unless --smoke is given")
    worst = 0
    for wl in sorted(SIZES):
        for trace in (0, 1):
            worst = max(worst, run_once(wl, a.seed, 2, trace, True))
    return worst


if __name__ == "__main__":
    sys.exit(main())
