"""Benchmark of the live MQTT -> warehouse path, driven from outside.

Each run starts the real daemon, ``python -m mqtt2clickhouse_spark``,
with its default flags (only the broker address, the warehouse and the
metrics file are given), against ``loadgen.py`` in a separate process
acting as its MQTT broker.  It reads each layer from outside: the
broker's view of the wire, the daemon's ``--metrics`` progress records,
the checkpoint and warehouse on disk, and, with ``--trace 1``, spans
that ``tracing.py`` records around the program's public calls.

    python3 perfbench/run.py --workload ingest_paced --seed 1 --seconds 15 --trace 0

Workloads:
  ingest_backlog  the generator offers messages as fast as the daemon
                  takes them: ~1,000 Zipf-popular sensors, ~5% rejects.
                  The backlog holds ``--seconds`` of load at the default
                  flags' cap (300 messages per 5 s trigger).
  ingest_paced    an open-loop schedule at 40 msg/s for ``--seconds``
                  over 20 sensors created during warm-up; no rejects.

Timeline of a run: launch -> warm-up, batch 0 committed (``setup_s``)
-> the load starts at a fixed phase of the daemon's trigger grid ->
the backlog is committed, or the schedule ends and every message it
sent is committed (or the run stalls) -> SIGTERM -> the warehouse is
scanned with pyarrow (``warehouse.scan_ms_per_krow``) and checked
against the generator's expected routing.

The last line of stdout is the result; the line before it carries the
full detail (every metric of both kinds, run conditions, stalls).
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import loadgen  # noqa: E402  (the benchmark's own module)

WORKLOADS = ("ingest_backlog", "ingest_paced")
END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "1/s",
    "commit_latency_p50_s": "s",
    "commit_latency_p99_s": "s",
}
PER_LAYER = {
    "daemon.peak_rss_mb": "MB",
    "daemon.cpu_s": "s",
    "warehouse.scan_ms_per_krow": "ms",
    "warehouse.files": "count",
    "wire.puback_lag_p50_s": "s",
    "wire.puback_lag_p99_s": "s",
    "wire.send_blocked_s": "s",
    "wire.generator_lag_p99_s": "s",
    "wire.sessions": "count",
    "source.read_calls": "count",
    "source.read_s_p50": "s",
    "source.read_s_p99": "s",
    "source.rows_per_read_p50": "count",
    "source.buffer_depth_p50": "count",
    "source.replay_calls": "count",
    "pipeline.batches": "count",
    "pipeline.rows_per_batch_p50": "count",
    "pipeline.latest_offset_s_p50": "s",
    "pipeline.query_planning_s_p50": "s",
    "pipeline.add_batch_s_p50": "s",
    "pipeline.add_batch_s_p99": "s",
    "pipeline.wal_commit_s_p50": "s",
    "pipeline.commit_offsets_s_p50": "s",
    "pipeline.trigger_busy_frac": "1",
    "pipeline.progress_missing": "count",
    "sink.foreach_batch_s_p50": "s",
    "sink.foreach_batch_s_p99": "s",
    "sink.census_collect_s_p50": "s",
    "sink.accepted_write_s_p50": "s",
    "sink.dead_letter_write_s_p50": "s",
    "sink.registry_save_s_p50": "s",
    "sink.spark_jobs_per_batch": "count",
    "sink.files_per_batch": "count",
    "sink.accepted_rows": "count",
    "sink.dead_letter_rows": "count",
    "sink.new_tables": "count",
    "session.start_s": "s",
    "session.first_batch_s": "s",
    "trace.path_gap_s_p50": "s",
}

RUN_LIMIT_S = 170.0  # every run ends inside three minutes
SETUP_LIMIT_S = 90.0  # daemon launch -> first commit
TRIGGER_S = 5.0  # the daemon's default --trigger
# The load starts this long after (paced) or before (backlog) a trigger
# of the daemon's grid, so every run splits it into batches the same
# way; the backlog's first batch is full as it starts.
LOAD_PHASE_S = {"ingest_paced": 0.5, "ingest_backlog": -0.3}
# That trigger is at least this long after batch 0's commit: the daemon
# polls the source for 1 s right after it, and load arriving during that
# poll would start a batch off the grid.
GRID_LEAD_S = 2.0
STALL_S = 30.0  # six triggers without a commit = the daemon stalled
READ_RESERVE_S = 20.0  # oracle and scans after the daemon is gone
SAMPLE_TABLES = 16
SCAN_REPS = 5


def pct(values, q: float) -> float:
    """Nearest-rank percentile; 0.0 for no samples."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, int(-(-q * len(vals) // 100)) - 1))
    return float(vals[k])


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def wall_minus_mono() -> float:
    return statistics.median(time.time() - time.monotonic() for _ in range(9))


# -- processes -----------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, session id, comm) for every live (non-zombie)
    process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), int(fields[3]), comm)
    return out


def descendants(pid: int) -> list[tuple[int, str]]:
    table = _proc_table()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        for c, (pp, _, comm) in table.items():
            if pp == p:
                found.append((c, comm))
                frontier.append(c)
    return found


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of the processes, plus that of their reaped
    children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def end_group(proc: subprocess.Popen, term_timeout: float) -> bool:
    """SIGTERM the leader and wait; then SIGKILL every process left in
    its session (Spark's Python workers make process groups of their
    own, but stay in the session) and wait until none is left.  True if
    the leader exited on SIGTERM."""
    clean = True
    if proc.poll() is None:
        try:
            os.kill(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=term_timeout)
        except subprocess.TimeoutExpired:
            clean = False
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        left = [p for p, (_, sid, _) in _proc_table().items() if sid == proc.pid]
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is not None and not left:
            break
        time.sleep(0.1)
    proc.wait()
    return clean


class LineReader:
    """Lines of a child's stdout, read on a thread so waits can time out."""

    def __init__(self, stream) -> None:
        self.lines: queue.Queue = queue.Queue()
        self._t = threading.Thread(target=self._pump, args=(stream,), daemon=True)
        self._t.start()

    def _pump(self, stream) -> None:
        for line in stream:
            self.lines.put(line.strip())
        self.lines.put(None)

    def expect(self, prefix: str, timeout: float) -> str:
        deadline = time.monotonic() + timeout
        while True:
            line = self.lines.get(timeout=max(0.01, deadline - time.monotonic()))
            if line is None:
                raise RuntimeError(f"load generator exited before {prefix!r}")
            if line.startswith(prefix):
                return line[len(prefix) :].strip()


# -- checkpoint ------------------------------------------------------------------


class Checkpoint:
    """Committed batches, read from the streaming checkpoint on disk:
    ``commits/<id>`` exists once batch ``id`` committed (its mtime is
    the commit time) and ``offsets/<id>`` ends with the source offset."""

    def __init__(self, path: Path, offset: float) -> None:
        self.path = path
        self.offset = offset  # wall - monotonic
        self.batches: dict[int, tuple[float, int]] = {}  # id -> (commit, end seq)

    def poll(self) -> None:
        commits = self.path / "commits"
        if not commits.is_dir():
            return
        for name in os.listdir(commits):
            if not name.isdigit() or int(name) in self.batches:
                continue
            b = int(name)
            try:
                mtime = (commits / name).stat().st_mtime_ns / 1e9
                end = json.loads((self.path / "offsets" / name).read_text().splitlines()[-1])
            except (OSError, ValueError, IndexError):
                continue
            self.batches[b] = (mtime - self.offset, int(end["seq"]))

    def ordered(self) -> list[tuple[int, float, int]]:
        return [(b, *self.batches[b]) for b in sorted(self.batches)]

    @property
    def committed(self) -> int:
        return max((e for _, e in self.batches.values()), default=0)


# -- correctness --------------------------------------------------------------------


def classify(topic: str, payload: str) -> tuple[str | None, tuple | None]:
    """The daemon's parse rules, restated: (reject reason, parsed row)."""
    parts = topic.split("/")
    if not topic.startswith("/") or len(parts) < 5:
        return "invalid_topic", None
    try:
        obj = json.loads(payload)
    except ValueError:
        return "invalid_json", None
    if not isinstance(obj, dict) or "value" not in obj:
        return "missing_value", None
    v = obj["value"]
    if isinstance(v, bool) or not isinstance(v, (int, float, str)):
        return "unsupported_type", None
    vtype = "String" if isinstance(v, str) else "Float64"
    value = v if vtype == "String" else float(v)
    return None, (parts[-1], parts[1], parts[2], vtype, value)


def expected_routing(msgs: list[tuple[str, str]]) -> dict:
    """Route messages in send order; a table's type is its first valid
    message's type, later readings of the other type are dead-lettered.
    Each reject is keyed as its ``_dead_letter`` row will read."""
    types: dict[str, str] = {}
    accepted: dict[int, tuple] = {}
    rejects: dict[int, tuple] = {}
    for seq, (topic, payload) in enumerate(msgs):
        reason, row = classify(topic, payload)
        if reason:
            rejects[seq] = (reason, topic, payload)
            continue
        table, _, _, vtype, _ = row
        types.setdefault(table, vtype)
        if types[table] == vtype:
            accepted[seq] = row
        else:
            rejects[seq] = ("schema_mismatch", table)
    return {"accepted": accepted, "rejects": rejects}


def scan_warehouse(warehouse: Path, sample: list[str]) -> dict:
    """One pass over the warehouse with pyarrow: each sampled table by
    its ``table_name`` partition, then ``readings`` and ``_dead_letter``
    in full."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    out = {}
    readings = warehouse / "readings"
    if readings.is_dir():
        part = ds.partitioning(pa.schema([("table_name", pa.string())]), flavor="hive")
        data = ds.dataset(str(readings), format="parquet", partitioning=part)
        for t in sample:
            out[t] = data.to_table(filter=ds.field("table_name") == t)
        out["readings"] = data.to_table()
    dead = warehouse / "_dead_letter"
    if dead.is_dir():
        out["_dead_letter"] = ds.dataset(str(dead), format="parquet").to_table()
    return out


def timed_scans(warehouse: Path, sample: list[str]) -> tuple[float, list[float], dict]:
    """Median of ``SCAN_REPS`` passes after one untimed pass."""
    times, tables = [], {}
    for _ in range(SCAN_REPS + 1):
        t = time.monotonic()
        tables = scan_warehouse(warehouse, sample)
        times.append(time.monotonic() - t)
    return statistics.median(times[1:]), times[1:], tables


def check_warehouse(tables: dict, exp: dict, committed: int) -> dict:
    """Compare the warehouse and ``_dead_letter`` with the expected
    routing: every accepted row once, on its table, with its value; the
    dead letters per reason.  Messages at or past ``committed`` have no
    confirmed commit: they count once, as uncommitted, and whatever of
    them reached the warehouse is neither missing nor extra."""
    problems = collections.Counter()
    seen: set[int] = set()
    if "readings" in tables:
        tbl = tables["readings"]
        cols = {c: tbl.column(c).to_pylist() for c in
                ("seq", "table_name", "client", "device", "value_type", "value_num", "value_str")}
        for i, seq in enumerate(cols["seq"]):
            if seq >= committed:
                continue
            if seq in seen:
                problems["duplicated"] += 1
                continue
            seen.add(seq)
            want = exp["accepted"].get(seq)
            vtype = cols["value_type"][i]
            got = (cols["table_name"][i], cols["client"][i], cols["device"][i], vtype,
                   cols["value_num"][i] if vtype == "Float64" else cols["value_str"][i])
            if want is None:
                problems["unexpected_row"] += 1
            elif got != want:
                problems["misrouted"] += 1
    problems["missing"] += sum(1 for seq in exp["accepted"] if seq < committed and seq not in seen)

    got_dead = collections.Counter()
    if "_dead_letter" in tables:
        tbl = tables["_dead_letter"]
        for topic, payload, reason in zip(tbl.column("topic").to_pylist(),
                                          tbl.column("payload").to_pylist(),
                                          tbl.column("reject_reason").to_pylist()):
            if reason == "schema_mismatch":
                got_dead[(reason, topic.rsplit("/", 1)[-1])] += 1
            else:
                got_dead[(reason, topic, payload)] += 1
    want_committed = collections.Counter(k for seq, k in exp["rejects"].items() if seq < committed)
    want_sent = collections.Counter(exp["rejects"].values())
    problems["dead_letter_missing"] += sum((want_committed - got_dead).values())
    problems["dead_letter_extra"] += sum((got_dead - want_sent).values())
    problems["uncommitted"] += max(0, len(exp["accepted"]) + len(exp["rejects"]) - committed)
    by_reason = collections.Counter()
    for key, n in got_dead.items():
        by_reason[key[0]] += n
    return {"problems": {k: v for k, v in problems.items() if v},
            "dead_by_reason": dict(by_reason)}


# -- metrics ----------------------------------------------------------------------


def read_progress(path: Path) -> dict[int, dict]:
    out: dict[int, dict] = {}
    if not path.exists():
        return out
    for line in path.read_text().splitlines():
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if rec.get("event") == "progress" and rec.get("numInputRows", 0) > 0:
            out.setdefault(int(rec["batchId"]), rec)
    return out


def read_spans(trace: Path) -> tuple[list[dict], list[dict]]:
    driver, reader = [], []
    if (trace / "driver.json").exists():
        driver = json.loads((trace / "driver.json").read_text())["spans"]
    for f in sorted(trace.glob("reader-*.jsonl")):
        reader += [json.loads(x) for x in f.read_text().splitlines() if x.strip()]
    return driver, reader


def event_log_jobs(trace: Path, offset: float) -> list[float]:
    """Submission times (monotonic) of every Spark job in the event log."""
    times = []
    for f in (trace / "eventlog").rglob("*"):
        if not f.is_file():
            continue
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    rec = json.loads(line)
                    times.append(rec["Submission Time"] / 1000.0 - offset)
    return times


def data_files(warehouse: Path) -> int:
    return sum(1 for p in warehouse.rglob("*.parquet")
               if "_checkpoints" not in p.parts and not p.name.startswith("."))


def per_layer(ctx: dict) -> dict:
    rec, batches, progress = ctx["gen"], ctx["batches"], ctx["progress"]
    t0 = batches[0][1]
    n = len(rec["sent"])
    steady = [i for i in range(n) if rec["due"][i] >= t0]
    lag = [rec["acked"][i] - rec["sent"][i] for i in steady if rec["acked"][i] is not None]
    m = {
        "daemon.peak_rss_mb": ctx["rss_mb"],
        "daemon.cpu_s": ctx["cpu_s"],
        "warehouse.scan_ms_per_krow": 1e6 * ctx["scan_s"] / max(1, ctx["committed"]),
        "warehouse.files": data_files(ctx["warehouse"]),
        "wire.puback_lag_p50_s": pct(lag, 50),
        "wire.puback_lag_p99_s": pct(lag, 99),
        "wire.send_blocked_s": rec["send_blocked_s"],
        "wire.generator_lag_p99_s": pct([rec["lateness"][i] for i in steady], 99),
        "wire.sessions": len(rec["sessions"]),
    }
    steady_b = [b for b in batches if b[0] >= 1]
    prog = [progress[b] for b, _, _ in steady_b if b in progress]

    def dur(key):
        return [p["durationMs"].get(key, 0) / 1000.0 for p in prog]

    span = (steady_b[-1][1] - ctx["t_start"]) if steady_b else 0.0
    m.update({
        "pipeline.batches": len(batches),
        "pipeline.rows_per_batch_p50": pct([p["numInputRows"] for p in prog], 50),
        "pipeline.latest_offset_s_p50": pct(dur("latestOffset"), 50),
        "pipeline.query_planning_s_p50": pct(dur("queryPlanning"), 50),
        "pipeline.add_batch_s_p50": pct(dur("addBatch"), 50),
        "pipeline.add_batch_s_p99": pct(dur("addBatch"), 99),
        "pipeline.wal_commit_s_p50": pct(dur("walCommit"), 50),
        "pipeline.commit_offsets_s_p50": pct(dur("commitOffsets"), 50),
        "pipeline.trigger_busy_frac": sum(dur("triggerExecution")) / span if span else 0.0,
        "pipeline.progress_missing": sum(1 for b, _, _ in batches if b not in progress),
        "sink.files_per_batch": data_files(ctx["warehouse"]) / max(1, len(batches)),
    })
    if not ctx["trace"]:
        return m

    driver, reader = ctx["spans"]
    reads = [s for s in reader if s["name"] == "source.read" and s["start"] >= t0]
    m.update({
        "source.read_calls": len(reads),
        "source.read_s_p50": pct([s["end"] - s["start"] for s in reads], 50),
        "source.read_s_p99": pct([s["end"] - s["start"] for s in reads], 99),
        "source.rows_per_read_p50": pct([s["rows"] for s in reads], 50),
        "source.buffer_depth_p50": pct([s["buffer_depth"] for s in reads], 50),
        "source.replay_calls": sum(1 for s in reader if s["name"] == "source.replay"),
    })

    by_batch = collections.defaultdict(list)
    for s in driver:
        if s.get("batch") is not None:
            by_batch[s["batch"]].append(s)

    def per_batch(pred):
        return [sum(s["end"] - s["start"] for s in by_batch[b] if pred(s)) for b, _, _ in steady_b]

    fb = [s for s in driver if s["name"] == "sink.foreach_batch"]
    fb_steady = [s for s in fb if s["batch"] >= 1]
    jobs = ctx["jobs"]
    results = [s.get("result") or {} for s in driver if s["name"] == "sink.write_batch"]
    m.update({
        "sink.foreach_batch_s_p50": pct([s["end"] - s["start"] for s in fb_steady], 50),
        "sink.foreach_batch_s_p99": pct([s["end"] - s["start"] for s in fb_steady], 99),
        "sink.census_collect_s_p50": pct(per_batch(lambda s: s["name"] == "spark.collect"), 50),
        "sink.accepted_write_s_p50": pct(per_batch(
            lambda s: s["name"] == "spark.save" and s.get("key") == "readings"), 50),
        # the dead-letter path: the parse-reject count, plus the append
        # when the batch has rejects
        "sink.dead_letter_write_s_p50": pct(per_batch(
            lambda s: s["name"] == "spark.count"
            or (s["name"] == "spark.save" and s.get("key") == "_dead_letter")), 50),
        "sink.registry_save_s_p50": pct(per_batch(lambda s: s["name"] == "sink.registry_save"), 50),
        "sink.spark_jobs_per_batch": pct(
            [sum(1 for j in jobs if s["start"] <= j <= s["end"]) for s in fb_steady], 50),
        "sink.accepted_rows": sum(r.get("accepted", 0) for r in results),
        "sink.dead_letter_rows": sum(r.get("dead_letter", 0) for r in results),
        "sink.new_tables": sum(r.get("new_tables", 0) for r in results),
    })
    sess = [s for s in driver if s["name"] == "session.get_spark"]
    if sess:
        m["session.start_s"] = sess[0]["end"] - ctx["launch"]
        m["session.first_batch_s"] = t0 - sess[0]["end"]

    # blocking path of one trigger: source read (inside latestOffset),
    # planning, the sink (inside addBatch), WAL and offset commits
    read_by_end = {s["offset"]: s["end"] - s["start"] for s in reads}
    fb_by_batch = {s["batch"]: s["end"] - s["start"] for s in fb}
    gaps = []
    for b, _, end in steady_b:
        p = progress.get(b)
        if p is None or end not in read_by_end or b not in fb_by_batch:
            continue
        d = p["durationMs"]
        covered = (read_by_end[end] + fb_by_batch[b]
                   + (d.get("queryPlanning", 0) + d.get("walCommit", 0)
                      + d.get("commitOffsets", 0)) / 1000.0)
        gaps.append(d.get("triggerExecution", 0) / 1000.0 - covered)
    m["trace.path_gap_s_p50"] = pct(gaps, 50)
    return m


def end_to_end(ctx: dict) -> dict:
    rec, batches = ctx["gen"], ctx["batches"]
    t0 = batches[0][1]
    ends = [(c, e) for _, c, e in batches]

    def commit_of(i: int) -> float | None:
        for c, e in ends:  # batches are few; a linear scan is enough
            if e > i:
                return c
        return None

    # every message after the warm-up, from its due time (paced) or the
    # time the broker sent it (backlog: once the daemon had room for it)
    if ctx["workload"] == "ingest_paced":
        first, since = loadgen.PACED_SENSORS, rec["due"]
    else:
        first, since = loadgen.BACKLOG_WARMUP, rec["sent"]
    lat = []
    for i in range(first, len(rec["sent"])):
        c = commit_of(i)
        # a message that never commits misses every limit: it counts as
        # waiting until the run gave up on it
        lat.append((c if c is not None else ctx["t_end"]) - since[i])
    # messages committed after the warm-up, per second from the start
    # of the load to the last commit
    rate = (batches[-1][2] - batches[0][2]) / (batches[-1][1] - ctx["t_start"])
    return {
        "setup_s": t0 - ctx["launch"],
        "ingest_rows_per_s": rate,
        "commit_latency_p50_s": pct(lat, 50),
        "commit_latency_p99_s": pct(lat, 99),
    }


# -- one run ------------------------------------------------------------------------


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "mqtt2clickhouse_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_revision() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def child_env(rundir: Path, cpus: int, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = rundir / "tmp"
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java]
    if trace:
        (rundir / "trace" / "eventlog").mkdir(parents=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{rundir / 'trace' / 'eventlog'}",
                   "--conf", "spark.eventLog.compress=false"]
        env["PERFBENCH_TRACE_DIR"] = str(rundir / "trace")
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(rundir / "spark-local"),
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"'{a}'" if " " in a else a for a in submit) + " pyspark-shell",
    })
    return env


def run(args) -> dict:
    """One run in a fresh run directory, removed afterwards unless
    ``--keep``."""
    rundir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    if rundir.exists():
        shutil.rmtree(rundir)
    for d in ("tmp", "spark-local"):
        (rundir / d).mkdir(parents=True)
    try:
        result = run_in(args, rundir)
    finally:
        if not args.keep:
            shutil.rmtree(rundir, ignore_errors=True)
    if args.keep:
        result["rundir"] = str(rundir)
    return result


def run_in(args, rundir: Path) -> dict:
    started = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or nproc
    warehouse = rundir / "warehouse"
    offset = wall_minus_mono()
    cpu_start = cpu_times()
    ck = Checkpoint(warehouse / "_checkpoints", offset)
    env = child_env(rundir, cpus, args.trace)
    conditions = {"nproc": nproc, "cpus": cpus, "loadavg_start": os.getloadavg(),
                  "seed": args.seed, "seconds": args.seconds, "git_revision": git_revision(),
                  "source_digest": source_digest(), "workload": args.workload,
                  "trace": bool(args.trace)}

    if args.workload == "ingest_paced":
        n_max = loadgen.PACED_SENSORS + int(loadgen.PACED_RATE * (args.seconds + 10))
    else:
        n_max = loadgen.BACKLOG_WARMUP * (1 + math.ceil(args.seconds / TRIGGER_S))
    gen_out = rundir / "loadgen.json"
    gen = subprocess.Popen(
        [sys.executable, str(BENCH / "loadgen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", str(gen_out), "--max-messages", str(n_max)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=rundir, env=env,
        start_new_session=True)
    daemon = None
    stalled = None
    try:
        gen_lines = LineReader(gen.stdout)
        port = int(gen_lines.expect("PORT", 60))
        argv = ["--broker", "127.0.0.1", "--port", str(port), "--warehouse", str(warehouse),
                "--metrics", str(rundir / "metrics.jsonl")]
        if args.cpus:
            argv += ["--cpus", str(args.cpus)]
        cmd = ([sys.executable, str(BENCH / "traced_daemon.py")] if args.trace
               else [sys.executable, "-m", "mqtt2clickhouse_spark"]) + argv
        with open(rundir / "daemon.log", "w") as log:
            launch = time.monotonic()
            daemon = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log,
                                      stderr=subprocess.STDOUT, start_new_session=True)

        def control(word: str) -> None:
            gen.stdin.write(word + "\n")
            gen.stdin.flush()

        def wait_for(done, deadline: float) -> str | None:
            """Poll the checkpoint until ``done()``; the reason it gave
            up otherwise (the daemon died, or commits stopped)."""
            last_progress, last_count = time.monotonic(), len(ck.batches)
            while not done():
                now = time.monotonic()
                if daemon.poll() is not None:
                    return f"daemon exited with {daemon.returncode}"
                if now >= deadline:
                    return "deadline"
                if len(ck.batches) != last_count:
                    last_progress, last_count = now, len(ck.batches)
                elif ck.batches and now - last_progress > STALL_S:
                    return f"no commit for {STALL_S:.0f} s"
                time.sleep(0.05)
                ck.poll()
            return None

        limit = started + RUN_LIMIT_S - READ_RESERVE_S
        stalled = wait_for(lambda: 0 in ck.batches, min(limit, launch + SETUP_LIMIT_S))
        t_start = time.monotonic()
        if stalled:
            stalled = f"no first commit: {stalled}"
        else:
            # the daemon's trigger grid is multiples of the interval
            # since the epoch
            grid = math.ceil((t_start + offset + GRID_LEAD_S) / TRIGGER_S) * TRIGGER_S
            t_start = grid + LOAD_PHASE_S[args.workload] - offset
            control(f"go {t_start!r}")
        if not stalled:
            if args.workload == "ingest_paced":
                stalled = wait_for(lambda: time.monotonic() >= t_start + args.seconds, limit)
            else:
                stalled = wait_for(lambda: ck.committed >= n_max, limit)
        control("stop")
        n_sent = int(gen_lines.expect("SENT", 30))
        if not stalled:
            stalled = wait_for(lambda: ck.committed >= n_sent, limit)
        t_end = time.monotonic()
        ck.poll()
        family = descendants(daemon.pid)
        rss = vm_hwm_mb(daemon.pid) + sum(vm_hwm_mb(p) for p, comm in family if comm == "java")
        cpu_s = cpu_seconds([daemon.pid] + [p for p, _ in family])
        t = time.monotonic()
        clean_exit = end_group(daemon, 30)
        stop_s = time.monotonic() - t
        control("exit")
        gen.wait(timeout=30)
    finally:
        if daemon is not None:
            end_group(daemon, 5)
        end_group(gen, 5)

    ck.poll()
    conditions.update({"loadavg_end": os.getloadavg(),
                       "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
                       "run_s": time.monotonic() - started})
    if 0 not in ck.batches:
        # set-up never finished: every message sent failed, and the run
        # reports how long it waited
        attempted = max(1, n_sent)
        return {"correct": False, "attempted": attempted, "failed": attempted,
                "end_to_end": {"setup_s": t_end - launch}, "per_layer": {},
                "stalled": stalled, "daemon_exit_on_sigterm": clean_exit,
                "committed_batches": len(ck.batches), "stop_s": stop_s,
                "conditions": conditions}
    gen_rec = json.loads(gen_out.read_text())
    batches = ck.ordered()
    msgs = loadgen.messages(args.workload, args.seed, n_max)[:n_sent]
    exp = expected_routing(msgs)

    # a fixed sample: the hottest tables, then the rest in name order
    counts = collections.Counter(r[0] for r in exp["accepted"].values())
    hot = [t for t, _ in counts.most_common(SAMPLE_TABLES // 2)]
    sample = hot + [t for t in sorted(counts) if t not in hot][: SAMPLE_TABLES - len(hot)]
    scan_s, scan_passes, tables = timed_scans(warehouse, sample)
    oracle = check_warehouse(tables, exp, ck.committed)

    spans = read_spans(rundir / "trace") if args.trace else ([], [])
    ctx = {"workload": args.workload, "gen": gen_rec, "batches": batches,
           "progress": read_progress(rundir / "metrics.jsonl"), "warehouse": warehouse,
           "launch": launch, "t_start": t_start, "t_end": t_end, "trace": bool(args.trace),
           "spans": spans, "scan_s": scan_s, "rss_mb": rss, "cpu_s": cpu_s, "committed": ck.committed,
           "jobs": event_log_jobs(rundir / "trace", offset) if args.trace else []}
    failed = sum(oracle["problems"].values())
    return {
        "correct": failed == 0 and stalled is None,
        "attempted": n_sent,
        "failed": failed,
        "end_to_end": end_to_end(ctx),
        "per_layer": per_layer(ctx),
        "oracle": oracle,
        "stalled": stalled,
        "daemon_exit_on_sigterm": clean_exit,
        "committed_batches": len(batches),
        "scan_passes_s": scan_passes,
        "sample_tables": sample,
        "stop_s": stop_s,
        "conditions": {**conditions, "run_s": time.monotonic() - started},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Live ingest benchmark (see module docstring).")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="pass --cpus to the daemon (the single-core baseline)")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()
    if not (ROOT / "mqtt2clickhouse_spark" / "__main__.py").is_file():
        print(f"no mqtt2clickhouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through run()'s cleanup instead of orphaning
    # the daemon and the generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res = run(args)
    except Exception:  # the boundary: report, and print no result
        traceback.print_exc()
        return 1
    names = PER_LAYER if args.trace else END_TO_END
    source = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in names.items()}
    print(json.dumps({"detail": res}, default=str))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
