"""The ``sensor_ingest`` workload: the paper's traffic, as an open loop.

One generator thread writes raw short-key sensor JSON files on a fixed
schedule (``FILES_PER_S`` files of ``LINES_PER_FILE`` readings). Each
file is written under a temporary name, its mtime stamped to its due
time, then renamed into the source directory. ``file_replay_source``
feeds ``start_sensor_ingest`` (dead-letter on unknown ids, event time
derived from the reading, default trigger) into the keyed parquet
sink. One reader thread runs CQL-shaped keyed reads on its own
schedule, from the stream's first commit on (the table must exist):
``read_keyed_parquet`` filtered to one ``sensor_group``, one
``sensor_id`` and a time range, ``LIMIT 10``, collected.

Latencies are measured from each operation's *due* time, so a late
generator or a slow read shows up instead of shifting the schedule.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import threading
import time
from datetime import datetime, timezone

from perfbench import stats

N_SENSORS = 400
N_GROUPS = 8
FIRST_ID = 100
FILES_PER_S = 4
LINES_PER_FILE = 500
READS_PER_S = 2
REDELIVER_P = 0.05
# a re-delivery is an update (same primary key, new values) with this
# probability, taken from a file UPDATE_LAG files back or older, so the
# update lands in a later micro-batch than the reading it replaces
UPDATE_SHARE = 0.4
UPDATE_LAG = (20, 40)
UNKNOWN_P = 0.01
CORRUPT_P = 0.005
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z; time_received = BASE + uptime ms
VALUE_COLS = ("uptime", "temperature", "pressure", "humidity", "ix", "iy", "iz", "mask")
WARM_UP_FILE = "part-000000.json"
# Spark fires a processing-time trigger on whole multiples of its
# interval (1 s) since the epoch; the schedules start at a fixed offset
# into that grid, so every run sees the same phase between arrivals
# and triggers (a file due just after a trigger waits a whole second)
FILE_PHASE_S = 0.1
READ_PHASE_S = 0.35
# sensor-only end-to-end numbers, reported under their own names
OWN_METRICS = ("ingest_latency_tail_s", "ingest_rows_per_s")
# other names of numbers the end-to-end metrics already carry
ALIASES = {
    "ingest_latency_p50_s": "pass_s",
    "read_latency_p50_s": "query_p50_s",
    "read_latency_tail_s": "query_tail_s",
}


def group_of(sensor_id: int) -> str:
    return f"g{(sensor_id - FIRST_ID) % N_GROUPS}"


def pk_of(rec: dict) -> tuple:
    return group_of(rec["id"]), rec["id"], BASE_MS + rec["uptime"]


def value_tuple(rec: dict) -> tuple:
    return tuple(rec[k] for k in ("uptime", "T", "P", "H", "Ix", "Iy", "Iz", "M"))


class SensorGenerator:
    """Deterministic reading stream for one seed.

    ``expected`` maps every valid primary key ``(sensor_group,
    sensor_id, time_received ms)`` to its last-written value tuple; the
    stored table must equal it once every file has been ingested.
    ``superseded`` keeps the earlier values of keys that were updated,
    which a read may still see.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.ids = list(range(FIRST_ID, FIRST_ID + N_SENSORS))
        self.uptime = {s: self.rng.randint(0, 50_000_000) for s in self.ids}
        self.expected: dict[tuple, tuple] = {}
        self.superseded: dict[tuple, set] = {}
        self.recent: list[str] = []
        self.by_file: list[list[dict]] = []  # new readings of each file so far
        self.updated: set[tuple] = set()
        self.counts = {"valid": 0, "redelivered": 0, "updated": 0, "unknown": 0, "corrupt": 0}

    def _reading(self, sid: int) -> dict:
        r = self.rng
        self.uptime[sid] += r.randint(150, 250)
        return self._values({"id": sid, "uptime": self.uptime[sid]})

    def _values(self, rec: dict) -> dict:
        r = self.rng
        return {
            **rec,
            "T": r.randint(-400, 1200),
            "P": r.randint(300, 1100),
            "H": r.randint(0, 100),
            "Ix": r.randint(-1000, 1000),
            "Iy": r.randint(-1000, 1000),
            "Iz": r.randint(-1000, 1000),
            "M": r.randint(0, 255),
        }

    def line(self) -> str:
        r = self.rng.random()
        if r < CORRUPT_P:
            self.counts["corrupt"] += 1
            good = json.dumps(self._reading(self.rng.choice(self.ids)))
            return good[: self.rng.randint(1, len(good) - 2)]
        if r < CORRUPT_P + UNKNOWN_P:
            self.counts["unknown"] += 1
            rec = self._reading(self.ids[0])
            rec["id"] = self.rng.randint(9_000, 9_999)
            return json.dumps(rec)
        if r < CORRUPT_P + UNKNOWN_P + REDELIVER_P and self.recent:
            if self.rng.random() < UPDATE_SHARE and len(self.by_file) > UPDATE_LAG[0]:
                text = self._update()
                if text is not None:
                    return text
            self.counts["redelivered"] += 1
            return self.rng.choice(self.recent)
        rec = self._reading(self.rng.choice(self.ids))
        self.expected[pk_of(rec)] = value_tuple(rec)
        self.by_file[-1].append(rec)
        self.counts["valid"] += 1
        text = json.dumps(rec)
        self.recent.append(text)
        if len(self.recent) > 4 * LINES_PER_FILE:
            del self.recent[: LINES_PER_FILE]
        return text

    def _update(self) -> str | None:
        """A re-delivery of a reading from an older file with new values:
        the sink must keep this newer row. Each key is updated at most
        once (None when the drawn key already was), so two writes of one
        key never share a micro-batch."""
        n = len(self.by_file)
        lo = max(0, n - 1 - UPDATE_LAG[1])
        old = self.rng.choice(self.by_file[self.rng.randint(lo, n - 1 - UPDATE_LAG[0])])
        pk = pk_of(old)
        if pk in self.updated:
            return None
        self.updated.add(pk)
        rec = self._values({"id": old["id"], "uptime": old["uptime"]})
        self.superseded.setdefault(pk, set()).add(self.expected[pk])
        self.expected[pk] = value_tuple(rec)
        self.counts["updated"] += 1
        return json.dumps(rec)

    def file(self) -> str:
        self.by_file.append([])
        return "\n".join(self.line() for _ in range(LINES_PER_FILE)) + "\n"

    def read_query(self) -> tuple[str, int, int, int]:
        """(group, sensor id, lo ms, hi ms) of one keyed read."""
        sid = self.rng.choice(self.ids)
        lo = BASE_MS + self.rng.randint(0, 50_000_000)
        return group_of(sid), sid, lo, lo + self.rng.randint(2_000, 60_000_000)


def write_dim(path: str) -> None:
    with open(path, "w") as f:
        f.write("sensor_id,group_id\n")
        for sid in range(FIRST_ID, FIRST_ID + N_SENSORS):
            f.write(f"{sid},{group_of(sid)}\n")


def put_file(src_dir: str, stage_dir: str, index: int, text: str, due: float) -> None:
    name = f"part-{index:06d}.json"
    tmp = os.path.join(stage_dir, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.utime(tmp, (due, due))
    os.rename(tmp, os.path.join(src_dir, name))


def run_schedule(n: int, rate: float, t0: float, action, lags: list, stop: threading.Event) -> None:
    """Open loop: call ``action(k, due)`` at ``t0 + k / rate`` for k < n,
    never waiting for the previous call to be absorbed downstream."""
    for k in range(n):
        due = t0 + k / rate
        wait = due - time.time()
        if wait > 0 and stop.wait(wait):
            return
        if stop.is_set():
            return
        lags.append(max(0.0, time.time() - due))
        action(k, due)


def on_trigger_grid(now: float, phase: float) -> float:
    """The first time after ``now`` that lies ``phase`` seconds past a
    whole second."""
    return math.floor(now - phase) + 1 + phase


def ms(dt: datetime) -> int:
    return round(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def checkpoint_file_batches(ckpt: str) -> dict[str, int]:
    """File basename → micro-batch id, from the file source's log."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()
    }


def table_check(rows, expected: dict) -> list[str]:
    """Compare the stored table with the generator's last-writer set."""
    got: dict[tuple, tuple] = {}
    problems: list[str] = []
    dup = 0
    for r in rows:
        pk = (r["sensor_group"], r["sensor_id"], ms(r["time_received"]))
        if pk in got:
            dup += 1
        got[pk] = tuple(r[c] for c in VALUE_COLS)
    if dup:
        problems.append(f"{dup} duplicate primary keys")
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = sum(1 for k in expected.keys() & got.keys() if got[k] != expected[k])
    if missing:
        problems.append(f"{len(missing)} rows missing, e.g. {sorted(missing)[:2]}")
    if extra:
        problems.append(f"{len(extra)} unexpected rows, e.g. {sorted(extra)[:2]}")
    if wrong:
        problems.append(f"{wrong} rows with wrong values")
    return problems


def read_check(rows, query: tuple, expected: dict, superseded: dict) -> str | None:
    """A read's rows must match its predicate and be values the generator
    wrote: the latest, or an earlier one of an updated key."""
    grp, sid, lo, hi = query
    if len(rows) > 10:
        return f"LIMIT 10 returned {len(rows)} rows"
    for r in rows:
        t = ms(r["time_received"])
        if r["sensor_group"] != grp or r["sensor_id"] != sid or not lo <= t <= hi:
            return f"row outside predicate: {(r['sensor_group'], r['sensor_id'], t)}"
        got = tuple(r[c] for c in VALUE_COLS)
        if got != expected.get((grp, sid, t)) and got not in superseded.get((grp, sid, t), ()):
            return f"row not written by the generator: {(grp, sid, t)}"
    return None


def operation_counts(
    n_files: int, n_reads: int, raised: int, mismatched: int, table_bad: bool
) -> tuple[tuple[int, int], tuple[int, int]]:
    """``(attempted, failed)`` of the result line and ``(operations,
    failed)`` behind ``error_rate``, for one run.

    ``error_rate`` counts every timed file, every read (failed if it
    raised or returned wrong rows) and the table check. How many reads
    raise depends on when they meet the sink's generation swaps, so the
    result line counts each read by its rows only, plus one check of
    the whole run that fails if any read raised: the same code then
    gives the same counts on every run, and the failure still shows.
    """
    ops = n_files + n_reads + 1
    result = (ops + 1, mismatched + int(table_bad) + int(raised > 0))
    return result, (ops, raised + mismatched + int(table_bad))


class SensorRun:
    def __init__(self, ctx, work_dir: str):
        self.ctx = ctx
        self.work = work_dir
        self.gen = SensorGenerator(ctx.seed)
        self.dim_path = os.path.join(work_dir, "sensor_group.csv")
        write_dim(self.dim_path)
        # file 0 is the set-up's warm-up file; the rest are timed
        self.n_files = 1 + int(ctx.seconds * FILES_PER_S)
        self.files = [self.gen.file() for _ in range(self.n_files)]
        self.reads = [self.gen.read_query() for _ in range(int(ctx.seconds * READS_PER_S))]
        self.query = None
        self.read_mapping_s: list[float] = []
        self.read_results: list[dict] = []
        self.gen_lags: list[float] = []
        self.read_lags: list[float] = []
        self.due: dict[str, float] = {}
        self.upserts: list[dict] = []

    # ---------------------------------------------------------- set-up
    def start(self, spark, k: int) -> None:
        """Load the dim and start the stream on fresh directories, with
        the warm-up file already in place. The set-up ends at stream
        start; the first micro-batch runs as the measurement begins."""
        from pyspark.sql import functions as F

        from unimib_simpss_spark.sources.csv_dim import read_sensor_group_mapping
        from unimib_simpss_spark.streaming.pipeline import file_replay_source, start_sensor_ingest

        base = os.path.join(self.work, f"setup{k}")
        self.src = os.path.join(base, "src")
        self.stage = os.path.join(base, "stage")
        self.sink = os.path.join(base, "table", "sensor_data")
        self.ckpt = os.path.join(base, "checkpoint")
        for d in (self.src, self.stage, os.path.dirname(self.sink)):
            os.makedirs(d, exist_ok=True)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("read_mapping"):
            dim = read_sensor_group_mapping(spark, self.dim_path)
        self.read_mapping_s.append(time.perf_counter() - t0)
        raw = file_replay_source(spark, self.src, max_files_per_trigger=1_000_000)
        ts = F.timestamp_millis(F.lit(BASE_MS) + F.col("uptime"))
        self.due[WARM_UP_FILE] = time.time()
        put_file(self.src, self.stage, 0, self.files[0], self.due[WARM_UP_FILE])
        self.query = start_sensor_ingest(raw, dim, self.sink, self.ckpt, ts_col=ts, on_unknown="deadletter")

    def wait_first_commit(self, stop: threading.Event) -> None:
        """Wait until the stream's first micro-batch has committed, so the
        table exists (watching the commit log, not polling the table)."""
        first_commit = os.path.join(self.ckpt, "commits", "0")
        deadline = time.time() + 120
        while not os.path.exists(first_commit):
            if not self.query.isActive or time.time() > deadline:
                raise RuntimeError(f"the stream did not commit its first batch: {self.query.exception()}")
            if stop.wait(0.005):
                return

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    # ---------------------------------------------------------- measure
    def _read(self, spark, k: int, due: float) -> None:
        from unimib_simpss_spark.streaming import sinks
        from pyspark.sql import functions as F

        grp, sid, lo, hi = self.reads[k]
        res = {"due": due, "ok": False, "error": None, "mismatch": None}
        with self.ctx.tracer.span("read", op=f"read-{k}"):
            t0 = time.perf_counter()
            try:
                with self.ctx.tracer.span("plan"):
                    df = (
                        sinks.read_keyed_parquet(spark, self.sink)
                        .where(
                            (F.col("sensor_group") == grp)
                            & (F.col("sensor_id") == sid)
                            & F.col("time_received").between(
                                F.timestamp_millis(F.lit(lo)), F.timestamp_millis(F.lit(hi))
                            )
                        )
                        .limit(10)
                    )
                t1 = time.perf_counter()
                with self.ctx.tracer.span("collect"):
                    rows = [r.asDict() for r in df.collect()]
                t2 = time.perf_counter()
                res.update(ok=True, latency=time.time() - due, plan_s=t1 - t0, collect_s=t2 - t1, rows=len(rows))
                res["mismatch"] = read_check(rows, (grp, sid, lo, hi), self.gen.expected, self.gen.superseded)
            except Exception as e:  # a read that raises is a failed operation
                msg = str(e)
                cond = re.search(r"\[([A-Z_.]+)\]", msg)
                if cond:
                    res["error"] = cond.group(1)
                elif "FileNotFoundException" in msg:
                    res["error"] = "FileNotFoundException"
                else:
                    res["error"] = f"{type(e).__name__}: {msg[:200]}"
        self.read_results.append(res)

    def measure(self, spark) -> None:
        """Run the generator and the reader on their schedules, then
        wait until the stream has ingested every file."""
        stop = threading.Event()
        t0 = on_trigger_grid(time.time(), FILE_PHASE_S)

        def write(k: int, due: float) -> None:
            name = f"part-{k + 1:06d}.json"
            self.due[name] = due
            put_file(self.src, self.stage, k + 1, self.files[k + 1], due)

        def read(k: int, due: float) -> None:
            self._read(spark, k, due)

        def reader() -> None:  # a keyed read needs the table to exist
            self.wait_first_commit(stop)
            t_read = on_trigger_grid(time.time(), READ_PHASE_S)
            run_schedule(len(self.reads), READS_PER_S, t_read, read, self.read_lags, stop)

        threads = [
            threading.Thread(target=run_schedule, args=(self.n_files - 1, FILES_PER_S, t0, write, self.gen_lags, stop)),
            threading.Thread(target=reader),
        ]
        for t in threads:
            t.start()
        try:
            for t in threads:
                t.join()
        finally:  # on an interrupt, stop both schedules and wait for them
            stop.set()
            for t in threads:
                t.join()
        self.query.processAllAvailable()

    # ---------------------------------------------------------- results
    def progress(self) -> list[dict]:
        out = []
        for p in self.query.recentProgress:
            out.append(json.loads(p.json) if hasattr(p, "json") else p)
        return out

    def file_latencies(self) -> dict[str, tuple[int, float, float]]:
        """Timed file → (batch id, due time, commit time)."""
        batches = checkpoint_file_batches(self.ckpt)
        commits = commit_times(self.ckpt)
        return {
            n: (batches[n], due, commits[batches[n]])
            for n, due in self.due.items()
            if n != WARM_UP_FILE and batches.get(n) in commits
        }

    def summary(self, progress: list[dict]) -> dict:
        files = self.file_latencies()
        lat = [commit - due for _, due, commit in files.values()]
        timed = timed_batches(progress)
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in timed]
        reads_ok = [r for r in self.read_results if r["ok"]]
        read_lat = [r["latency"] for r in reads_ok]
        if not lat or not trig or not read_lat:
            raise RuntimeError(
                f"too few samples: {len(lat)} files, {len(trig)} batches, {len(read_lat)} reads"
            )
        first_due = min(due for _, due, _ in files.values())
        last_commit = max(commit for _, _, commit in files.values())
        rows_in = sum(
            (p.get("observedMetrics") or {}).get("ingest", {}).get("rows_persisted", 0) for p in timed
        )
        lt, lp, ln = stats.tail(lat)
        rt, rp, rn = stats.tail(read_lat)
        return {
            # one pass of the pipeline over a file: due time to commit
            "pass_s": stats.median(lat),
            "batch_p50_s": stats.median(trig),
            "query_p50_s": stats.median(read_lat),
            "query_tail_s": rt,
            "query_tail_pct": rp,
            "query_tail_beyond": rn,
            "ingest_latency_tail_s": lt,
            "ingest_latency_tail_pct": lp,
            "ingest_latency_tail_beyond": ln,
            "ingest_rows_per_s": rows_in / max(1e-9, last_commit - first_due),
            "batches": len(timed),
            "files": len(lat),
            "reads": len(self.read_results),
            "reads_failed": sum(1 for r in self.read_results if not r["ok"]),
            "read_errors": sorted({r["error"] for r in self.read_results if r["error"]})[:3],
            "read_mismatches": [r["mismatch"] for r in reads_ok if r["mismatch"]][:3],
            "generator": dict(self.gen.counts),
        }


    # ---------------------------------------------------------- traced run
    def traced_upsert(self, orig):
        """Wrap ``sinks.upsert_keyed_parquet``: time each call and size
        the generation it leaves behind (the sink's write amplification)."""
        tracer = self.ctx.tracer

        def upsert(batch_df, path, *a, **kw):
            t0 = time.time()
            with tracer.span("upsert") as rec:
                orig(batch_df, path, *a, **kw)
            rows, size = generation_size(path)
            self.upserts.append({"start": t0, "end": time.time(), "rows": rows, "bytes": size, "span": rec})

        return upsert

    def layer_metrics(self, progress: list[dict], tot: dict, window: float, cores: int) -> dict:
        timed = timed_batches(progress)
        reads_ok = [r for r in self.read_results if r["ok"]]

        def dur(key: str) -> list[float]:
            return [p["durationMs"].get(key, 0) / 1e3 for p in timed]

        rows_in = sum(p["numInputRows"] for p in timed)
        persisted = sum((p.get("observedMetrics") or {}).get("ingest", {}).get("rows_persisted", 0) for p in timed)
        # the warm-up batch's upsert runs after the set-up, but is not timed
        first = min(progress_start(p) for p in timed)
        ups = [u for u in self.upserts if u["start"] >= first]
        up_s = [u["end"] - u["start"] for u in ups]
        src_bytes = sum(os.path.getsize(os.path.join(self.src, n)) for n in self.due if n != WARM_UP_FILE)
        n_files = len(self.file_latencies())
        return {
            "spark.jobs": tot["n_jobs"],
            "spark.jobs.checkpoint": tot["kinds"]["checkpoint"],
            "spark.jobs.broadcast": tot["kinds"]["broadcast"],
            "spark.jobs.collect": tot["kinds"]["collect"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.executor_run_s": tot["executor_run_s"],
            "spark.executor_cpu_s": tot["executor_cpu_s"],
            "spark.jvm_gc_s": tot["jvm_gc_s"],
            "spark.shuffle_write_mb": tot["shuffle_write_mb"],
            "spark.input_mb": tot["input_mb"],
            "spark.busy_share": tot["executor_run_s"] / max(1e-9, window * cores),
            "csv_dim.read_mapping_s": stats.median(self.read_mapping_s),
            "streaming.batches": len(timed),
            "streaming.files_per_batch": n_files / max(1, len(timed)),
            "streaming.trigger_s.p50": stats.median(dur("triggerExecution")),
            "streaming.latest_offset_s.p50": stats.median(dur("latestOffset")),
            "streaming.query_planning_s.p50": stats.median(dur("queryPlanning")),
            "streaming.wal_commit_s.p50": stats.median(dur("walCommit")),
            "streaming.add_batch_s.p50": stats.median(dur("addBatch")),
            "streaming.add_batch_s.tail": stats.tail(dur("addBatch"))[0],
            "streaming.persisted_share": persisted / max(1, rows_in),
            "sinks.upsert.calls": len(ups),
            "sinks.upsert_s.p50": stats.median(up_s),
            "sinks.upsert_s.tail": stats.tail(up_s)[0],
            "sinks.rows_written_per_row_ingested": sum(u["rows"] for u in ups) / max(1, rows_in),
            "sinks.bytes_written_per_byte_ingested": sum(u["bytes"] for u in ups) / max(1, src_bytes),
            "sinks.read.plan_s.p50": stats.median(r["plan_s"] for r in reads_ok),
            "sinks.read.collect_s.p50": stats.median(r["collect_s"] for r in reads_ok),
            "sinks.read.failed": sum(1 for r in self.read_results if not r["ok"]),
            "loadgen.lag_max_s": max(self.gen_lags + self.read_lags),
        }

    def add_spans(self, progress: list[dict]) -> None:
        """file → batch → upsert spans from the stream's own records: a
        batch span per progress report, each upsert span re-parented to
        the batch it ran in, and a span per file from its due time to
        its batch's commit."""
        tr = self.ctx.tracer
        batch_ids = {}
        for p in timed_batches(progress):
            start = progress_start(p)
            end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
            op = f"batch-{p['batchId']}"
            batch_ids[p["batchId"]] = (tr.add("batch", start, end, op=op, rows=p["numInputRows"]), op)
            for u in self.upserts:
                if start <= u["start"] <= end and u["span"] is not None:
                    u["span"].update(parent=batch_ids[p["batchId"]][0], op=op)
        for name, (bid, due, commit) in self.file_latencies().items():
            tr.add("file", due, commit, op=f"file-{name}", batch=batch_ids.get(bid, (None, None))[1])

def timed_batches(progress: list[dict]) -> list[dict]:
    # batch 0 holds the set-up's warm-up file; idle triggers carry no rows
    return [p for p in progress if p["batchId"] >= 1 and p.get("numInputRows", 0) > 0]


def generation_size(path: str) -> tuple[int, int]:
    """(rows, bytes) of the table generation ``path`` points at now."""
    import pyarrow.parquet as pq

    rows = size = 0
    for d, _, names in os.walk(os.path.realpath(path)):
        for n in names:
            if n.endswith(".parquet"):
                f = os.path.join(d, n)
                rows += pq.read_metadata(f).num_rows
                size += os.path.getsize(f)
    return rows, size


def progress_start(p: dict) -> float:
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
