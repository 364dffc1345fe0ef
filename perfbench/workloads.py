"""The workloads. Each builds its inputs from the seed (untimed),
runs the timed phase through the engine's public entry points, then checks
the outcome against the dict-replay oracle (untimed).

* ``tail_maxwell`` -- open loop: recorded Kafka frames (Maxwell JSON) are
  published one small chunk at a time on a fixed schedule into a tailing
  stream (``available_now=False``) that writes a merge-on-read table.
* ``backfill_append`` -- closed loop, no Structured Streaming:
  reference-faithful append mode through ``backfill()`` onto a table that
  already holds an earlier prefix, which takes the copy-on-write merge.

All inputs scale with ``--seconds`` through fixed rates, so both sides of a
comparison run the same sizes. Each workload runs its first, cold batches
untimed and times only what follows."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import zlib
from dataclasses import dataclass, field

from perfbench import stats

TARGET_COLS = ["doc_id", "tokens", "n_tok", "source"]

# tail_maxwell: one chunk of TAIL_CHUNK_EVENTS events every TAIL_INTERVAL_S
# seconds. On a 4-vCPU host a timed one-chunk batch takes ~1.5 s of trigger
# time and a compaction batch ~4.5 s, so a 2.6 s interval keeps the stream
# 67-75% busy (measured).
TAIL_INTERVAL_S = 2.6
TAIL_CHUNK_EVENTS = 1_000
TAIL_KEYS = 10_000
# untimed warm-up batches: the first batches pay one-off JIT and
# code-generation costs a long-running tail does not. With the default
# compaction threshold (every 8th commit) and 16 s of schedule (6 chunks),
# the run's compaction is its last timed batch.
TAIL_WARMUP_CHUNKS = 2
# timed change-feed reads: the windows of timed batches 1 and 2 (one batch
# each, before the compaction); timed batch 0's window is the warm-up read
TAIL_FEED_WINDOWS = slice(TAIL_WARMUP_CHUNKS + 1, TAIL_WARMUP_CHUNKS + 3)
# one poison frame per this many events (~0.1%)
POISON_EVERY = 1000
# backfill_append: a prefix backfilled untimed in one chunk, then one timed
# chunk of BACKFILL_CHUNK_OFFSETS offsets per BACKFILL_SECONDS_PER_CHUNK of
# --seconds (at least one). On a 4-vCPU host a warm copy-on-write chunk
# takes 8-10 s, nearly independent of its size, and the cold prefix chunk
# about twice that. Over ten seeds the rate and lag figures spread
# 0.27-0.32 with one timed chunk (9 s of work) and 0.11-0.14 with two,
# measured an hour apart on a shared host.
BACKFILL_PREFIX_EVENTS = 10_000
BACKFILL_CHUNK_OFFSETS = 5_000
BACKFILL_SECONDS_PER_CHUNK = 8
BACKFILL_KEYS = 10_000
# inspect() runs this many times; audit_s is the median (the first run is
# cold, the others warm)
AUDIT_REPEATS = 3
# a chunk still invisible this long after the last publish counts as failed
VISIBLE_DEADLINE_S = 60.0


@dataclass
class Outcome:
    """Raw measurements of one run; ``run.py`` turns them into metrics."""

    events: int = 0  # events fed to the engine (accounting check)
    timed_events: int = 0  # events of the timed chunks (rates)
    chunk_due: list = field(default_factory=list)
    chunk_published: list = field(default_factory=list)
    chunk_visible: list = field(default_factory=list)
    apply_s: list = field(default_factory=list)  # engine batch wall per chunk/batch
    feed_read_s: list = field(default_factory=list)
    raw_read_s: list = field(default_factory=list)
    audit_s: float = 0.0
    bytes_per_row: float = 0.0
    rss_mb: float = 0.0
    records: list = field(default_factory=list)  # MetricsSink batch records
    progress: list = field(default_factory=list)  # StreamingQuery.recentProgress
    poison: int = 0
    frames_dropped: int = 0
    decode_s: list = field(default_factory=list)
    busy_frac: float = 0.0  # stream busy time / timed phase wall
    materialize_s: float = 0.0
    phase_t0: float = 0.0  # perf_counter at the start of the timed phase
    live_files: int = 0
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks[name] = {"ok": bool(ok), "detail": detail}
        self.op(ok)


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ------------------------------------------------------------------ inputs
# The files hold the rows Spark's parquet writer or a Kafka recorder would
# produce; writing the generator's rows with pyarrow skips the cold Spark
# write jobs that would otherwise dominate a short run's wall time.
def _tokens(v):
    return None if v is None else [int(x) for x in v]


def _int(v):
    return None if v is None or v != v else int(v)


def write_events(pdf, path: str) -> str:
    """Event rows as one parquet file in the engine's event schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("op", pa.string()), ("doc_id", pa.string()), ("log_offset", pa.int64()),
        ("seq", pa.int32()), ("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()),
        ("source", pa.string()),
    ])
    cols = {
        "op": pdf["op"].tolist(),
        "doc_id": pdf["doc_id"].tolist(),
        "log_offset": [int(x) for x in pdf["log_offset"]],
        "seq": [int(x) for x in pdf["seq"]],
        "tokens": [_tokens(t) for t in pdf["tokens"]],
        "n_tok": [_int(n) for n in pdf["n_tok"]],
        "source": pdf["source"].tolist(),
    }
    pq.write_table(pa.table(cols, schema=schema), path)
    return path


def is_poison(seed: int, offset):
    """A poison frame follows an event when a seeded multiplicative hash of
    its offset is 0 mod ``POISON_EVERY``; works on an int or a pandas
    Series."""
    return (offset * 2654435761 + seed) % POISON_EVERY == 0


def maxwell_value(r) -> bytes:
    """One Maxwell envelope as the reference's producer emits it: type,
    database, table, ts, xid, position and the full row image in ``data``
    (deletes carry the key and the routing column only)."""
    off = int(r.log_offset)
    data = {"doc_id": r.doc_id}
    if r.op != "delete":
        data.update(tokens=_tokens(r.tokens), n_tok=_int(r.n_tok))
    data["source"] = r.source
    env = {
        "type": r.op, "database": "corpus", "table": r.source,
        "ts": 1_700_000_000 + off, "xid": int(r.seq), "commit": True,
        "position": f"master.000001:{off}",
        "primary_key": [r.doc_id], "primary_key_columns": ["doc_id"],
        "data": data,
    }
    return json.dumps(env).encode()


# invalid JSON, a heartbeat, a null value: all dropped by the wire decode
POISON_VALUES = (b"{not json!!", b'{"type": "heartbeat", "position": "x"}', None)


def write_frames(pdf, path: str, seed: int) -> int:
    """One chunk of recorded Kafka frames (``KAFKA_SOURCE_SCHEMA`` rows) for
    event rows in offset order, with a poison frame after each event
    :func:`is_poison` picks. Returns the number of poison frames."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    keys, values, parts, offsets = [], [], [], []
    poison = 0
    for r in pdf.itertuples(index=False):
        off = int(r.log_offset)
        keys.append(r.doc_id.encode())
        values.append(maxwell_value(r))
        parts.append(zlib.crc32(keys[-1]) % 3)
        offsets.append(off)
        if is_poison(seed, off):
            poison += 1
            keys.append(b"poison")
            values.append(POISON_VALUES[off % 3])
            parts.append(0)
            offsets.append(off)
    n = len(keys)
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    table = pa.table(
        {
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "topic": pa.array(["binlog.corpus"] * n, pa.string()),
            "partition": pa.array(parts, pa.int32()),
            "offset": pa.array(offsets, pa.int64()),
            "timestamp": pa.array([ts] * n, pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array([0] * n, pa.int32()),
        }
    )
    pq.write_table(table, path)
    return poison


# ------------------------------------------------------------ shared steps
def batch_records(table, app_id: str) -> list[dict]:
    from data_sync_spark.metrics import MetricsSink

    return [
        r for r in MetricsSink(table.path).records()
        if r.get("app_id") == app_id and "batch_id" in r
    ]


def committed_batches(table, app_id: str) -> list[int]:
    """Batch ids the table's own history shows as committed for ``app_id``
    (each commit that advanced the app's ledger)."""
    seen = []
    for h in reversed(table.history()):
        last = ((h.get("apps") or {}).get(app_id) or {}).get("last_batch_id")
        if last is not None and (not seen or int(last) != seen[-1]):
            seen.append(int(last))
    return seen


def feed_reads(out: Outcome, table, windows: list[tuple[int, int]], tracer, warm) -> None:
    """Classified ``read_changes(...).count()`` per version window; the
    traced run also times the raw (``classify=False``) feed. The ``warm``
    window is read first, untimed, so the timed reads do not carry the read
    path's one-off code generation. Each timed window is read once: a
    second read of the same window finds its file listing cached and runs
    about a third faster, which a consumer reading each window once never
    sees."""
    table.read_changes(*warm).count()
    for lo, hi in windows:
        t0 = time.perf_counter()
        try:
            with _span(tracer, "harness.feed_read"):
                table.read_changes(lo, hi).count()
        except Exception as e:  # a failed read is counted, the run goes on
            _report(f"read_changes({lo}, {hi})", e)
            out.op(False)
            continue
        out.feed_read_s.append(time.perf_counter() - t0)
        out.op(True)
        if tracer is not None:
            t0 = time.perf_counter()
            with tracer.span("harness.raw_feed_read"):
                table.read_changes(lo, hi, classify=False).count()
            out.raw_read_s.append(time.perf_counter() - t0)


def _report(what: str, e: Exception) -> None:
    import sys
    import traceback

    sys.stderr.write(f"perfbench: {what} failed: {e!r}\n")
    traceback.print_exc(file=sys.stderr)


def oracle_state(events_pdf, cfg) -> dict:
    from data_sync_spark.oracle import replay

    return replay(events_pdf, cfg, target_cols=TARGET_COLS)


def oracle_frame(spark, state: dict):
    """An oracle state as a DataFrame of the target schema."""
    import pandas as pd

    from data_sync_spark.schema import TARGET_SCHEMA

    rows = [
        {"doc_id": k[0], "tokens": v["tokens"], "n_tok": v["n_tok"], "source": v["source"]}
        for k, v in state.items()
    ]
    pdf = pd.DataFrame(rows, columns=TARGET_COLS)
    pdf["tokens"] = [None if t is None else [int(x) for x in t] for t in pdf["tokens"]]
    pdf["n_tok"] = pdf["n_tok"].astype("Int32")
    return spark.createDataFrame(pdf, schema=TARGET_SCHEMA)


def state_diff(table, expected: dict) -> int:
    """Rows where the table differs from the oracle state, comparing token
    arrays element by element."""
    actual = {}
    for r in table.read().select(*TARGET_COLS).toPandas().itertuples(index=False):
        toks = None if r.tokens is None else [int(x) for x in r.tokens]
        n = None if r.n_tok is None or r.n_tok != r.n_tok else int(r.n_tok)
        actual[(r.doc_id,)] = (toks, n, r.source)
    bad = len(set(actual) ^ set(expected))
    for k, v in expected.items():
        got = actual.get(k)
        if got is None:
            continue
        toks = None if v["tokens"] is None else [int(x) for x in v["tokens"]]
        n = v["n_tok"]
        n = None if n is None or n != n else int(n)
        if got != (toks, n, v["source"]):
            bad += 1
    return bad


def audit(out: Outcome, spark, table, expected: dict, tracer):
    """``inspector.inspect`` of the table against the oracle state,
    ``AUDIT_REPEATS`` times; ``audit_s`` is the median wall."""
    from data_sync_spark import inspector

    exp_df = oracle_frame(spark, expected)
    walls, report = [], None
    for _ in range(AUDIT_REPEATS):
        t0 = time.perf_counter()
        try:
            with _span(tracer, "harness.audit"):
                report = inspector.inspect(table, expected=exp_df)
        except Exception as e:
            _report("inspect", e)
            return None
        walls.append(time.perf_counter() - t0)
    out.audit_s = stats.median(walls)
    return report


def storage(out: Outcome, table, live_rows: int) -> None:
    """Bytes of data files the current manifest references per live row."""
    files = []
    for entry in table.current()["files"].values():
        files += entry.get("base", []) + entry.get("delta", [])
    out.live_files = len(files)
    total = sum(os.path.getsize(os.path.join(table.path, f)) for f in files)
    out.bytes_per_row = total / max(1, live_rows)


def finish(out: Outcome, spark, table, app_id: str, events_pdf, cfg, base_version,
           tracer, feed: slice, expect_batches=None) -> None:
    """The shared tail of every workload: a read of each committed batch
    window in the ``feed`` slice, after an untimed read of the window
    before them; audit, storage and RSS (measured); then the correctness
    gate (untimed)."""
    from perfbench import engine

    out.records = batch_records(table, app_id)
    committed = [r for r in out.records if r.get("committed")]
    versions = [base_version] + sorted(int(r["version"]) for r in committed)
    windows = list(zip(versions, versions[1:]))
    feed_reads(out, table, windows[feed], tracer, warm=windows[feed.start - 1])

    expected = oracle_state(events_pdf, cfg)
    report = audit(out, spark, table, expected, tracer)
    storage(out, table, report.target_rows if report else table.read().count())
    out.rss_mb = engine.jvm_peak_rss_mb(spark)

    out.check("audit_matches_oracle", report is not None and report.ok,
              report.as_dict() if report else "inspect raised")

    out.check("state_equals_oracle", (diff := state_diff(table, expected)) == 0, diff)
    ledger = committed_batches(table, app_id)
    applied = sorted(int(r["batch_id"]) for r in committed)
    skipped = [r["batch_id"] for r in out.records if r.get("replay_skipped")]
    once = ledger[-len(applied):] == applied if applied else not ledger
    if expect_batches is not None:
        once = once and len(applied) == expect_batches
    out.check("exactly_once", once and not skipped,
              {"ledger": len(ledger), "applied": len(applied), "replayed": skipped})
    seen = sum(int(r.get("events_in") or 0) for r in out.records)
    out.check("events_accounted", seen == out.events, {"seen": seen, "events": out.events})
    quarantined = sum(int(r.get("quarantined") or 0) for r in out.records)
    out.check("no_quarantine", quarantined == 0, quarantined)


def visible_times(out: Outcome, cover: list[int]) -> None:
    commits = [
        (r["ts"], (r.get("lineage") or {}).get("offset_max"))
        for r in out.records if r.get("committed")
    ]
    out.chunk_visible = stats.attribute_commits(cover, commits)
    out.apply_s = [float(r["elapsed_sec"]) for r in out.records if r.get("committed")]


# ------------------------------------------------------------ tail_maxwell
class Publisher(threading.Thread):
    """Open-loop binlog producer: renames chunk ``c`` into the watched
    directory at ``t0 + c * interval`` whether or not the stream keeps up,
    and records when each publish actually happened."""

    def __init__(self, paths: list[str], dest: str, t0: float, interval: float):
        super().__init__(name="perfbench-publisher", daemon=True)
        self.paths, self.dest = paths, dest
        self.due = [t0 + c * interval for c in range(len(paths))]
        self.published: list[float] = []
        self.stop_flag = threading.Event()

    def run(self) -> None:
        for src, due in zip(self.paths, self.due):
            wait = due - time.time()
            if wait > 0 and self.stop_flag.wait(wait):
                return
            os.utime(src)  # the file source orders by modification time
            os.rename(src, os.path.join(self.dest, os.path.basename(src)))
            self.published.append(time.time())


def _wait_visible(table, app_id: str, cover: int, deadline: float) -> bool:
    while time.time() < deadline:
        for r in batch_records(table, app_id):
            off = (r.get("lineage") or {}).get("offset_max")
            if r.get("committed") and off is not None and off >= cover:
                return True
        time.sleep(0.05)
    return False


def _timed_progress(query, table, n_warm: int) -> list:
    """``recentProgress`` of the timed batches that read input. A batch's
    progress is posted after its commit, so wait (briefly) until every
    committed batch has one."""
    n_timed = len([r for r in batch_records(table, "stream") if r.get("committed")]) - n_warm
    deadline = time.time() + 10
    while True:
        progress = [
            p for p in query.recentProgress
            if p["batchId"] >= n_warm and (p.get("numInputRows") or 0) > 0
        ]
        if len(progress) >= n_timed or time.time() > deadline:
            return progress
        time.sleep(0.05)


def tail_maxwell(spark, table, work: str, seed: int, seconds: int, tracer) -> Outcome:
    from data_sync_spark.config import PipelineConfig
    from data_sync_spark.generator import change_feed
    from data_sync_spark.streaming.runner import run_stream
    from data_sync_spark.streaming.wire import kafka_recorded_feed

    out = Outcome()
    cfg = PipelineConfig()
    # at least the batches whose windows feed_reads needs (timed 0 to 2)
    n_sched = max(4, round(seconds / TAIL_INTERVAL_S))
    n_chunks = TAIL_WARMUP_CHUNKS + n_sched
    per_chunk = TAIL_CHUNK_EVENTS

    t0 = time.perf_counter()
    events_pdf = change_feed(spark, n_chunks * per_chunk, n_keys=TAIL_KEYS, seed=seed).toPandas()
    events_pdf["chunk"] = events_pdf["log_offset"] // per_chunk
    out.events = len(events_pdf)
    pending = os.path.join(work, "pending")
    os.makedirs(pending)
    paths, cover = [], []
    for c, part in events_pdf.groupby("chunk", sort=True):
        paths.append(os.path.join(pending, f"frames-{c:05d}.parquet"))
        out.poison += write_frames(part, paths[-1], seed)
        cover.append(int(part["log_offset"].max()))
    out.materialize_s = time.perf_counter() - t0
    if len(paths) != n_chunks or len(cover) != n_chunks:
        raise RuntimeError(f"materialized {len(paths)} chunks, expected {n_chunks}")

    feed_dir = os.path.join(work, "feed")
    os.makedirs(feed_dir)
    feed = kafka_recorded_feed(spark, feed_dir, max_files_per_trigger=n_chunks)
    query = run_stream(
        spark, feed_dir, table, cfg, os.path.join(work, "ckpt"), feed=feed, available_now=False
    )
    if tracer is not None:
        tracer.job_groups.append(str(query.runId))
    try:
        # warm-up, untimed and one batch per chunk: the first batches pay
        # one-off JIT and code-generation costs a long-running tail does
        # not, and a fixed warm-up batch count puts the periodic compaction
        # at the same timed batch in every run
        for c in range(TAIL_WARMUP_CHUNKS):
            Publisher([paths[c]], feed_dir, time.time(), 0.0).run()
            if not _wait_visible(table, "stream", cover[c], time.time() + VISIBLE_DEADLINE_S):
                raise RuntimeError(f"warm-up chunk {c} never became visible")
        n_warm = len([r for r in batch_records(table, "stream") if r.get("committed")])

        pub = Publisher(paths[TAIL_WARMUP_CHUNKS:], feed_dir, time.time() + 0.25, TAIL_INTERVAL_S)
        out.phase_t0 = time.perf_counter()
        pub.start()
        pub.join(seconds + 60)
        if pub.is_alive():
            pub.stop_flag.set()
            pub.join(10)
            raise RuntimeError("publisher overran its schedule")
        _wait_visible(table, "stream", cover[-1], time.time() + VISIBLE_DEADLINE_S)
        out.progress = _timed_progress(query, table, n_warm)
    finally:
        query.stop()
        query.awaitTermination(60)
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream failed: {exc}")

    out.chunk_due, out.chunk_published = pub.due, pub.published
    finish(out, spark, table, "stream", events_pdf.drop(columns=["chunk"]), cfg, 0, tracer,
           feed=TAIL_FEED_WINDOWS)
    visible_times(out, cover)
    # the warm-up chunks and batches stay out of the timed sample
    out.chunk_visible = out.chunk_visible[TAIL_WARMUP_CHUNKS:]
    out.apply_s = out.apply_s[n_warm:]
    out.timed_events = int((events_pdf["chunk"] >= TAIL_WARMUP_CHUNKS).sum())
    for v in out.chunk_visible:
        out.op(v is not None)
    # the stream is busy for each timed batch's whole trigger cycle
    # (epoch overhead included), from the first due publish to the last
    # chunk's commit
    out.busy_frac = stats.busy_frac(
        [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in out.progress],
        out.chunk_due, out.chunk_visible,
    )
    # every frame the decode drops is a poison frame, and only those
    out.frames_dropped = out.poison + out.events - sum(
        int(r.get("events_in") or 0) for r in out.records
    )
    out.check("frames_dropped_eq_poison", out.frames_dropped == out.poison,
              {"dropped": out.frames_dropped, "poison": out.poison})
    if tracer is not None:
        decode_probe(out, spark, [os.path.join(feed_dir, os.path.basename(p)) for p in paths[-3:]], tracer)
    return out


def decode_probe(out: Outcome, spark, frame_files: list[str], tracer) -> None:
    """Traced run only: ``parse_maxwell`` over single recorded chunks,
    counted -- the wire layer in isolation."""
    from data_sync_spark.streaming.wire import KAFKA_SOURCE_SCHEMA, parse_maxwell

    for path in frame_files:
        t0 = time.perf_counter()
        with tracer.span("wire.parse_maxwell"):
            raw = spark.read.schema(KAFKA_SOURCE_SCHEMA).parquet(path)
            parse_maxwell(raw, value_col="value", kafka_offset_col="offset").count()
        out.decode_s.append(time.perf_counter() - t0)


# --------------------------------------------------------- backfill_append
def backfill_append(spark, table, work: str, seed: int, seconds: int, tracer) -> Outcome:
    from data_sync_spark import backfill as backfill_mod
    from data_sync_spark.config import PipelineConfig
    from data_sync_spark.generator import change_feed
    from data_sync_spark.schema import EVENT_SCHEMA
    out = Outcome()
    cfg = PipelineConfig(default_upsert=False)
    chunk = BACKFILL_CHUNK_OFFSETS
    n_timed = max(1, seconds // BACKFILL_SECONDS_PER_CHUNK)
    n_prefix = BACKFILL_PREFIX_EVENTS
    feed_dir = os.path.join(work, "feed")

    t0 = time.perf_counter()
    events_pdf = change_feed(
        spark, n_prefix + chunk * n_timed, n_keys=BACKFILL_KEYS, seed=seed
    ).toPandas()
    os.makedirs(feed_dir)
    write_events(events_pdf, os.path.join(feed_dir, "events.parquet"))
    source = spark.read.schema(EVENT_SCHEMA).parquet(feed_dir)
    offsets = events_pdf["log_offset"]
    out.events = len(events_pdf)
    out.timed_events = int((offsets >= n_prefix).sum())
    # the largest offset of each timed chunk
    cover = [int(offsets[offsets < n_prefix + chunk * (c + 1)].max()) for c in range(n_timed)]
    out.materialize_s = time.perf_counter() - t0

    # the earlier prefix, untimed, as one backfill chunk into the empty
    # table: the timed chunks then merge into a table that already holds
    # state, as a catch-up after an outage does, and do not carry the copy-
    # on-write path's one-off code generation
    base_version = table.current()["version"]
    backfill_mod.backfill(spark, source, table, cfg, chunk_offsets=n_prefix, max_chunks=1)

    due = time.time()
    out.phase_t0 = time.perf_counter()
    with _span(tracer, "harness.backfill"):
        backfill_mod.backfill(spark, source, table, cfg, chunk_offsets=chunk)

    out.chunk_due = out.chunk_published = [due] * n_timed
    # the prefix window is the untimed warm-up read
    finish(out, spark, table, "backfill", events_pdf, cfg, base_version, tracer,
           feed=slice(1, 1 + n_timed), expect_batches=1 + n_timed)
    visible_times(out, cover)
    out.apply_s = out.apply_s[1:]
    for v in out.chunk_visible:
        out.op(v is not None)
    return out


WORKLOADS = {
    "tail_maxwell": tail_maxwell,
    "backfill_append": backfill_append,
}
