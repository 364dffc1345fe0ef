"""Turn one run's raw measurements into the metrics ``BENCHMARK.json``
names: end-to-end metrics for untraced runs, per-layer metrics from the
spans of a traced run. A layer a workload does not exercise reads 0."""

from __future__ import annotations

from perfbench import stats


def _p50(values) -> float:
    return stats.median(values) if values else 0.0


def _mean(values) -> float:
    return sum(values) / len(values) if values else 0.0


def end_to_end(out, setup_s: float) -> dict:
    lags, _ = stats.chunk_lags(out.chunk_due, out.chunk_visible)
    seen = [v for v in out.chunk_visible if v is not None]
    return {
        "setup_s": (setup_s, "s"),
        "lag_p50_s": (stats.nearest_rank(lags, 50), "s"),
        "lag_p90_s": (stats.nearest_rank(lags, 90), "s"),
        "drain_events_per_s": (out.timed_events / (max(seen) - min(out.chunk_due)), "events/s"),
        "backfill_events_per_s": (out.timed_events / sum(out.apply_s), "events/s"),
        "feed_read_p50_s": (stats.median(out.feed_read_s), "s"),
        "audit_s": (out.audit_s, "s"),
        "table_bytes_per_live_row": (out.bytes_per_row, "bytes"),
        "jvm_peak_rss_mb": (out.rss_mb, "MB"),
    }


def _dur(s) -> float:
    return s["end"] - s["start"]


def per_layer(out, tracer, work_s: float) -> dict:
    spans = [s for s in tracer.spans if "end" in s and s["start"] >= out.phase_t0]
    by_id = {s["id"]: s for s in tracer.spans}

    def named(name):
        return [s for s in spans if s["name"] == name]

    def ancestors(s):
        p = s.get("parent")
        while p is not None:
            yield by_id[p]
            p = by_id[p].get("parent")

    def under(s, names) -> bool:
        return any(a["name"] in names for a in ancestors(s))

    def reads_in(audit) -> float:
        return sum(_dur(r) for r in named("lake.read")
                   if any(a["id"] == audit["id"] for a in ancestors(r)))

    batches = named("runner.apply_batch") + named("backfill.apply_batch")
    merges = named("lake.merge")
    compacts = named("lake.compact")
    puts = named("backend.put_manifest_exclusive")
    swaps = named("backend.swap_pointer")
    # a commit is one conditional put followed by its pointer swap
    ok_puts = [s for s in puts if "error" not in s]
    commit_s = [_dur(p) + _dur(w) for p, w in zip(ok_puts, swaps)]
    batch_names = {"runner.apply_batch", "backfill.apply_batch"}
    manifest_reads = [s for s in named("backend.read_manifest") if under(s, batch_names)]
    epoch = [
        (p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)) / 1000.0
        for p in out.progress if (p.get("numInputRows") or 0) > 0
    ]
    recs = out.records
    events_in = sum(int(r.get("events_in") or 0) for r in recs)
    backfill_call = named("harness.backfill")
    chunks = [s for s in named("backfill.apply_batch") if under(s, {"harness.backfill"})]
    lateness = [p - d for p, d in zip(out.chunk_published, out.chunk_due)]
    return {
        "wire.decode_s_per_chunk": (_p50(out.decode_s), "s"),
        "wire.frames_dropped": (out.frames_dropped, "count"),
        "runner.apply_batch_s_p50": (_p50([_dur(s) for s in named("runner.apply_batch")]), "s"),
        "runner.epoch_overhead_s_p50": (_p50(epoch), "s"),
        "runner.backlog_max_chunks": (stats.backlog_max(out.chunk_published, out.chunk_visible), "count"),
        "runner.batches": (len(named("runner.apply_batch")), "count"),
        "runner.busy_frac": (out.busy_frac, "ratio"),
        "pipeline.plan_s_p50": (_p50([_dur(s) for s in named("pipeline.net_changes")]), "s"),
        "pipeline.net_rows_per_event": (
            sum(int(r.get("net_rows") or 0) for r in recs) / events_in if events_in else 0.0, "ratio"),
        "pipeline.quarantined": (sum(int(r.get("quarantined") or 0) for r in recs), "count"),
        "lake.merge_s_p50": (_p50([_dur(s) for s in merges if s.get("mode") == "mor"]), "s"),
        "lake.cow_merge_s_p50": (_p50([_dur(s) for s in merges if s.get("mode") == "cow"]), "s"),
        "lake.compactions": (len(compacts), "count"),
        "lake.compact_s_total": (sum(_dur(s) for s in compacts), "s"),
        "lake.files_written_per_batch": (_mean([s.get("files", 0) for s in merges]), "count"),
        "lake.live_files": (out.live_files, "count"),
        "lake.read_s": (_p50([reads_in(a) for a in named("harness.audit")]), "s"),
        "backend.commit_s_p50": (_p50(commit_s), "s"),
        "backend.commits": (len(swaps), "count"),
        "backend.commit_conflicts": (len(puts) - len(ok_puts), "count"),
        "backend.manifest_reads_per_batch": (len(manifest_reads) / len(batches) if batches else 0.0, "count"),
        "changes.read_s_p50": (_p50(out.feed_read_s), "s"),
        "changes.raw_read_s_p50": (_p50(out.raw_read_s), "s"),
        "backfill.chunk_s_p50": (_p50([_dur(s) for s in chunks]), "s"),
        "backfill.probe_s": (
            sum(_dur(s) for s in backfill_call) - sum(_dur(s) for s in chunks), "s"),
        "spark.jobs_per_batch": (_mean([s.get("jobs", 0) for s in batches]), "count"),
        "spark.tasks_per_batch": (_mean([s.get("tasks", 0) for s in batches]), "count"),
        "gen.materialize_s": (out.materialize_s, "s"),
        "gen.late_max_s": (max(lateness) if lateness else 0.0, "s"),
        "trace.overhead_frac": (tracer.overhead_s / work_s, "ratio"),
    }


def self_time_by_layer(tracer) -> dict:
    """Total self time per span name: where the traced run's time went."""
    own = stats.self_times([s for s in tracer.spans if "end" in s])
    totals: dict[str, float] = {}
    for s in tracer.spans:
        if s["id"] in own:
            totals[s["name"]] = totals.get(s["name"], 0.0) + own[s["id"]]
    return totals
