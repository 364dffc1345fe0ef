"""CDC engine benchmark: one workload per run, measured end to end (or, with
``--trace 1``, layer by layer), checked against the dict-replay oracle.

    python3 perfbench/run.py --workload tail_maxwell --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --aa 5 --seconds 16          # self-vs-self check

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The run exits 1 when an output is wrong and 2
when it cannot run (no engine next to the benchmark, bad arguments).
See ``perfbench/README.md`` for the workloads and metrics."""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import engine, report, stats  # noqa: E402


def install_spans(tracer) -> None:
    """Wrap the public entry points of each layer for the traced run."""
    from data_sync_spark import backfill, inspector
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.lake.backend import LocalFSBackend
    from data_sync_spark.streaming import runner

    tracer.wrap(runner, "apply_batch", "runner.apply_batch", batch_arg=2, jobs=True)
    tracer.wrap(runner, "net_changes", "pipeline.net_changes")
    tracer.wrap(backfill, "apply_batch", "backfill.apply_batch", batch_arg=2, jobs=True)
    tracer.wrap(LakeTable, "merge", "lake.merge",
                result_tag=lambda r: {"mode": r.mode if r.committed else "skip",
                                      "files": r.files_written})
    tracer.wrap(LakeTable, "compact", "lake.compact")
    tracer.wrap(LakeTable, "read", "lake.read")
    tracer.wrap(LakeTable, "read_changes", "lake.read_changes")
    for name in ("put_manifest_exclusive", "swap_pointer", "read_manifest"):
        tracer.wrap(LocalFSBackend, name, f"backend.{name}")
    tracer.wrap(inspector, "inspect", "inspector.inspect")


def run_one(args) -> int:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    scratch = engine.pin_env(args.workload)
    try:
        spark = engine.start_session(scratch)
        try:
            table = engine.new_table(spark, os.path.join(scratch, "table"))
            setup_s = engine.since(T0)
            tracer = Tracer(spark) if args.trace else None
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    install_spans(tracer)
                out = WORKLOADS[args.workload](spark, table, scratch, args.seed, args.seconds, tracer)
            finally:
                if tracer is not None:
                    tracer.uninstall()
            work_s = time.perf_counter() - t0
        finally:
            engine.stop_session(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    if tracer is None:
        metrics = report.end_to_end(out, setup_s)
    else:
        metrics = report.per_layer(out, tracer, work_s)
        os.makedirs(engine.OUT, exist_ok=True)
        stem = os.path.join(engine.OUT, f"trace-{args.workload}-{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        with open(stem + ".self_s.json", "w") as f:
            json.dump(report.self_time_by_layer(tracer), f, indent=1, sort_keys=True)

    correct = out.failed == 0  # every check miss and failed operation counts
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={engine.cpus()}")
    lags, _ = stats.chunk_lags(out.chunk_due, out.chunk_visible)
    print(f"lag samples={len(lags)} beyond p90={stats.beyond(len(lags), 90)} "
          f"(ten or more: {stats.supported(len(lags), 90)}) busy_frac={out.busy_frac:.3f} "
          f"ops_failed_frac={stats.failed_frac(out.attempted, out.failed):.6f}")
    for name, c in out.checks.items():
        print(f"check {name}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


# ----------------------------------------------------------------- A/A mode
def run_aa(args) -> int:
    """Interleave two sets of untraced runs of this checkout (ABBA order,
    pair ``i`` on seed ``seed + i``) and report, per workload and metric,
    whether the two sets agree within the bounds in ``BENCHMARK.json``."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}
    verdict = {}
    ok_all = True
    for w in (w["name"] for w in bench["workloads"]):
        runs = {"A": [], "B": []}
        for i in range(args.aa):
            for side in ("AB" if i % 2 == 0 else "BA"):
                cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                       "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", "0"]
                proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
                if proc.returncode != 0:
                    sys.stderr.write(f"{w} run {side}{i} failed (exit {proc.returncode}):\n"
                                     f"{proc.stdout[-1000:]}{proc.stderr[-2000:]}\n")
                    return 1
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                runs[side].append({k: v["value"] for k, v in res["metrics"].items()})
        verdict[w] = {}
        for name, (bound, better) in bounds.items():
            a = [r[name] for r in runs["A"]]
            b = [r[name] for r in runs["B"]]
            v = stats.agree(a, b, bound, better)
            v["bound"] = bound
            verdict[w][name] = v
            ok_all &= v["agree"]
            print(f"{w:16s} {name:24s} A={v['median_a']:.6g} B={v['median_b']:.6g} "
                  f"worse_by={v['worse_by']:+.3f} bound={bound} "
                  f"spread A/B={v['spread_a']:.3f}/{v['spread_b']:.3f} "
                  f"{'agree' if v['agree'] else 'DISAGREE'}")
    print(json.dumps({"aa_agree": ok_all, "runs_per_set": args.aa, "workloads": verdict}))
    return 0 if ok_all else 1


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--aa", type=int, default=0, metavar="N",
                    help="self-vs-self mode: N interleaved pairs per workload")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    engine.check_checkout()
    if args.aa:
        return run_aa(args)
    if args.workload is None:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
