"""Linkage benchmark: one workload per invocation.

    python3 perfbench/run.py --workload stream_merge --seed 1 --seconds 30 --trace 0

Run from the repository root. Prints a human-readable report (every
metric with its unit, every ratio with its numerator and denominator,
failed operations and Spark errors logged on the driver), then, as the
last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Exits 1 when a correctness gate fails or an
operation failed, 2 when the program under test is missing.

A traced run reports the time its span bookkeeping took
(``trace.bookkeeping_s``). Its spans are written to
``.perfbench/runs/<run>/spans.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.harness import (  # noqa: E402
    Fd2Capture,
    Ops,
    RssSampler,
    clock,
    start_spark,
    stop_spark,
    task_slots,
)

E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op2_p50_s": "s",
    "quality_f1": "ratio",
    "peak_rss_mb": "MB",
}

_SPARK_UNITS = {
    "jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "gc_share": "ratio", "cpu_share": "ratio", "task_skew": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import SPARK_LAYERS
    from perfbench.workloads import ANN_QUERIES, DEDUP_QUERIES

    u = {
        "functions.normalize_tokens.us_per_text": "us",
        "functions.sim_scores.us_per_pair": "us",
        "functions.minhash.us_per_sig": "us",
        "signatures.busy_s": "s",
        "signatures.rows_out": "count",
        "blocking.busy_s": "s",
        "blocking.keys_per_conv": "ratio",
        "blocking.max_block_size": "count",
        "candidate_pairs.busy_s": "s",
        "candidate_pairs.pairs_per_conv": "ratio",
        "candidate_pairs.pair_completeness": "ratio",
        "candidate_pairs.match_share": "ratio",
        "scoring.busy_s": "s",
        "scoring.pairs_per_s": "1/s",
        "clustering.busy_s": "s",
        "clustering.n_components": "count",
        "checkpoint.fingerprint_s": "s",
        "checkpoint.load_s": "s",
        "checkpoint.write_s": "s",
        "checkpoint.append_s": "s",
        "checkpoint.expire_s": "s",
        "checkpoint.data_files": "count",
        "checkpoint.mb_written": "MB",
        "merge.self_s": "s",
        "merge.new_pairs_per_conv": "ratio",
    }
    for q in DEDUP_QUERIES:
        u[f"dedup.{q}.busy_s"] = "s"
        u[f"dedup.{q}.rows_out"] = "count"
    for q in ANN_QUERIES:
        u[f"ann.{q}.busy_s"] = "s"
    for layer in SPARK_LAYERS:
        for k, unit in _SPARK_UNITS.items():
            u[f"spark.{layer}.{k}"] = unit
    u["trace.bookkeeping_s"] = "s"
    return u


def _loop(ctx, wl, seconds: float) -> None:
    """Closed loop: run operations until ``seconds`` have passed and each
    op kind has its minimum sample count, or the input supply runs out."""
    t0 = clock()
    while True:
        if clock() - t0 >= seconds and all(
            len(ctx.timings.get(k, [])) >= n for k, n in wl.kinds.items()
        ):
            return
        if ctx.ops.failed > 20 or not wl.step():
            return


def _layer_report(ctx, tracer, events) -> None:
    from perfbench import kernels
    from perfbench.trace import (
        SPARK_LAYERS,
        effective_spans,
        layer_busy,
        self_by_layer,
        spark_layer_metrics,
    )

    L = ctx.layers
    texts, pairs = ctx.kernel_inputs
    k = kernels.measure(texts, pairs, ctx.seed)
    for name in ("normalize_tokens.us_per_text", "sim_scores.us_per_pair", "minhash.us_per_sig"):
        L[f"functions.{name}"] = k[name]
    ctx.report.append(
        f"functions (in-process, {k['texts']} texts, {k['sim_scores.pairs']} pairs): "
        f"normalize {k['normalize_tokens.us_per_text']:.1f} us/text, "
        f"sim_scores {k['sim_scores.us_per_pair']:.1f} us/pair, "
        f"minhash {k['minhash.us_per_sig']:.1f} us/sig"
    )
    if L.get("scoring.pairs_per_s"):
        kernel_pps = 1e6 / k["sim_scores.us_per_pair"] * task_slots()
        ctx.report.append(
            f"engine overhead: in-process {kernel_pps:.0f} pairs/s over {task_slots()} slots"
            f" vs scoring stage {L['scoring.pairs_per_s']:.0f} pairs/s"
        )

    sm = spark_layer_metrics(events, tracer)
    for layer in SPARK_LAYERS:
        d = sm.get(layer, {})
        for key in _SPARK_UNITS:
            L[f"spark.{layer}.{key}"] = d.get(key, 0)

    # the wrappers' own cost, measured inside the spans; the event log's
    # cost to Spark is not separated from the program's
    L["trace.bookkeeping_s"] = tracer.bookkeeping_s
    ops_s = layer_busy(tracer.spans, "workload")
    ctx.report.append(
        f"trace.bookkeeping_s = {tracer.bookkeeping_s:.4f} s span bookkeeping"
        f" / {ops_s:.3f} s traced op spans"
    )
    # self time per layer, as a share of the traced op spans
    for layer, s in sorted(self_by_layer(effective_spans(tracer.spans)).items(),
                           key=lambda x: -x[1]):
        ctx.report.append(
            f"self time {layer}: {s:.3f} s / {ops_s:.3f} s traced op spans = "
            f"{s / ops_s if ops_s else 0:.3f}"
        )
    for layer, d in sorted(sm.items()):
        if "task_run_s" in d:
            ctx.report.append(
                f"spark.{layer}: {d['jobs']} jobs, task run {d['task_run_s']:.3f} s, "
                f"cpu_share {d['cpu_share']:.3f}, gc_share {d['gc_share']:.3f}, "
                f"shuffle {d['shuffle_write_mb']:.3f} MB, skew {d['task_skew']:.2f}"
            )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="make one timed operation fail (smoke test)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="fixture size factor (smoke test: 0.25)")
    args = ap.parse_args(argv)

    if not (ROOT / "poi_name_matching_spark" / "__init__.py").is_file():
        print(f"perfbench: no poi_name_matching_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Ctx, warm_python_workers

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from perfbench.trace import Tracer, read_event_log

    bench = ROOT / ".perfbench"
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = bench / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    event_dir = run_dir / "eventlog" if args.trace else None

    ops = Ops()
    spark = None
    ctx = wl = tracer = None
    aborted = False
    phases: dict[str, float] = {}
    with RssSampler() as rss, Fd2Capture(run_dir / "driver.log") as log:
        try:
            t = clock()
            spark = start_spark(run_dir, event_dir)
            warm_python_workers(spark, task_slots())
            phases["session"] = clock() - t
            tracer = Tracer(run_id, spark.sparkContext, enabled=bool(args.trace))
            ctx = Ctx(spark, run_dir, bench / "fixtures", args.seed, args.seconds,
                      tracer, ops, trace=bool(args.trace),
                      inject_failure=args.inject_failure, scale=args.scale)
            wl = WORKLOADS[args.workload](ctx)
            t = clock()
            wl.prepare()  # fixture generation: not part of set-up time
            phases["fixture"] = clock() - t
            tracer.instrument()
            t = clock()
            _loop(ctx, wl, args.seconds)
            phases["loop"] = clock() - t
            tracer.uninstrument()
            t = clock()
            wl.finish()
            phases["finish"] = clock() - t
        except Exception as e:  # noqa: BLE001 — report, then fail the run
            import traceback

            aborted = True
            ops.failed += 1
            ops.attempted += 1
            ops.failures.append(f"run aborted: {type(e).__name__}: {e}\n"
                                + traceback.format_exc(limit=6))
        finally:
            if spark is not None:
                t = clock()
                stop_spark(spark)
                phases["stop"] = clock() - t
    errors = log.errors()

    if args.trace and not aborted:
        try:
            events = read_event_log(event_dir) if event_dir and event_dir.exists() else []
            _layer_report(ctx, tracer, events)
            tracer.write(run_dir / "spans.json")
            ctx.report.append(f"spans: {len(tracer.spans)} written to "
                              f"{(run_dir / 'spans.json').relative_to(ROOT)}")
        except Exception as e:  # noqa: BLE001
            ops.failed += 1
            ops.attempted += 1
            ops.failures.append(f"layer metrics: {type(e).__name__}: {e}")

    e2e = dict(ctx.e2e) if ctx else {}
    e2e["setup_s"] = (phases.get("session", 0.0), "s")
    e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
    if args.trace:
        units = per_layer_units()
        values = ctx.layers if ctx else {}
    else:
        units = E2E
        values = {k: v for k, (v, _) in e2e.items()}

    metrics = {}
    for name, unit in units.items():
        v = values.get(name, 0.0)
        v = float(v) if v is not None and not (isinstance(v, float) and math.isnan(v)) else 0.0
        metrics[name] = {"value": v, "unit": unit}

    correct = ops.failed == 0 and ops.gates_ok and bool(ops.gates)
    lines = [f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
             f"trace {args.trace}: {task_slots()} task slots",
             "phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items())]
    if ctx:
        lines += ctx.report
    lines.append(
        f"failed_op_share = {ops.failed} failed / {ops.attempted} attempted = "
        f"{ops.failed / max(ops.attempted, 1):.4f}"
    )
    lines.append("gates: " + ", ".join(f"{k}={'ok' if v else 'FAILED'}"
                                       for k, v in ops.gates.items()))
    lines += [f"failure: {f}" for f in ops.failures]
    lines.append(f"spark driver errors logged: {len(errors)}")
    lines += [f"driver error: {e}" for e in errors[:10]]
    for name, m in metrics.items():
        lines.append(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print("\n".join(lines))
    print(json.dumps({"correct": correct, "attempted": max(ops.attempted, 1),
                      "failed": ops.failed, "metrics": metrics}), flush=True)
    shutil.rmtree(run_dir / "checkpoint", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
