"""Turn a run's records and spans into the result line.

End-to-end metrics (``--trace 0``) are the same on every workload; the
workload decides what one operation is. Per-layer metrics
(``--trace 1``) are medians over the timed operations that called into
the layer, or over the set-up calls for a layer no operation calls
(the writer on scan_asof). A layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
import sys
from collections import defaultdict

from perfbench import workloads
from perfbench.tracing import median

READS = ("lookup", "readback", "scan", "sql_agg", "sql_join", "sql_topk")

#: per-layer metrics printed as report lines only: checkpoints run only
#: in ingest_mixed, so this time reads 0 on the other workloads, and a
#: benchmark time must never be a constant
REPORT_ONLY = ("maintenance.checkpoint_s",)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(bench, samples, spark_start: float, builds: list[float]) -> dict:
    lookups = [r.seconds for r in bench.records if r.kind in workloads.LOOKUP_KINDS]
    return {
        "setup_s": _metric(spark_start + statistics.median(builds), "s"),
        "op_p50_s": _metric(workloads.quantile(samples, 0.5), "s"),
        "lookup_p50_s": _metric(workloads.quantile(lookups, 0.5), "s"),
        "storage_amplification": _metric(bench.amplification, "ratio"),
    }


def end_to_end_report(bench, samples) -> dict:
    """Report lines only: their run-to-run spread is wider than the
    largest bound BENCHMARK.json accepts (see README.md)."""
    return {
        "ops_per_s": _metric(len(samples) / (sum(samples) or 1), "1/s"),
        "op_p90_s": _metric(workloads.quantile(samples, 0.9), "s"),
        "peak_rss_mb": _metric(workloads.peak_rss_mb(bench.spark), "MiB"),
    }


def _layer_spans(spans, self_times, name: str) -> list[tuple]:
    """``(span, self time)`` of layer ``name`` inside timed operations, or
    of the set-up calls when no operation calls the layer."""
    found = [(s, st) for s, st in zip(spans, self_times) if s.name == name]
    return [x for x in found if x[0].op is not None] or found


def _per_op(found) -> list[float]:
    """Self time summed per operation (set-up calls count singly)."""
    sums: dict = defaultdict(float)
    for i, (s, st) in enumerate(found):
        sums[s.op if s.op is not None else ("call", i)] += st
    return list(sums.values())


def per_layer(bench) -> dict:
    tr = bench.tracer
    spans, self_t = tr.spans, tr.self_times()
    traced = [r for r in bench.records if r.traced]
    c = [r.counters for r in traced]
    reads = [r.counters for r in traced if r.kind in READS]
    remote = [x for x in c if "gets" in x]

    def unit(name):
        return median(_per_op(_layer_spans(spans, self_t, name)))

    def attr(name, key):
        return median(
            s.attrs[key] for s, _ in _layer_spans(spans, self_t, name) if key in s.attrs
        )

    prunes = [s for s, _ in _layer_spans(spans, self_t, "metadata.prune")]
    kept_ratio = (
        sum(s.attrs["kept"] for s in prunes) / max(1, sum(s.attrs["total"] for s in prunes))
    )
    # py4j round trips per outermost build call (nested builds are views
    # registered by a SQL statement and already counted by their parent)
    builds = [
        s for s in spans
        if s.name == "lakehouse.build"
        and (s.parent is None or spans[s.parent].name != "lakehouse.build")
    ]
    rows_out = sum(x["rows_out"] for x in reads)
    out = {
        "table.resolve_s": (unit("table.resolve"), "s"),
        "table.snapshot_bytes": (attr("table.resolve", "bytes"), "bytes"),
        "metadata.prune_s": (unit("metadata.prune"), "s"),
        "metadata.files_total": (attr("metadata.prune", "total"), "count"),
        "metadata.files_kept": (attr("metadata.prune", "kept"), "count"),
        "metadata.kept_ratio": (kept_ratio, "ratio"),
        "lakehouse.build_s": (unit("lakehouse.build"), "s"),
        "lakehouse.py4j_calls": (median(s.attrs["py4j"] for s in builds), "count"),
        "sql.rewrite_s": (unit("sql.rewrite"), "s"),
        "sql.views_registered": (attr("sql.rewrite", "views"), "count"),
        "exec.action_s": (unit("exec.action"), "s"),
        "exec.jobs": (median(x["jobs"] for x in c), "count"),
        "exec.stages": (median(x["stages"] for x in c), "count"),
        "exec.tasks": (median(x["tasks"] for x in c), "count"),
        "exec.input_bytes": (median(x["input_bytes"] for x in reads), "bytes"),
        "exec.rows_read_per_row_out": (
            sum(x["input_records"] for x in reads) / max(1, rows_out), "ratio"
        ),
        "exec.shuffle_write_bytes": (median(x["shuffle_write_bytes"] for x in c), "bytes"),
        "exec.spill_bytes": (median(x["spill_bytes"] for x in c), "bytes"),
        "exec.persistent_rdds_left": (
            max([r.counters["persistent_rdds_left"] for r in bench.records] or [0]),
            "count",
        ),
        "s3server.gets": (median(x["gets"] for x in remote), "count"),
        "s3server.meta_gets": (median(x["meta_gets"] for x in remote), "count"),
        "s3server.get_bytes": (median(x["get_bytes"] for x in remote), "bytes"),
        "datasource.tasks": (
            median(x["first_stage_tasks"] for x in remote), "count"
        ),
        "writer.append_s": (unit("writer.append"), "s"),
        "writer.files_written": (attr("writer.append", "files"), "count"),
        "writer.bytes_written": (attr("writer.append", "bytes"), "bytes"),
        "writer.versions": (
            float(bench.lh.table(workloads.TABLE).current_version()), "count"
        ),
        "maintenance.checkpoint_s": (unit("maintenance.checkpoint"), "s"),
        "maintenance.bytes_rewritten": (attr("maintenance.checkpoint", "bytes"), "bytes"),
        "maintenance.vacuum_s": (unit("maintenance.vacuum"), "s"),
        "maintenance.files_deleted": (attr("maintenance.vacuum", "files"), "count"),
    }
    return {k: _metric(v, u) for k, (v, u) in out.items()}


def _line(label: str, values: list[float]) -> str:
    return (
        f"# {label:<12} n={len(values):<4} p50={workloads.quantile(values, 0.5):.4f} s "
        f"p90={workloads.quantile(values, 0.9):.4f} s, in order: "
        + " ".join(f"{v:.2f}" for v in values)
    )


def summarize(bench, samples, spark_start, builds, traced: bool) -> dict:
    records = bench.records
    failed = sum(1 for r in records if not r.ok)
    by_kind: dict = defaultdict(list)
    for r in records:
        by_kind[r.kind].append(r.seconds)
    print(f"# workload {bench.workload} seed {bench.seed}: "
          f"spark start {spark_start:.2f} s, builds "
          + ", ".join(f"{b:.2f}" for b in builds) + " s")
    for kind, values in sorted(by_kind.items()):
        print(_line(kind, values))
    print(f"# failed_ops_ratio {failed / max(1, len(records)):.4f} "
          f"({failed} of {len(records)})")
    if traced:
        on = [r.seconds for r in records if r.traced]
        off = [r.seconds for r in records if not r.traced]
        if on and off:
            print(f"# tracing overhead: median traced - untraced op = "
                  f"{median(on) - median(off):+.4f} s ({len(on)} vs {len(off)} ops)")
        metrics = per_layer(bench)
        extra = {k: metrics.pop(k) for k in REPORT_ONLY}
    else:
        metrics = end_to_end(bench, samples, spark_start, builds)
        extra = end_to_end_report(bench, samples)
    for name, m in {**metrics, **extra}.items():
        print(f"# {name} = {m['value']} {m['unit']}")
    ok = failed == 0 and bench.warm_failures == 0 and bench.hygiene_failures == 0
    if not ok:
        print("perfbench: run is NOT correct", file=sys.stderr)
    return {
        "correct": ok,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }
