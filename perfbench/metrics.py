"""Turn a run's op records, seam counters and spans into the reported
metrics.  ``END_TO_END`` and ``PER_LAYER`` list every metric with its unit;
BENCHMARK.json lists the same names (a test checks that they agree)."""

from __future__ import annotations

import harness
import tracing

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s_per_op": "s",
    "driver_peak_rss_mb": "MB",
}

_EXEC = {
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.executor_run_s": "s/op",
    "exec.executor_cpu_s": "s/op",
    "exec.jvm_gc_s": "s/op",
    "exec.shuffle_read_bytes": "B/op",
    "exec.shuffle_write_bytes": "B/op",
    "exec.spill_bytes": "B/op",
    "exec.input_bytes": "B/op",
    "exec.action_s": "s/op",
    "exec.slot_busy_ratio": "ratio",
}

_SOURCES = {
    f"sources.{fmt}.{k}": u
    for fmt in ("delta", "iceberg", "hudi")
    for k, u in (("walks", "count/op"), ("walk_s", "s/op"),
                 ("walk_driver_cpu_s", "s/op"), ("entries", "count/op"))
}

#: operators rotated by llm_curate
OPERATORS = ("curate", "minhash_dedup", "semantic_dedup")

PER_LAYER = {
    "transformer.s": "s/op",
    "transformer.refs": "count/op",
    "cache.metadata_hit_ratio": "ratio",
    "cache.listing_hit_ratio": "ratio",
    "cache.metadata_reloads": "count",
    "cache.listing_reloads": "count",
    "catalog.get_table_calls": "count/op",
    "catalog.get_partitions_calls": "count/op",
    "catalog.s": "s/op",
    "listing.list_calls": "count/op",
    "listing.objects": "count/op",
    "listing.s": "s/op",
    **_SOURCES,
    "pruning.files_in": "count/op",
    "pruning.files_out": "count/op",
    "pruning.s": "s/op",
    "skipping.files_skipped": "count/op",
    "skipping.s": "s/op",
    "scan.s": "s/op",
    "scan.native_scans": "count/op",
    "scan.kept_ratio": "ratio",
    "engine.sql_s": "s/op",
    "engine.plan_self_s": "s/op",
    **_EXEC,
    "transfer.rows": "rows/op",
    "transfer.bytes": "B/op",
    "sinks.commit_s": "s/write",
    "sinks.files_written": "count/write",
    "sinks.bytes_written": "B/write",
    "sinks.write_amp": "ratio",
    "sinks.log_entries": "count",
    "operators.call_s": "s/op",
    "operators.action_s": "s/op",
    **{
        f"operators.{op}.{k}": "s/op"
        for op in OPERATORS
        for k in ("call_s", "action_s", "executor_cpu_s")
    },
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "stored_bytes_per_live_byte": "ratio",
    "rows_per_s": "rows/s",
    "ops_per_s": "1/s",
    "jvm.jit_cpu_s": "s/op",
    "failed_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.spans_per_op": "count/op",
}


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def _tail(values: list[float], q: float) -> float:
    return harness.percentile(values, q) if values else 0.0


def _p50(values: list[float]) -> float:
    return harness.median(values) if values else 0.0


def compute(args, wl, records, final_errors, extra, *, setups, wall,
            rss, cores, tracer, throughput) -> dict:
    ok = [r for r in records if r.error is None]
    failed = len(records) - len(ok) + len(final_errors)
    attempted = len(records) + wl.final_checks
    for r in records:
        if r.error is not None:
            print(f"FAILED {r.op_id} {r.label}: {r.error}")
    for e in final_errors:
        print(f"FAILED final check: {e}")
    lat = [r.latency for r in ok]
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    print(
        f"{args.workload}: {len(records)} ops ({len(ok)} ok) in {wall:.1f} s, "
        f"tail q={wl.tail_q}, setups {[round(s, 3) for s in setups]}"
    )
    if not args.trace:
        out["metrics"] = {
            "setup_s": _m(harness.median(setups), "s"),
            "op_p50_s": _m(_p50(lat), "s"),
            "op_tail_s": _m(_tail(lat, wl.tail_q), "s"),
            "cpu_s_per_op": _m(
                harness.interquartile_mean([r.cpu_s for r in ok]), "s"),
            "driver_peak_rss_mb": _m(rss, "MB"),
        }
        return out
    vals = per_layer(wl, records, extra, cores, tracer, failed, attempted)
    vals["ops_per_s"] = throughput
    vals["jvm.jit_cpu_s"] = _mean(sum(r.jit_cpu_s for r in ok), len(ok))
    out["metrics"] = {k: _m(v, PER_LAYER[k]) for k, v in vals.items()}
    return out


def per_layer(wl, records, extra, cores, tracer, failed,
              attempted) -> dict[str, float]:
    vals = dict.fromkeys(PER_LAYER, 0.0)
    n = len(records)
    traced = [r for r in records if tracing.traced(r.op_id)]
    traced_ids = {r.op_id for r in traced}
    nt = len(traced)
    spans = [s for s in tracer.spans if s.op in traced_ids]
    layers = tracing.layer_totals(spans)

    def lay(name: str, key: str = "self_s") -> float:
        return layers.get(name, {}).get(key, 0.0)

    vals["transformer.s"] = _mean(lay("transformer"), nt)
    vals["transformer.refs"] = _mean(lay("transformer", "refs"), nt)
    vals.update(harness.cache_stats(records, wl.store, wl.fs))
    vals["catalog.get_table_calls"] = _mean(wl.store.get_table_calls, n)
    vals["catalog.get_partitions_calls"] = _mean(
        wl.store.get_partitions_calls, n)
    vals["catalog.s"] = _mean(wl.store.seconds, n)
    vals["listing.list_calls"] = _mean(wl.fs.calls, n)
    vals["listing.objects"] = _mean(wl.fs.objects, n)
    vals["listing.s"] = _mean(wl.fs.seconds, n)
    for fmt in ("delta", "iceberg", "hudi"):
        name = f"sources.{fmt}"
        vals[f"{name}.walks"] = _mean(lay(name, "calls"), nt)
        vals[f"{name}.walk_s"] = _mean(lay(name), nt)
        vals[f"{name}.walk_driver_cpu_s"] = _mean(
            lay(name, "thread_cpu_s"), nt)
        vals[f"{name}.entries"] = _mean(lay(name, "entries"), nt)
    vals["pruning.files_in"] = _mean(lay("pruning", "files_in"), nt)
    vals["pruning.files_out"] = _mean(lay("pruning", "files_out"), nt)
    vals["pruning.s"] = _mean(lay("pruning"), nt)
    vals["skipping.files_skipped"] = _mean(
        lay("skipping", "files_skipped"), nt)
    vals["skipping.s"] = _mean(lay("skipping"), nt)
    vals["scan.s"] = _mean(lay("scan"), nt)
    vals["scan.native_scans"] = _mean(lay("scan", "native"), nt)
    # files handed to Spark over files listed: the listing is what enters
    # partition pruning; a scan with no pruning call counts its own files
    handed = listed = 0
    by_op: dict[str, dict[str, float]] = {}
    for s in spans:
        d = by_op.setdefault(s.op, {"handed": 0, "listed": 0})
        if s.name == "scan":
            d["handed"] += s.counts.get("files", 0)
        elif s.name == "pruning":
            d["listed"] += s.counts.get("files_in", 0)
    for d in by_op.values():
        handed += d["handed"]
        listed += d["listed"] or d["handed"]
    vals["scan.kept_ratio"] = handed / listed if listed else 0.0
    vals["engine.sql_s"] = _mean(lay("engine.sql", "s"), nt)
    vals["engine.plan_self_s"] = _mean(lay("engine.sql"), nt)
    for k in harness.EXEC_KEYS:
        vals[f"exec.{k}"] = _mean(sum(r.exec.get(k, 0) for r in records), n)
    action = sum(r.end - r.call_end for r in records)
    vals["exec.action_s"] = _mean(action, n)
    vals["exec.slot_busy_ratio"] = (
        sum(r.exec.get("executor_run_s", 0) for r in records)
        / (action * cores) if action else 0.0
    )
    vals["transfer.rows"] = _mean(sum(r.result_rows for r in records), n)
    vals["transfer.bytes"] = _mean(sum(r.result_bytes for r in records), n)
    writes = [r for r in traced if r.writes]
    vals["sinks.commit_s"] = _mean(lay("sinks"), len(writes))
    ok = [r for r in records if r.error is None]
    vals["failed_ratio"] = failed / attempted if attempted else 0.0
    vals["trace.overhead_s"] = trace_overhead(ok, traced_ids)
    vals["trace.spans_per_op"] = _mean(len(spans), nt)
    vals.update(extra)
    return vals


def trace_overhead(ok, traced_ids) -> float:
    """Median latency of traced minus untraced ops, per op kind (kinds
    differ in cost and need not split evenly), weighted by op count."""
    total = weight = 0.0
    for kind in {r.kind for r in ok}:
        on = [r.latency for r in ok if r.kind == kind and r.op_id in traced_ids]
        off = [r.latency for r in ok
               if r.kind == kind and r.op_id not in traced_ids]
        if on and off:
            n = len(on) + len(off)
            total += n * (_p50(on) - _p50(off))
            weight += n
    return total / weight if weight else 0.0
