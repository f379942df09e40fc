"""Which engine callables the traced run wraps, and the per-layer metrics
computed from the resulting spans and event-log task metrics.

Span names are the layer names of ``BENCHMARK.json``'s per-layer metrics.
Spans named ``op.*`` are opened by the workloads themselves around a whole
operation (call plus the Spark action that consumes its lazy result); the
rest come from wrapped engine callables.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Tracer, covered

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "w1_latest_per_key",
    "cdc_replay_events",
    "topk_per_group",
    "sessionize",
    "j2_denormalize",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "token_count",
    "doc_fingerprint",
    "semantic_dedup",
    "span_dedup",
    "dedup_ngram_jaccard",
    "dedup_cluster_cc",
    "pack_sequences",
]

# (metric, unit) in report order; every traced run reports all of them,
# 0 where the workload does not exercise the layer.
PER_LAYER: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("cdc.replay.batch_s", "s"),
    ("cdc.replay.driver_s", "s"),
    ("cdc.replay.jobs_per_batch", "count"),
    ("cdc.replay.segment_resolve_s", "s"),
    ("cdc.replay.child_cover_frac", "frac"),
    ("lake.table.merge_s", "s"),
    ("lake.table.merge.executor_cpu_s", "s"),
    ("lake.table.merge.gc_s", "s"),
    ("lake.table.merge.input_bytes", "B"),
    ("lake.table.merge.shuffle_write_bytes", "B"),
    ("lake.table.merge.spill_bytes", "B"),
    ("lake.table.merge.tasks", "count"),
    ("lake.table.data_bytes_written", "B"),
    ("lake.table.commit_meta_bytes", "B"),
    ("lake.table.commit_meta_writes", "count"),
    ("lake.table.commit_meta_s", "s"),
    ("lake.table.snapshot_calls", "count"),
    ("lake.table.snapshot_s", "s"),
    ("lake.table.read_s", "s"),
    ("lake.table.read.executor_cpu_s", "s"),
    ("lake.table.read.shuffle_write_bytes", "B"),
    ("lake.table.read.prefilter_share", "frac"),
    ("lake.table.delta_depth_max", "count"),
    ("lake.table.lookup_s", "s"),
    ("lake.table.lookup.buckets_read", "count"),
    ("lake.maintain.auto_maintain_s", "s"),
    ("lake.maintain.compact_s", "s"),
    ("lake.maintain.expire_s", "s"),
    ("lake.maintain.actions", "count"),
    ("lineage.record_s", "s"),
    *[
        (f"queries.{leaf}{suffix}", unit)
        for leaf in HEADLINE
        for suffix, unit in (
            ("_s", "s"),
            (".executor_cpu_s", "s"),
            (".shuffle_write_bytes", "B"),
            (".spill_bytes", "B"),
        )
    ],
    ("trace.overhead_frac", "frac"),
]


def install(tracer: Tracer) -> None:
    """Wrap the layers' public callables (call before ``get_spark``)."""
    from pyspark.sql.readwriter import DataFrameReader

    import omicidx_etl_spark.cdc.replay as replay
    import omicidx_etl_spark.lake.table as table
    import omicidx_etl_spark.session as session
    from omicidx_etl_spark.lineage import LineageLog

    def meta_bytes(span, args, kwargs, out):
        span.attrs["bytes"] = os.path.getsize(args[0])

    def read_plan(span, args, kwargs, out):
        tbl = args[0]
        buckets = kwargs.get("buckets", args[1] if len(args) > 1 else None)
        span.attrs["buckets"] = len(buckets) if buckets is not None else tbl.n_buckets
        span.attrs["reconcile"] = tbl.last_reconcile

    def actions(span, args, kwargs, out):
        span.attrs["actions"] = len(out.get("actions", []))

    T = table.LakeTable
    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(replay, "replay_batch", "cdc.replay.batch")
    tracer.wrap(DataFrameReader, "parquet", "io.parquet")
    tracer.wrap(T, "merge", "lake.table.merge")
    tracer.wrap(T, "snapshot", "lake.table.snapshot", jobs=False)
    tracer.wrap(table, "atomic_write_json", "lake.table.commit_meta", jobs=False, note=meta_bytes)
    tracer.wrap(T, "read", "lake.table.read.plan", note=read_plan)
    tracer.wrap(T, "lookup", "lake.table.lookup.plan")
    tracer.wrap(T, "auto_maintain", "lake.maintain.auto_maintain", note=actions)
    tracer.wrap(T, "compact", "lake.maintain.compact")
    tracer.wrap(T, "expire_snapshots", "lake.maintain.expire")
    tracer.wrap(LineageLog, "record", "lineage.record")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def metrics(tracer: Tracer, ex: dict[int, dict[str, float]], overhead: float) -> dict[str, float]:
    """Per-layer values: medians per operation unless named otherwise.
    Only spans of the measured loop count, except the session start."""
    kids = tracer.children()

    def named(name: str):
        return [s for s in tracer.named(name) if s.start >= tracer.mark]

    out: dict[str, float] = {"trace.overhead_frac": overhead}
    out["session.get_spark_s"] = sum(s.dur for s in tracer.named("session.get_spark"))

    batches = named("cdc.replay.batch")
    per_batch: dict[str, list[float]] = {}
    for b in batches:
        desc = tracer.descendants(b, kids)
        merge = [d for d in desc if d.name == "lake.table.merge"]
        meta = [d for d in desc if d.name == "lake.table.commit_meta"]
        snaps = [d for d in desc if d.name == "lake.table.snapshot"]
        for k, v in (
            ("cdc.replay.batch_s", b.dur),
            ("cdc.replay.driver_s", b.dur - sum(m.dur for m in merge)),
            ("cdc.replay.jobs_per_batch", ex[b.id]["jobs"]),
            ("cdc.replay.child_cover_frac", covered(b, desc) / b.dur if b.dur > 0 else 0.0),
            ("lake.table.commit_meta_bytes", sum(m.attrs.get("bytes", 0) for m in meta)),
            ("lake.table.commit_meta_writes", len(meta)),
            ("lake.table.commit_meta_s", sum(m.dur for m in meta)),
            ("lake.table.snapshot_calls", len(snaps)),
            ("lake.table.snapshot_s", sum(s.dur for s in snaps)),
        ):
            per_batch.setdefault(k, []).append(v)
    for k, vs in per_batch.items():
        out[k] = _med(vs)
    # WAL segment resolution: DataFrameReader.parquet calls outside every
    # other span, i.e. made by replay_log itself (it resolves the next
    # batch's segments on a prefetch thread).
    resolve = [s for s in named("io.parquet") if s.parent is None]
    out["cdc.replay.segment_resolve_s"] = (
        sum(s.dur for s in resolve) / len(batches) if batches else 0.0
    )

    merges = named("lake.table.merge")
    out["lake.table.merge_s"] = _med(m.dur for m in merges)
    for field in ("executor_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes", "spill_bytes", "tasks"):
        out[f"lake.table.merge.{field}"] = _med(ex[m.id][field] for m in merges)
    out["lake.table.data_bytes_written"] = _med(ex[m.id]["output_bytes"] for m in merges)

    reads = named("op.read")
    out["lake.table.read_s"] = _med(r.dur for r in reads)
    out["lake.table.read.executor_cpu_s"] = _med(ex[r.id]["executor_cpu_s"] for r in reads)
    out["lake.table.read.shuffle_write_bytes"] = _med(ex[r.id]["shuffle_write_bytes"] for r in reads)
    plans = [
        d for r in reads for d in tracer.descendants(r, kids) if d.name == "lake.table.read.plan"
    ]
    dirty = [p for p in plans if p.attrs.get("reconcile")]
    out["lake.table.read.prefilter_share"] = (
        sum(p.attrs["reconcile"] == "prefilter" for p in dirty) / len(dirty) if dirty else 0.0
    )
    out["lake.table.delta_depth_max"] = max((r.attrs.get("delta_depth", 0) for r in reads), default=0)

    lookups = named("op.lookup")
    out["lake.table.lookup_s"] = _med(x.dur for x in lookups)
    out["lake.table.lookup.buckets_read"] = _med(
        sum(d.attrs.get("buckets", 0) for d in tracer.descendants(x, kids)
            if d.name == "lake.table.read.plan")
        for x in lookups
    )

    autos = named("lake.maintain.auto_maintain")
    out["lake.maintain.auto_maintain_s"] = _med(a.dur for a in autos)
    out["lake.maintain.compact_s"] = _med(c.dur for c in named("lake.maintain.compact"))
    out["lake.maintain.expire_s"] = _med(e.dur for e in named("lake.maintain.expire"))
    out["lake.maintain.actions"] = (
        sum(a.attrs.get("actions", 0) for a in autos) / len(autos) if autos else 0.0
    )
    out["lineage.record_s"] = _med(s.dur for s in named("lineage.record"))

    for leaf in HEADLINE:
        runs = named(f"op.leaf.{leaf}")
        out[f"queries.{leaf}_s"] = _med(r.dur for r in runs)
        for field in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"queries.{leaf}.{field}"] = _med(ex[r.id][field] for r in runs)
    return {name: float(out.get(name, 0.0)) for name, _ in PER_LAYER}
