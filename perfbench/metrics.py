"""Names and units of every metric the benchmark prints.

End-to-end metrics come from ``--trace 0`` runs, per-layer metrics from
``--trace 1`` runs; perfbench/README.md maps each per-layer metric to
the end-to-end metric it should move.
"""

WORKLOADS = ("batch_build", "registry_text")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MiB",
}

LAYERS = ("sources", "extraction", "checkpoint", "pipeline", "linking", "components",
          "graph", "incremental", "registry")
REGISTRY_KEYS = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_spans", "ann_ivf", "ann_ivf_join")
INCREMENTAL_PHASES = ("surf_merge", "delta_link_cc", "merge_materialize", "state_writes", "publish")
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "task_skew": "ratio"}

# span name -> per-layer metric (seconds)
SPAN_METRICS = {
    "sources.scan": "sources.scan_s",
    "extraction.kernel": "extraction.kernel_s",
    "checkpoint.lineage": "checkpoint.lineage_s",
    "pipeline.extract_stage": "pipeline.extract_stage_s",
    "checkpoint.manifest_read": "checkpoint.manifest_read_s",
    "pipeline.read_ir": "pipeline.read_ir_s",
    "linking.link": "linking.link_s",
    "components.cc": "components.cc_s",
    "graph.edges": "graph.edges_s",
    "graph.nodes": "graph.nodes_s",
    "sources.write_nodes": "sources.write_nodes_s",
    "sources.write_edges": "sources.write_edges_s",
    "pipeline.append_extract": "pipeline.append_extract_s",
    "incremental.finalize": "incremental.finalize_s",
    **{f"registry.{k}": f"registry.{k}_s" for k in REGISTRY_KEYS},
}

PER_LAYER = {
    **{m: "s" for m in SPAN_METRICS.values()},
    "pipeline.extract_boundary_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "extraction.rows_out": "count",
    "extraction.core_rows_per_s": "rows/s",
    "checkpoint.staged_bytes_per_turn": "bytes/turn",
    "linking.forms": "count",
    "linking.candidate_pairs": "count",
    "linking.kept_ratio": "ratio",
    "components.entities": "count",
    "graph.triples_in": "count",
    "graph.edges_out": "count",
    "incremental.ir_rows_read": "count",
    "incremental.freshness_s": "s",
    **{f"incremental.phase.{p}_s": "s" for p in INCREMENTAL_PHASES},
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTER_UNITS.items()},
    "trace.untraced_wall_s": "s",
    "trace.layer_sum_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
    "bench.error_rate": "ratio",
    "bench.jvm_peak_rss_mb": "MiB",
}
