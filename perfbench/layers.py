"""Per-layer metrics a traced run reports, name -> unit.

Every traced run reports all of them; a layer the workload does not
exercise reads 0 (no time, no jobs). DESIGN.md says which end-to-end
metric each should move, on which workload.
"""

_BUILD_STAGES = ("doc_map", "partials", "doc_len", "doc_sha", "postings",
                 "bucket_max", "dictionary", "dictionary_r")
_TABLES = ("doc_map", "partials", "doc_len", "doc_sha", "stats", "postings",
           "bucket_max", "dictionary", "dictionary_r", "lineage",
           "tombstones")
_COUNTS = ("jobs", "stages", "tasks")

PER_LAYER = {
    "host.sha256_256mb_s": "s",
    "host.membw_1gb_s": "s",
    "host.steal_share": "share",
    "rss.peak_mb": "MB",
    "rss.jvm_peak_mb": "MB",
    "rss.workers_peak_mb": "MB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "corpus.load_s": "s",
    **{f"build.{s}_s": "s" for s in _BUILD_STAGES},
    **{f"build.{c}": "count" for c in _COUNTS},
    **{f"io.{t}_bytes": "bytes" for t in _TABLES},
    "io.postings_files": "count",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "query.term_stats_ms": "ms",
    "query.term_cache_hit_share": "share",
    "query.blocks_scan_ms": "ms",
    "query.decode_ms": "ms",
    "query.bm25_ms": "ms",
    "query.bm25_self_ms": "ms",
    "query.wand_ratio": "ratio",
    **{f"query.{q}_{c}": "count" for q in ("bm25", "setq", "many")
       for c in _COUNTS},
    "incremental.append_ms": "ms",
    **{f"incremental.append_{c}": "count" for c in _COUNTS},
    "incremental.compact_minor_s": "s",
    "incremental.compact_minor_jobs": "count",
    "dedup.minhash_signatures_s": "s",
    "dedup.near_duplicates_s": "s",
    "dedup.connected_components_s": "s",
    "dedup.cut_spans_s": "s",
    "dedup.pairs": "count",
    "dedup.jobs": "count",
    "textstats.curation_report_s": "s",
    "textstats.curation_report_jobs": "count",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "share",
}
