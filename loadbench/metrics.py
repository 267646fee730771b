"""The metric tables. End-to-end: each metric's unit and what it is on
each workload. Per-layer: each metric's unit, which way is better, the
end-to-end metric it should move and the workload it moves it on, and
how it is measured.

Spans come only from this benchmark's files. In a traced run the calls
the query engine makes into its own layers are wrapped here, on the
class or module the engine resolves them from, so the program itself
is unchanged; a wrapper whose target no longer exists is skipped and
its metric reads 0. Work inside Spark's Python workers (the Arrow
evaluators of the batch operators, the build-side varint encode) cannot
be spanned from the driver and is listed as unmeasured, not estimated.
"""

from __future__ import annotations

import functools

#: end-to-end metrics: name -> (unit, what it is on search, on ingest)
END_TO_END: dict[str, tuple[str, str, str]] = {
    "setup_s": ("s", "median of 3 x (session start + index and QueryEngine open)",
                "median of 7 session starts"),
    "index_docs_per_s": ("1/s", "docs / build_index wall time",
                         "median over batches 1.. of docs added / (process_stream_batch + finalize)"),
    "index_bytes_per_text_byte": ("ratio", "index dir bytes / input text bytes",
                                  "index dir bytes / input text bytes"),
    "search_p50_ms": ("ms", "median warm QueryEngine.search + collect, closed loop",
                      "median probe search on a freshly opened QueryEngine, batches 1.."),
    "visible_p50_s": ("s", "build_index + QueryEngine open + first probe (one sample)",
                      "median over batches 1.. of hand-off to the first probe's return"),
    "batch_qps": ("1/s", "queries / summed wall time of fused, WAND and phrase batch top-k",
                  "the same, over the streamed index"),
    "driver_peak_rss_mb": ("MB", "peak RSS of the Python driver plus the driver JVM",
                           "the same"),
}

#: name -> (unit, better, end-to-end metric it should move, workload, how measured)
LAYERS: dict[str, tuple[str, str, str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s", "both", "cold SparkSession start (JVM launch)"),
    "session.restart_s": ("s", "lower", "setup_s", "both", "median SparkSession restart in a live JVM"),
    "docs.staging_write_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec[staging_write]"),
    "docs.badrows_write_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec[badrows_write]"),
    "docs.id_assign_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec[id_offsets]"),
    "docs.docstore_write_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec[docstore_write]"),
    "index_build.blocks_write_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec[blocks_plan+blocks_write]"),
    "index_store.termdict_write_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec[termdict_write]"),
    "index_store.commit_s": ("s", "lower", "index_docs_per_s", "search", "build_stage_sec, all other stages"),
    "docs.events_good": ("count", "higher", "index_bytes_per_text_byte", "both", "rows in the doc store"),
    "docs.events_bad": ("count", "lower", "index_bytes_per_text_byte", "both", "rows in _badrows"),
    "index_build.postings": ("count", "higher", "index_bytes_per_text_byte", "both", "sum of block doc_count"),
    "index_build.block_bytes": ("bytes", "lower", "index_bytes_per_text_byte", "both", "encoded doc/tf/dl/pos bytes"),
    "index_build.bytes_per_posting": ("bytes", "lower", "index_bytes_per_text_byte", "both", "block_bytes / postings"),
    "index_store.bytes.documents": ("bytes", "lower", "index_bytes_per_text_byte", "both", "on-disk size"),
    "index_store.bytes.blocks": ("bytes", "lower", "index_bytes_per_text_byte", "both", "on-disk size"),
    "index_store.bytes.termdict": ("bytes", "lower", "index_bytes_per_text_byte", "both", "on-disk size"),
    "index_store.files.blocks": ("count", "lower", "index_bytes_per_text_byte", "both", "parquet files"),
    "query_engine.lookup_ms": ("ms", "lower", "search_p50_ms", "search", "self time of QueryEngine._lookup, per search"),
    "bm25.analyze_ms": ("ms", "lower", "search_p50_ms", "search", "self time of analyze_queries, per search"),
    "index_store.gather_ms": ("ms", "lower", "search_p50_ms", "search", "self time of QueryEngine._gather_blocks, per search"),
    "index_store.gather_rows": ("count", "lower", "search_p50_ms", "search", "block rows gathered, per search"),
    "codec.decode_ms": ("ms", "lower", "search_p50_ms", "search", "self time of QueryEngine._decode_frame, per search"),
    "codec.decoded_postings": ("count", "lower", "search_p50_ms", "search", "postings decoded, per search"),
    "wand.score_ms": ("ms", "lower", "search_p50_ms", "search", "self time of QueryEngine._exact_topk_decoded, per search"),
    "query_engine.result_ms": ("ms", "lower", "search_p50_ms", "search", "search self time: driver ranking or the distributed job, collect"),
    "query_engine.search_p90_ms": ("ms", "lower", "search_p50_ms", "search", "p90 search latency, traced"),
    "query_engine.cache_hits": ("count", "higher", "search_p50_ms", "search", "query terms cached before the search"),
    "query_engine.cache_misses": ("count", "lower", "search_p50_ms", "search", "query terms fetched by the search"),
    "query_engine.cache_hit_ratio": ("ratio", "higher", "search_p50_ms", "search", "hits / (hits + misses)"),
    "query_engine.cache_evictions": ("count", "lower", "search_p50_ms", "search", "cached terms dropped by the search"),
    "query_engine.cache_mb": ("MB", "lower", "search_p50_ms", "search", "decoded bytes cached, mean after each search"),
    "query_engine.open_s": ("s", "lower", "visible_p50_s", "both", "median QueryEngine open"),
    "bm25.fused_setup_s": ("s", "lower", "batch_qps", "both", "bm25_topk_fused call: planning plus its corpus-stats job"),
    "bm25.fused_exec_s": ("s", "lower", "batch_qps", "both", "collect of the fused plan"),
    "wand.term_lookup_s": ("s", "lower", "batch_qps", "both", "wand_topk call: termdict lookup job plus planning"),
    "wand.batch_exec_s": ("s", "lower", "batch_qps", "both", "collect of the WAND plan"),
    "phrase.term_lookup_s": ("s", "lower", "batch_qps", "both", "phrase_topk call: termdict lookup job plus planning"),
    "phrase.batch_exec_s": ("s", "lower", "batch_qps", "both", "collect of the phrase plan"),
    "stream_build.batch_s": ("s", "lower", "index_docs_per_s", "ingest", "median process_stream_batch"),
    "stream_build.finalize_s": ("s", "lower", "visible_p50_s", "ingest", "median finalize_streamed_index"),
    "stream_build.rows_in": ("count", "higher", "index_docs_per_s", "ingest", "rows handed over, all batches"),
    "stream_build.docs_added": ("count", "higher", "index_docs_per_s", "ingest", "_checkpoints turns, all batches"),
    "stream_build.dup_dropped": ("count", "lower", "index_docs_per_s", "ingest", "rows_in - docs_added - bad_rows"),
    "stream_build.bad_rows": ("count", "lower", "index_docs_per_s", "ingest", "_badrows rows, all batches"),
    "sizing.index_decoded_mb": ("MB", "lower", "search_p50_ms", "both", "postings x 24 bytes, the engine's decoded form"),
    "sizing.index_over_cache": ("ratio", "lower", "search_p50_ms", "both", "index_decoded_mb / driver block cache"),
    "sizing.touched_over_cache": ("ratio", "lower", "search_p50_ms", "search", "decoded postings of the terms searched / cache"),
    "trace.bookkeeping_share": ("ratio", "lower", "search_p50_ms", "both", "tracer's own time / traced wall time"),
}

#: traced spans whose self time feeds a per-search metric
SEARCH_SPANS = {
    "query_engine.lookup": "query_engine.lookup_ms",
    "bm25.analyze": "bm25.analyze_ms",
    "index_store.gather": "index_store.gather_ms",
    "codec.decode": "codec.decode_ms",
    "wand.score": "wand.score_ms",
    "query_engine.search": "query_engine.result_ms",
}


def _wrap(owner, attr: str, name: str, tracer, counters: dict, count=None):
    fn = getattr(owner, attr, None)
    if fn is None:
        return None

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if count is not None:
            counters[count[0]] = counters.get(count[0], 0) + count[1](out)
        return out

    setattr(owner, attr, wrapper)
    return owner, attr, fn


def instrument_query_engine(tracer, counters: dict) -> list:
    """Wrap the query engine's calls into its layers; returns the list
    of originals for ``restore``."""
    from snowplow_elasticsearch_loader_spark.operators import query_engine as qe

    E = qe.QueryEngine
    done = [
        _wrap(E, "_lookup", "query_engine.lookup", tracer, counters),
        _wrap(qe, "analyze_queries", "bm25.analyze", tracer, counters),
        _wrap(E, "_gather_blocks", "index_store.gather", tracer, counters,
              ("index_store.gather_rows", len)),
        _wrap(E, "_decode_frame", "codec.decode", tracer, counters,
              ("codec.decoded_postings", lambda d: int(d[0].size))),
        _wrap(E, "_exact_topk_decoded", "wand.score", tracer, counters),
    ]
    return [d for d in done if d is not None]


def restore(wrapped: list) -> None:
    for owner, attr, fn in wrapped:
        setattr(owner, attr, fn)
