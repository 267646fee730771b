"""The two workloads.

``search`` (read path): one bulk ``build_index`` over a seeded corpus,
the three distributed batch operators over one query set, then a warm
serving ``QueryEngine`` in a closed loop with one client whose driver
block cache is far smaller than the index, so it evicts and re-gathers
in steady state.

``ingest`` (write path): seeded micro-batches, each handed to
``process_stream_batch`` and followed by ``finalize_streamed_index``, a
fresh ``QueryEngine`` and probe searches for terms of that batch; the
next batch goes only after the probes return. The batch operators then
run once over the streamed index, whose one-range-per-batch layout
differs from the bulk build's.

Every operation's output is compared with the oracle outside the timed
regions; an operation that raises or differs counts as failed and the
run goes on.
"""

from __future__ import annotations

import glob
import os
import resource
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from . import gen, metrics as layers
from .oracle import Oracle, engine_lists, mismatches
from .spans import Tracer, reduce_by_name

from snowplow_elasticsearch_loader_spark.config import EngineConfig, IndexConfig

#: index layout for a corpus of a few thousand turns on a few cores:
#: bench.py's range width and 8 term buckets, and 8 build ranges instead
#: of 32. The default layout writes 32 x 32 partition dirs, whose fixed
#: cost would swamp a corpus this small.
CFG = EngineConfig(
    index=IndexConfig(
        block_size=128, docs_per_range=1 << 15, term_buckets=8, min_build_ranges=8
    )
)
K = 10
SEARCH_CONVS = 240
#: driver block cache of the serving engine, far below the index's
#: decoded postings (checked and recorded on every run)
BLOCK_CACHE_MB = 1
#: the engine's default driver block cache, which the ingest engines use
DEFAULT_BLOCK_CACHE_MB = 256
WARMUP_QUERIES = 10
SERVE_QUERIES_MAX = 2_000
BATCH_QUERIES = 8
PHRASES = 8
INGEST_CONVS_PER_BATCH = 20
INGEST_BATCHES_MAX = 5
#: batch 0 warms the JVM and the Python workers: it runs and is checked,
#: but its timings are left out of every figure
INGEST_MIN_BATCHES = 3
PROBES_PER_BATCH = 2
#: set-ups per run; a set-up is a session restart plus, on ``search``,
#: the index and engine open (~1 s), so ``ingest`` affords more
SETUP_REPS = {"search": 3, "ingest": 7}
DECODED_BYTES_PER_POSTING = 24  # int64 doc + float64 tf + float64 dl

TRANSCRIPT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def local_cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def perf() -> float:
    return time.perf_counter()


# ---------------------------------------------------------------- session


def start_session(work: str):
    from snowplow_elasticsearch_loader_spark.session import get_spark

    spark = get_spark(
        f"local[{local_cores()}]",
        app_name="loadbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def driver_peak_rss_mb(run: "Run") -> float:
    """Peak resident memory of the driver: this Python process plus the
    driver JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = _vm_hwm_mb(jvm_pid())
    run.sizing.update(python_rss_mb=round(own, 1), jvm_rss_mb=round(jvm, 1))
    return own + jvm


# ---------------------------------------------------------------- helpers


class Run:
    """Per-run accounting: operations attempted and failed, per-layer
    values, the tracer."""

    def __init__(self, trace: bool):
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.counters: dict[str, float] = {}
        self.sizing: dict[str, object] = {}
        self.phases: dict[str, float] = {}
        self._last = perf()

    def mark(self, phase: str) -> None:
        """Close the current phase of the run (wall time, for sizing)."""
        now = perf()
        self.phases[phase] = round(self.phases.get(phase, 0.0) + now - self._last, 2)
        self._last = now

    def op(self, label: str, fn):
        """Run one operation; an exception counts it as failed and
        returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"# op {label} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, label: str, ok_fn) -> None:
        """Judge an operation already counted by ``op``: a False or an
        exception counts it as failed."""
        try:
            ok = bool(ok_fn())
        except Exception:
            print(f"# check {label} raised:\n{traceback.format_exc()}", file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"# check {label}: output differs from the oracle", file=sys.stderr)


def arrow_rows(pdf) -> pa.Table:
    """Generated rows as the Arrow table the program reads (UTC
    timestamps, so Spark sees the transcript schema's TimestampType)."""
    return pa.Table.from_pandas(
        pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC")),
        schema=TRANSCRIPT_ARROW,
        preserve_index=False,
    )


def write_rows(pdf, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(arrow_rows(pdf), path)
    return path


def read_rows(spark, path: str):
    from snowplow_elasticsearch_loader_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)


def text_bytes(pdf) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pdf["text"] if isinstance(t, str)))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def keymap(docs_dir: str) -> dict[int, tuple[str, int]]:
    """Engine doc id -> (conv_id, turn_idx), from the doc store (or one
    partition of it)."""
    t = pads.dataset(docs_dir, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "conv_id", "turn_idx"]
    ).to_pydict()
    return {
        int(d): (c, int(i)) for d, c, i in zip(t["doc_id"], t["conv_id"], t["turn_idx"])
    }


def index_layers(run: Run, index_dir: str, cache_mb: int) -> None:
    """Counts and sizes of a built index, read from its files."""
    blocks = os.path.join(index_dir, "blocks")
    t = pads.dataset(blocks, format="parquet", partitioning="hive").to_table(
        columns=["doc_count", "docs_varint", "tfs_varint", "dls_varint", "pos_varint"]
    )
    postings = int(pc.sum(t["doc_count"]).as_py() or 0)
    enc = sum(
        int(pc.sum(pc.binary_length(t[c])).as_py() or 0)
        for c in ("docs_varint", "tfs_varint", "dls_varint", "pos_varint")
    )
    L = run.layer
    L["docs.events_good"] = _parquet_rows(os.path.join(index_dir, "documents"))
    L["docs.events_bad"] = _parquet_rows(os.path.join(index_dir, "_badrows"))
    L["index_build.postings"] = postings
    L["index_build.block_bytes"] = enc
    L["index_build.bytes_per_posting"] = enc / postings if postings else 0.0
    for name in ("documents", "blocks", "termdict"):
        L[f"index_store.bytes.{name}"] = dir_bytes(os.path.join(index_dir, name))
    L["index_store.files.blocks"] = len(
        glob.glob(os.path.join(blocks, "**", "*.parquet"), recursive=True)
    )
    decoded_mb = postings * DECODED_BYTES_PER_POSTING / float(1 << 20)
    L["sizing.index_decoded_mb"] = decoded_mb
    L["sizing.index_over_cache"] = decoded_mb / cache_mb


def batch_ops(run: Run, idx, oracle: Oracle, queries, phrases, kmap: dict) -> float:
    """The three distributed batch operators over one query set, each
    called once; returns queries answered per second of their summed
    wall time. Outputs are checked after all three ran."""
    from snowplow_elasticsearch_loader_spark.operators import bm25, phrase, wand

    tr = run.tracer
    corpus = idx.corpus()
    ops = [  # (operator, builder span, collect span, query set, builder)
        ("bm25_topk_fused", "bm25.fused_setup", "bm25.fused_exec", queries,
         lambda: bm25.bm25_topk_fused(idx.documents, queries, k=K, cfg=CFG)),
        ("wand_topk", "wand.term_lookup", "wand.batch_exec", queries,
         lambda: wand.wand_topk(idx.blocks, idx.termdict, corpus, queries, k=K, cfg=CFG)),
        ("phrase_topk", "phrase.term_lookup", "phrase.batch_exec", phrases,
         lambda: phrase.phrase_topk(idx.blocks, idx.termdict, corpus, phrases, k=K, cfg=CFG)),
    ]
    spent, answered, outs = 0.0, 0, []
    for name, build_span, exec_span, qs, build in ops:

        def call(build=build, build_span=build_span, exec_span=exec_span):
            with tr.span(build_span):
                df = build()
            with tr.span(exec_span):
                return df.collect()

        t0 = perf()
        rows = run.op(name, call)
        spent += perf() - t0
        answered += len(qs)
        outs.append((name, qs, rows))
    for name, qs, rows in outs:
        if rows is None:
            continue
        want = oracle.phrase_topk(qs, K) if name == "phrase_topk" else oracle.topk(qs, K)
        got = engine_lists([tuple(r) for r in rows], kmap, [q for q, _ in qs])
        run.check(name, lambda got=got, want=want: not mismatches(got, want))
    return answered / spent


def span_layers(run: Run, n_searches: int) -> None:
    """Per-layer values from the recorded spans."""
    red = reduce_by_name(run.tracer.spans)

    def total(name: str) -> float:
        return red.get(name, {}).get("self_s", 0.0)

    for span, metric in layers.SEARCH_SPANS.items():
        run.layer[metric] = 1000.0 * total(span) / max(n_searches, 1)
    for span, metric in (
        ("bm25.fused_setup", "bm25.fused_setup_s"),
        ("bm25.fused_exec", "bm25.fused_exec_s"),
        ("wand.term_lookup", "wand.term_lookup_s"),
        ("wand.batch_exec", "wand.batch_exec_s"),
        ("phrase.term_lookup", "phrase.term_lookup_s"),
        ("phrase.batch_exec", "phrase.batch_exec_s"),
    ):
        run.layer[metric] = red.get(span, {}).get("total_s", 0.0)
    for name in ("index_store.gather_rows", "codec.decoded_postings"):
        run.layer[name] = run.counters.get(name, 0) / max(n_searches, 1)


# ---------------------------------------------------------------- search


def search(seed: int, seconds: float, trace: bool, work: str) -> tuple[Run, dict]:
    from snowplow_elasticsearch_loader_spark import index_store
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine

    os.environ["SPARK_GRAFT_DRIVER_BLOCK_CACHE_MB"] = str(BLOCK_CACHE_MB)
    run = Run(trace)
    tr = run.tracer
    t0 = perf()
    spark = start_session(work)
    cold_start = perf() - t0
    run.mark("session")

    pdf = gen.corpus(seed, SEARCH_CONVS)
    inp = write_rows(pdf, os.path.join(work, "input", "corpus.parquet"))
    ranked, df = gen.df_ranked_terms(pdf["text"])
    serve_q = gen.query_stream(seed, ranked, SERVE_QUERIES_MAX, stream=1)
    batch_q = gen.query_stream(seed, ranked, BATCH_QUERIES, stream=2, prefix="b")
    phrases = gen.phrase_set(seed, pdf["text"], PHRASES)
    probe = [("probe", ranked[len(ranked) // 2])]
    oracle = Oracle()
    expected = oracle.add(pdf)
    idx_dir = os.path.join(work, "index")
    run.sizing.update(corpus_rows=len(pdf), text_bytes=text_bytes(pdf))
    run.mark("inputs")

    # bulk build: the write path's measurement
    t0 = perf()
    with tr.span("index_store.build_index"):
        idx = run.op("build", lambda: index_store.build_index(spark, read_rows(spark, inp), idx_dir, CFG))
    build_s = perf() - t0
    run.mark("build")
    if idx is None:
        raise RuntimeError("bulk build failed; nothing to search")
    st = idx.build_stage_sec
    L = run.layer
    L["docs.staging_write_s"] = st.get("staging_write", 0.0)
    L["docs.badrows_write_s"] = st.get("badrows_write", 0.0)
    L["docs.id_assign_s"] = st.get("id_offsets", 0.0)
    L["docs.docstore_write_s"] = st.get("docstore_write", 0.0)
    L["index_build.blocks_write_s"] = st.get("blocks_plan", 0.0) + st.get("blocks_write", 0.0)
    L["index_store.termdict_write_s"] = st.get("termdict_write", 0.0)
    split = {"staging_write", "badrows_write", "id_offsets", "docstore_write",
             "blocks_plan", "blocks_write", "termdict_write"}
    L["index_store.commit_s"] = sum(v for k, v in st.items() if k not in split)

    # distributed batch operators, on the build's session (default conf)
    kmap = keymap(os.path.join(idx_dir, "documents"))
    batch_qps = batch_ops(run, idx, oracle, batch_q, phrases, kmap)
    run.mark("batch_ops")

    # engine open + probe: when the corpus becomes searchable
    t0 = perf()
    with tr.span("query_engine.open"):
        eng = run.op("open", lambda: QueryEngine(idx, warm=True, cache_blocks=True))
    opens = [perf() - t0]
    t0 = perf()
    probe_rows = run.op("probe", lambda: eng.search(probe, k=K).collect())
    visible_s = build_s + opens[0] + (perf() - t0)
    setups = [cold_start + opens[0]]
    restarts = []
    for _ in range(SETUP_REPS["search"] - 1):
        spark.stop()
        t0 = perf()
        spark = start_session(work)
        restarts.append(perf() - t0)
        with tr.span("query_engine.open"):
            idx = index_store.InvertedIndex(spark, idx_dir, CFG)
            eng = run.op("open", lambda: QueryEngine(idx, warm=True, cache_blocks=True))
        setups.append(perf() - t0)
        opens.append(setups[-1] - restarts[-1])

    run.mark("open_and_setups")
    # warm serving loop, closed, one client
    results = []
    for q in serve_q[:WARMUP_QUERIES]:
        results.append((q, run.op("search", lambda q=q: eng.search([q], k=K).collect())))
    wrapped = layers.instrument_query_engine(tr, run.counters) if trace else []
    lat, cache = [], []
    i, end = WARMUP_QUERIES, perf() + seconds
    while perf() < end and i < len(serve_q):
        q = serve_q[i]
        i += 1
        if trace:
            t_b = perf()
            before = set(eng._block_cache)
            terms = {t for t in gen.tokens(q[1]) if t in eng._term_cache}
            tr.bookkeeping_s += perf() - t_b
        tr.op_id += 1
        t0 = perf()
        with tr.span("query_engine.search"):
            rows = run.op("search", lambda: eng.search([q], k=K).collect())
        if rows is not None:
            lat.append(perf() - t0)
        results.append((q, rows))
        if trace:
            t_b = perf()
            after = set(eng._block_cache)
            cache.append((len(terms & before), len(terms - before),
                          len(before - after), eng._block_cache_bytes))
            tr.bookkeeping_s += perf() - t_b
    layers.restore(wrapped)
    rss = driver_peak_rss_mb(run)
    n_timed = i - WARMUP_QUERIES
    run.mark("serve")

    # oracle checks, outside every timed region
    index_layers(run, idx_dir, BLOCK_CACHE_MB)
    run.check("build", lambda: L["docs.events_good"] == expected["docs_added"]
              and L["docs.events_bad"] == expected["bad_rows"])
    if probe_rows is not None:
        got = engine_lists([tuple(r) for r in probe_rows], kmap, ["probe"])
        want = oracle.topk(probe, K)
        run.check("probe", lambda: want["probe"] and not mismatches(got, want))
    want = oracle.topk([q for q, _ in results], K)
    for q, rows in results:
        if rows is not None:
            got = engine_lists([tuple(r) for r in rows], kmap, [q[0]])
            run.check(f"search {q[0]}", lambda got=got, q=q: got[q[0]] == want[q[0]])
    oracle.close()

    L["session.start_s"] = cold_start
    L["session.restart_s"] = statistics.median(restarts)
    L["query_engine.open_s"] = statistics.median(opens)
    touched = {t for q, _ in results[WARMUP_QUERIES:] for t in gen.tokens(q[1])}
    touched_bytes = sum(df.get(t, 0) for t in touched) * DECODED_BYTES_PER_POSTING
    L["sizing.touched_over_cache"] = touched_bytes / float(BLOCK_CACHE_MB << 20)
    if trace:
        span_layers(run, n_timed)
        hits = sum(c[0] for c in cache)
        misses = sum(c[1] for c in cache)
        L["query_engine.cache_hits"] = hits / max(n_timed, 1)
        L["query_engine.cache_misses"] = misses / max(n_timed, 1)
        L["query_engine.cache_hit_ratio"] = hits / max(hits + misses, 1)
        L["query_engine.cache_evictions"] = sum(c[2] for c in cache) / max(n_timed, 1)
        L["query_engine.cache_mb"] = statistics.fmean(c[3] for c in cache) / float(1 << 20) if cache else 0.0
        L["query_engine.search_p90_ms"] = 1000.0 * statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else 0.0
    run.sizing.update(searches_timed=n_timed, block_cache_mb=BLOCK_CACHE_MB)
    run.mark("checks")
    shutdown(spark)
    run.mark("shutdown")
    metrics = {
        "setup_s": statistics.median(setups),
        "index_docs_per_s": expected["docs_added"] / build_s,
        "index_bytes_per_text_byte": dir_bytes(idx_dir) / run.sizing["text_bytes"],
        "search_p50_ms": 1000.0 * statistics.median(lat),
        "visible_p50_s": visible_s,
        "batch_qps": batch_qps,
        "driver_peak_rss_mb": rss,
    }
    return run, metrics


# ---------------------------------------------------------------- ingest


def ingest(seed: int, seconds: float, trace: bool, work: str) -> tuple[Run, dict]:
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
        process_stream_batch,
    )

    run = Run(trace)
    tr = run.tracer
    t0 = perf()
    spark = start_session(work)
    setups = [perf() - t0]
    cold_start = setups[0]
    for _ in range(SETUP_REPS["ingest"] - 1):
        spark.stop()
        t0 = perf()
        spark = start_session(work)
        setups.append(perf() - t0)

    batches = gen.microbatches(seed, INGEST_BATCHES_MAX, INGEST_CONVS_PER_BATCH)
    paths = [
        write_rows(b, os.path.join(work, "input", f"batch-{i:03d}.parquet"))
        for i, b in enumerate(batches)
    ]
    sd = os.path.join(work, "index")
    oracle = Oracle()
    run.mark("session_and_inputs")
    visible, probe_lat, batch_s, final_s, opens = [], [], [], [], []
    counts = {"rows_in": 0, "docs_added": 0, "dup_dropped": 0, "bad_rows": 0}
    docs_per_s, kmap = [], {}
    wrapped = layers.instrument_query_engine(tr, run.counters) if trace else []
    # closed loop: at least INGEST_MIN_BATCHES batches, then until
    # ``seconds`` have passed; every figure is a median over batches 1..
    sent, end = [], perf() + seconds
    for b, (pdf, path) in enumerate(zip(batches, paths)):
        if b >= INGEST_MIN_BATCHES and perf() >= end:
            break
        sent.append(pdf)
        expected = oracle.add(pdf)
        probes = [
            (f"probe{b}_{j}", t)
            for j, t in enumerate(oracle.last_rare_terms(PROBES_PER_BATCH, K))
        ]
        new_keys = oracle.last_keys()
        bdf = read_rows(spark, path)
        run.mark("batch_prep")
        tr.op_id += 1
        t0 = perf()
        with tr.span("stream_build.batch"):
            ok = run.op(f"batch {b}", lambda: process_stream_batch(spark, bdf, b, sd, CFG) or True)
        t1 = perf()
        with tr.span("stream_build.finalize"):
            sidx = run.op(f"finalize {b}", lambda: finalize_streamed_index(spark, sd, CFG))
        t2 = perf()
        with tr.span("query_engine.open"):
            eng = run.op(f"open {b}", lambda: QueryEngine(sidx, warm=True))
        t3 = perf()
        outs, t_vis = [], perf()
        for j, q in enumerate(probes):
            ts = perf()
            with tr.span("query_engine.search"):
                rows = run.op(f"probe {b}.{j}", lambda q=q: eng.search([q], k=K).collect())
            outs.append((q, rows))
            if rows is not None and b > 0:
                probe_lat.append(perf() - ts)
            if j == 0:
                t_vis = perf()
        run.mark("batch_timed")
        if ok is None or sidx is None or eng is None:
            continue
        # checks for this batch, against the oracle's state after it
        kmap.update(keymap(os.path.join(sd, "documents", f"batch_seg={b}")))
        want = oracle.topk(probes, K)
        for q, rows in outs:
            if rows is not None:
                got = engine_lists([tuple(r) for r in rows], kmap, [q[0]])
                run.check(f"probe {b} {q[0]}", lambda got=got, q=q: got[q[0]] == want[q[0]]
                          and any((r[1], r[2]) in new_keys for r in got[q[0]]))
        added = _checkpoint_turns(sd, b)
        bad = _parquet_rows(os.path.join(sd, "_badrows", f"batch_seg={b}"))
        got_counts = {"rows_in": len(pdf), "docs_added": added, "bad_rows": bad,
                      "dup_dropped": len(pdf) - added - bad}
        run.check(f"counts {b}", lambda: got_counts == expected)
        if b > 0:
            visible.append(t_vis - t0)
            batch_s.append(t1 - t0)
            final_s.append(t2 - t1)
            opens.append(t3 - t2)
            docs_per_s.append(added / (t2 - t0))
        for k_ in counts:
            counts[k_] += got_counts[k_]
        run.mark("batch_checks")

    texts = oracle.texts()
    ranked, _ = gen.df_ranked_terms(texts)
    batch_q = gen.query_stream(seed, ranked, BATCH_QUERIES, stream=2, prefix="b")
    phrases = gen.phrase_set(seed, texts, PHRASES)
    batch_qps = batch_ops(run, sidx, oracle, batch_q, phrases, kmap)
    run.mark("batch_ops")
    layers.restore(wrapped)
    rss = driver_peak_rss_mb(run)
    oracle.close()

    L = run.layer
    index_layers(run, sd, DEFAULT_BLOCK_CACHE_MB)
    L["session.start_s"] = cold_start
    L["session.restart_s"] = statistics.median(setups[1:])
    L["query_engine.open_s"] = statistics.median(opens)
    L["stream_build.batch_s"] = statistics.median(batch_s)
    L["stream_build.finalize_s"] = statistics.median(final_s)
    for k_, v in counts.items():
        L[f"stream_build.{k_}"] = v
    if trace:
        span_layers(run, len(probe_lat))
    text_total = sum(text_bytes(p) for p in sent)
    run.sizing.update(
        batches=len(visible),
        rows_in=sum(len(p) for p in sent),
        text_bytes=text_total,
        block_cache_mb=DEFAULT_BLOCK_CACHE_MB,
    )
    metrics = {
        "setup_s": statistics.median(setups),
        "index_docs_per_s": statistics.median(docs_per_s),
        "index_bytes_per_text_byte": dir_bytes(sd) / text_total,
        "search_p50_ms": 1000.0 * statistics.median(probe_lat),
        "visible_p50_s": statistics.median(visible),
        "batch_qps": batch_qps,
        "driver_peak_rss_mb": rss,
    }
    shutdown(spark)
    return run, metrics


def _checkpoint_turns(index_dir: str, batch: int) -> int:
    t = pads.dataset(os.path.join(index_dir, "_checkpoints"), format="parquet").to_table(
        columns=["stage", "partition_id", "turns"]
    ).to_pydict()
    return sum(
        int(n) for s, p, n in zip(t["stage"], t["partition_id"], t["turns"])
        if s == "stream_batch" and int(p) == batch
    )


WORKLOADS = {"search": search, "ingest": ingest}
