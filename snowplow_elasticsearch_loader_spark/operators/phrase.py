"""match_phrase over positional postings (ES match_phrase analog —
query surface seeded at it/TestHelpers.scala:157-201).

Replaces r01's full-corpus normalize+contains() scan: candidate blocks
are read through the same pruned path as BM25 (term_bucket partition
pruning + term predicate pushdown), and adjacency is decided from the
positions stream inside a per-(query, doc-range) Arrow group.

Adjacency algorithm (vectorized slot intersection): a phrase of m
tokens defines m slots; slot i holding term t contributes, for every
occurrence of t at position q in doc d (with q >= i), the candidate
base position (d, q - i). A base is a phrase match iff ALL m slots
produced it; since positions are unique per (slot, doc), that is
exactly "count of (d, base) across slots == m" — one np.unique with
counts, no per-row Python.

Matched docs are then scored with the same BM25 contract as every
other path (same idf literals, ascending-term accumulation, round-6
quantized ranking), so the DuckDB phrase oracle (normalized-text
containment + BM25 over phrase terms) stays the oracle unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
from ..functions.analyze import tokenize_text
from .bm25 import idf as idf_fn
from .index_build import decode_positions
from .wand import RESULT_SCHEMA, _exact_scores, _empty_result, empty_topk

#: positions fit 20 bits (limits.max_tokens_per_turn <= 100k < 2^17);
#: doc ids fit the remaining 43 bits at 10^12-turn scale
_POS_BITS = 20

PHRASE_INPUT_COLS = [
    "term",
    "range_id",
    "docs_varint",
    "tfs_varint",
    "dls_varint",
    "pos_varint",
]


def make_phrase_evaluator(k: int, k1: float, b: float, avgdl: float, m_by_query: dict):
    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = key[0]
        m = int(m_by_query[query_id])
        if len(pdf) == 0:
            return _empty_result()
        terms, t_codes = np.unique(pdf["term"].to_numpy(), return_inverse=True)
        w_by_code = np.zeros(terms.size)
        w_by_code[t_codes] = pdf["w"].to_numpy()

        # decode every candidate block once
        blk = []
        slot_keys = []
        for i in range(len(pdf)):
            d, tf, dl = codec.decode_block(
                bytes(pdf["docs_varint"].iat[i]),
                bytes(pdf["tfs_varint"].iat[i]),
                bytes(pdf["dls_varint"].iat[i]),
            )
            pb = pdf["pos_varint"].iat[i]
            if pb is None or len(pb) == 0:
                raise ValueError(
                    "phrase search requires a positional index "
                    "(index.store_positions was off at build time)"
                )
            plists = decode_positions(bytes(pb), tf)
            blk.append((t_codes[i], d, tf, dl))
            doc_of_pos = np.repeat(d.astype(np.int64), tf.astype(np.int64))
            p = np.concatenate(plists) if plists else np.empty(0, dtype=np.int64)
            for off in pdf["offsets"].iat[i]:
                ok = p >= off
                slot_keys.append(
                    ((doc_of_pos[ok] << _POS_BITS) | (p[ok] - off)).astype(np.int64)
                )
        if not slot_keys:
            return _empty_result()
        all_keys = np.concatenate(slot_keys)
        uniq, counts = np.unique(all_keys, return_counts=True)
        matched = np.unique(uniq[counts == m] >> _POS_BITS)
        if matched.size == 0:
            return _empty_result()

        # exact BM25 over the phrase's terms, matched docs only —
        # identical expression tree + accumulation order as bm25/wand
        rows_d, rows_c, rows_t = [], [], []
        for code, d, tf, dl in blk:
            mask = np.isin(d.astype(np.int64), matched)
            if not mask.any():
                continue
            tff = tf.astype(np.float64)[mask]
            dlf = dl.astype(np.float64)[mask]
            contrib = (
                w_by_code[code]
                * (tff * (k1 + 1.0))
                / (tff + k1 * ((1.0 - b) + b * dlf / avgdl))
            )
            rows_d.append(d.astype(np.int64)[mask])
            rows_c.append(contrib)
            rows_t.append(np.full(int(mask.sum()), code, dtype=np.int32))
        if not rows_d:
            return _empty_result()
        s_doc, s_score = _exact_scores(
            np.concatenate(rows_d), np.concatenate(rows_t), np.concatenate(rows_c)
        )
        if s_doc.size > k:
            key_score = np.round(s_score, 6)
            order = np.lexsort((s_doc, -key_score))[:k]
            s_doc, s_score = s_doc[order], s_score[order]
        return pd.DataFrame(
            {
                "query_id": np.repeat(query_id, s_doc.size),
                "doc_id": s_doc.astype(np.int64),
                "score": s_score,
            }
        )

    return evaluate


def make_phrase_range_evaluator(
    queries_spec: dict[str, dict],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
):
    """Per-RANGE phrase evaluator: query weights/offsets are driver-known
    and ride the closure (``queries_spec[qid] = {"m": ..., "terms":
    {term: (w, offsets)}}``), so block rows cross the Arrow boundary
    once per range with no qterms broadcast join and no per-query row
    duplication — the same r6 restructure as the WAND path. Scores come
    from the unchanged per-query evaluator, so they stay bit-identical."""

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for qid in sorted(queries_spec):
            spec = queries_spec[qid]
            terms_q = spec["terms"]
            sub = pdf[pdf["term"].isin(terms_q)]
            if len(sub) == 0:
                continue
            sub = sub.copy()
            sub["w"] = sub["term"].map({t: wo[0] for t, wo in terms_q.items()})
            sub["offsets"] = sub["term"].map({t: wo[1] for t, wo in terms_q.items()})
            inner = make_phrase_evaluator(k, k1, b, avgdl, {qid: spec["m"]})
            frames.append(inner((qid,), sub))
        if not frames:
            return _empty_result()
        return pd.concat(frames, ignore_index=True)

    return evaluate


def phrase_topk(
    blocks: DataFrame,
    termdict: DataFrame,
    corpus: tuple[int, float],
    queries: list[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    term_rows: list[dict] | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score): docs containing the analyzed
    phrase contiguously, ranked by BM25 over the phrase's terms.

    ``term_rows`` — pre-looked-up ``{term, df, term_bucket}`` dicts
    (``InvertedIndex.lookup_terms``): skips the per-call termdict
    filter+collect Spark job."""
    from ..shipping import ensure_shipped

    spark = blocks.sparkSession
    ensure_shipped(spark)
    n_docs, avgdl = corpus
    analyzed = {qid: tokenize_text(qtext) for qid, qtext in queries}
    all_terms = sorted({t for toks in analyzed.values() for t in toks})
    td = (
        term_rows
        if term_rows is not None
        else [
            r.asDict()
            for r in termdict.filter(F.col("term").isin(all_terms))
            .select("term", "df", "term_bucket")
            .collect()
        ]
    )
    df_map = {r["term"]: int(r["df"]) for r in td}
    bucket_map = {r["term"]: int(r["term_bucket"]) for r in td}

    qrows = []  # (query_id, term, w, offsets)
    m_by_query: dict[str, int] = {}
    live_terms: set[str] = set()
    for qid, toks in analyzed.items():
        if not toks or any(t not in df_map for t in toks):
            continue  # a missing term can never match the full phrase
        m_by_query[qid] = len(toks)
        offs: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            offs.setdefault(t, []).append(i)
        for t, o in sorted(offs.items()):
            w = float(len(o)) * idf_fn(n_docs, df_map[t])
            qrows.append((qid, t, w, o))
            live_terms.add(t)
    if not qrows:
        return empty_topk(spark)
    queries_spec: dict[str, dict] = {}
    for qid, t, w, offs in qrows:
        queries_spec.setdefault(qid, {"m": m_by_query[qid], "terms": {}})[
            "terms"
        ][t] = (w, offs)
    buckets = sorted({bucket_map[t] for t in live_terms})
    cand = (
        blocks.filter(F.col("term_bucket").isin(buckets))  # partition pruning
        .filter(F.col("term").isin(sorted(live_terms)))  # pushdown
        .select(*PHRASE_INPUT_COLS)
    )
    per_range = cand.groupBy("range_id").applyInPandas(
        make_phrase_range_evaluator(
            queries_spec, k, cfg.bm25.k1, cfg.bm25.b, avgdl
        ),
        schema=RESULT_SCHEMA,
    )
    ranked = per_range.select(
        "query_id", "doc_id", F.round(F.col("score"), 6).alias("score")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k).select("query_id", "rank", "doc_id", "score")
