"""Independent oracle: BM25 and phrase top-k in DuckDB over the
generated input.

It shares no code with the engine. It reads the rows the benchmark
generated (never the engine's doc store), applies the loader's
documented row rules itself (null text or key, text over 1 MB, or more
than 100k tokens is a bad row; the first delivery of a
``(conv_id, turn_idx)`` wins), and scores with the public Lucene BM25
formula (k1=1.2, b=0.75), summing each document's term contributions in
ascending term order and rounding to 6 decimals.

Ties on the rounded score break on the engine's documented doc-id
order: ids are dense ranks of ``(conv_id, turn_idx)``, assigned per
delivered batch, each batch above all earlier ones. The oracle keeps
that order as ``ord``; results are compared on
``(rank, conv_id, turn_idx, score)``.
"""

from __future__ import annotations

import duckdb
import pandas as pd

K1, B = 1.2, 0.75
MAX_TEXT_BYTES = 1_000_000
MAX_TOKENS = 100_000
_TOKS = "regexp_extract_all(lower({}), '[\\p{{L}}\\p{{N}}]+')"


def _toks(col: str) -> str:
    return _TOKS.format(col)


class Oracle:
    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE docs (ord BIGINT, conv_id VARCHAR, turn_idx INTEGER, text VARCHAR)"
        )
        self._stale = True
        self.last = (0, 0)

    def add(self, rows: pd.DataFrame) -> dict[str, int]:
        """Deliver one batch; returns its expected counts
        ``rows_in``, ``bad_rows``, ``dup_dropped`` and ``docs_added``."""
        con = self.con
        con.register("batch_in", rows[["conv_id", "turn_idx", "text", "ts"]])
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE batch AS
            SELECT *, text IS NULL OR conv_id IS NULL OR turn_idx IS NULL
                   OR strlen(text) > {MAX_TEXT_BYTES}
                   OR len({_toks('text')}) > {MAX_TOKENS} AS bad
            FROM batch_in"""
        )
        con.unregister("batch_in")
        next_ord = con.execute("SELECT coalesce(max(ord) + 1, 0) FROM docs").fetchone()[0]
        con.execute(
            f"""INSERT INTO docs
            SELECT {next_ord} + row_number() OVER (ORDER BY conv_id, turn_idx) - 1,
                   conv_id, turn_idx, text
            FROM (
              SELECT conv_id, turn_idx, first(text ORDER BY ts, text) AS text
              FROM batch b
              WHERE NOT bad AND NOT EXISTS (
                SELECT 1 FROM docs d WHERE d.conv_id = b.conv_id AND d.turn_idx = b.turn_idx)
              GROUP BY conv_id, turn_idx
            )"""
        )
        added = con.execute("SELECT count(*) FROM docs").fetchone()[0] - next_ord
        n_in, n_bad = con.execute("SELECT count(*), count_if(bad) FROM batch").fetchone()
        self._stale = True
        self.last = (next_ord, next_ord + added)
        return {
            "rows_in": int(n_in),
            "bad_rows": int(n_bad),
            "dup_dropped": int(n_in - n_bad - added),
            "docs_added": int(added),
        }

    def _refresh(self) -> None:
        if not self._stale:
            return
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE postings AS
            SELECT term, ord, CAST(count(*) AS INTEGER) AS tf
            FROM (SELECT ord, unnest({_toks('text')}) AS term FROM docs)
            GROUP BY term, ord;
            CREATE OR REPLACE TEMP TABLE dstats AS
            SELECT ord, len({_toks('text')}) AS doclen,
                   ' ' || array_to_string({_toks('text')}, ' ') || ' ' AS norm
            FROM docs;
            CREATE OR REPLACE TEMP TABLE tstats AS
            SELECT term, count(*) AS df FROM postings GROUP BY term;
            CREATE OR REPLACE TEMP TABLE corpus AS
            SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
            FROM dstats"""
        )
        self._stale = False

    def _ranked(self, queries: list[tuple[str, str]], k: int, phrase: bool):
        self._refresh()
        con = self.con
        con.register("qin", pd.DataFrame(queries, columns=["query_id", "query_text"]))
        match = "WHERE contains(d.norm, qraw.phrase)" if phrase else ""
        rows = con.execute(
            f"""
            WITH qraw AS (
              SELECT query_id, query_text,
                     ' ' || array_to_string({_toks('query_text')}, ' ') || ' ' AS phrase
              FROM qin),
            qterms AS (
              SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf
              FROM (SELECT query_id, unnest({_toks('query_text')}) AS term FROM qraw)
              GROUP BY query_id, term),
            contribs AS (
              SELECT q.query_id, p.ord, p.term,
                     q.qtf * ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
                       * (p.tf * {K1 + 1.0!r})
                       / (p.tf + {K1!r} * ({1.0 - B!r} + {B!r} * d.doclen / c.avgdl)) AS contrib
              FROM qterms q
              JOIN qraw USING (query_id)
              JOIN postings p USING (term)
              JOIN tstats t USING (term)
              JOIN dstats d ON d.ord = p.ord
              CROSS JOIN corpus c
              {match}),
            scored AS (
              SELECT query_id, ord,
                     round(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b), 6) AS score
              FROM contribs GROUP BY query_id, ord),
            ranked AS (
              SELECT query_id, ord, score,
                     row_number() OVER (PARTITION BY query_id ORDER BY score DESC, ord ASC) AS rank
              FROM scored)
            SELECT r.query_id, r.rank, d.conv_id, d.turn_idx, r.score
            FROM ranked r JOIN docs d USING (ord)
            WHERE r.rank <= {int(k)}
            ORDER BY r.query_id, r.rank"""
        ).fetchall()
        con.unregister("qin")
        out: dict[str, list[tuple]] = {qid: [] for qid, _ in queries}
        for qid, rank, conv, turn, score in rows:
            out[qid].append((int(rank), conv, int(turn), float(score)))
        return out

    def topk(self, queries: list[tuple[str, str]], k: int) -> dict[str, list[tuple]]:
        """``query_id -> [(rank, conv_id, turn_idx, score)]``."""
        return self._ranked(queries, k, phrase=False)

    def phrase_topk(self, queries: list[tuple[str, str]], k: int) -> dict[str, list[tuple]]:
        """Docs containing the analyzed phrase contiguously, ranked by
        BM25 over the phrase's terms."""
        return self._ranked(queries, k, phrase=True)

    def last_keys(self) -> set[tuple[str, int]]:
        """Keys of the docs the last batch added."""
        lo, hi = self.last
        rows = self.con.execute(
            f"SELECT conv_id, turn_idx FROM docs WHERE ord >= {lo} AND ord < {hi}"
        ).fetchall()
        return {(c, int(t)) for c, t in rows}

    def last_rare_terms(self, n: int, max_df: int) -> list[str]:
        """Up to ``n`` terms of the docs the last batch added that fewer
        than ``max_df`` docs hold in all, rarest first."""
        self._refresh()
        lo, hi = self.last
        rows = self.con.execute(
            f"""SELECT t.term FROM tstats t
            WHERE t.df < {int(max_df)} AND EXISTS (
              SELECT 1 FROM postings p WHERE p.term = t.term AND p.ord >= {lo} AND p.ord < {hi})
            ORDER BY t.df, t.term LIMIT {int(n)}"""
        ).fetchall()
        return [r[0] for r in rows]

    def texts(self) -> list[str]:
        return [r[0] for r in self.con.execute("SELECT text FROM docs ORDER BY ord").fetchall()]

    def close(self) -> None:
        self.con.close()


def engine_lists(rows, keymap: dict[int, tuple[str, int]], qids) -> dict[str, list[tuple]]:
    """Engine ``(query_id, rank, doc_id, score)`` rows as the oracle's
    ``query_id -> [(rank, conv_id, turn_idx, score)]``; a doc id the
    doc store does not know maps to ``(None, None)``."""
    out: dict[str, list[tuple]] = {q: [] for q in qids}
    for qid, rank, doc_id, score in rows:
        conv, turn = keymap.get(int(doc_id), (None, None))
        out.setdefault(qid, []).append((int(rank), conv, turn, round(float(score), 6)))
    for lst in out.values():
        lst.sort(key=lambda r: r[0])
    return out


def mismatches(got: dict[str, list[tuple]], want: dict[str, list[tuple]]) -> list[str]:
    """Query ids whose result lists differ in any rank, key or score."""
    return sorted(q for q in set(got) | set(want) if got.get(q, []) != want.get(q, []))
