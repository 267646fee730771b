import os
import sys

import pandas as pd
import pytest

from loadbench import gen
from loadbench.oracle import Oracle, engine_lists, mismatches
from loadbench.workloads import Run

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from oracle.bm25 import OracleIndex  # noqa: E402  the repo's numpy oracle


@pytest.fixture(scope="module")
def corpus():
    return gen.corpus(4, 10)


@pytest.fixture(scope="module")
def oracle(corpus):
    o = Oracle()
    o.add(corpus)
    yield o
    o.close()


def _keys(oracle):
    return oracle.con.execute("SELECT ord, conv_id, turn_idx FROM docs").fetchall()


def test_topk_agrees_with_the_numpy_oracle(corpus, oracle):
    ranked, _ = gen.df_ranked_terms(corpus["text"])
    queries = gen.query_stream(4, ranked, 30, stream=1)
    texts = dict(oracle.con.execute("SELECT ord, text FROM docs").fetchall())
    numpy_oracle = OracleIndex(sorted(texts.items()))
    key = {o: (c, t) for o, c, t in _keys(oracle)}
    got = oracle.topk(queries, 10)
    for qid, q in queries:
        want = [(r, *key[d], s) for r, d, s in numpy_oracle.search(q, 10)]
        assert got[qid] == want, qid


def test_phrase_topk_only_returns_docs_holding_the_phrase(corpus, oracle):
    phrases = gen.phrase_set(4, corpus["text"], 6)
    texts = {(c, t): x for c, t, x in oracle.con.execute(
        "SELECT conv_id, turn_idx, text FROM docs").fetchall()}
    res = oracle.phrase_topk(phrases, 10)
    for qid, p in phrases:
        assert res[qid], qid  # taken from the corpus, so it matches somewhere
        for _, c, t, _ in res[qid]:
            assert f" {p} " in " " + " ".join(gen.tokens(texts[(c, t)])) + " "


def _engine_rows(oracle, queries):
    """Rows an exact engine would return, under engine-side doc ids."""
    ids = {(c, t): 1000 + o for o, c, t in _keys(oracle)}
    rows = [
        (qid, r, ids[(c, t)], s)
        for qid, lst in oracle.topk(queries, 10).items()
        for r, c, t, s in lst
    ]
    return rows, {v: k for k, v in ids.items()}


@pytest.mark.parametrize("corrupt", ["score", "swap", "drop", "doc", "unknown_doc"])
def test_a_corrupted_result_is_counted_failed(corpus, oracle, corrupt):
    ranked, _ = gen.df_ranked_terms(corpus["text"])
    queries = gen.query_stream(4, ranked, 5, stream=3)
    rows, keymap = _engine_rows(oracle, queries)
    want = oracle.topk(queries, 10)
    qids = [q for q, _ in queries]
    assert not mismatches(engine_lists(rows, keymap, qids), want)

    bad = list(rows)
    q, r, d, s = bad[0]
    if corrupt == "score":
        bad[0] = (q, r, d, s + 1e-6)
    elif corrupt == "swap":
        bad[0], bad[1] = (q, r, bad[1][2], bad[1][3]), (q, bad[1][1], d, s)
    elif corrupt == "drop":
        bad = bad[1:]
    elif corrupt == "doc":
        other = next(x for x in keymap if x != d)
        bad[0] = (q, r, other, s)
    else:
        bad[0] = (q, r, 10**9, s)
    run = Run(trace=False)
    run.attempted = 1
    run.check("corrupted", lambda: not mismatches(engine_lists(bad, keymap, qids), want))
    assert run.failed == 1


def test_exceptions_are_counted_and_do_not_abort():
    run = Run(trace=False)

    def boom():
        raise RuntimeError("injected")

    assert run.op("raises", boom) is None
    assert run.op("fine", lambda: 3) == 3
    run.check("check raises", lambda: 1 / 0)
    assert (run.attempted, run.failed) == (2, 2)


def test_add_counts_duplicates_and_bad_rows():
    o = Oracle()
    ts = pd.Timestamp("2026-03-09")
    row = lambda c, t, x: {"conv_id": c, "turn_idx": t, "text": x, "ts": ts}  # noqa: E731
    first = pd.DataFrame([row("c1", 0, "a b"), row("c1", 1, "b c"), row("c1", 1, "b c"),
                          row("c1", 2, None), row(None, 3, "d")])
    assert o.add(first) == {"rows_in": 5, "bad_rows": 2, "dup_dropped": 1, "docs_added": 2}
    second = pd.DataFrame([row("c1", 0, "a b"), row("c2", 0, "e")])
    assert o.add(second) == {"rows_in": 2, "bad_rows": 0, "dup_dropped": 1, "docs_added": 1}
    assert o.last_keys() == {("c2", 0)}
    assert o.last_rare_terms(5, 2) == ["e"]
    o.close()
