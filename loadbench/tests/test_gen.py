import io
import json

import pyarrow.parquet as pq

from loadbench import gen
from loadbench.workloads import arrow_rows


def _parquet_bytes(pdf) -> bytes:
    buf = io.BytesIO()
    pq.write_table(arrow_rows(pdf), buf)
    return buf.getvalue()


def _inputs(seed: int) -> list[bytes]:
    """Every input a run hands the program, serialized."""
    pdf = gen.corpus(seed, 12)
    ranked, _ = gen.df_ranked_terms(pdf["text"])
    out = [_parquet_bytes(pdf)]
    out.append(json.dumps(gen.query_stream(seed, ranked, 50, stream=1)).encode())
    out.append(json.dumps(gen.query_stream(seed, ranked, 8, stream=2, prefix="b")).encode())
    out.append(json.dumps(gen.phrase_set(seed, pdf["text"], 8)).encode())
    out.extend(_parquet_bytes(b) for b in gen.microbatches(seed, 3, 4))
    return out


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert len(a) == len(b)
    assert all(x != y for x, y in zip(a, b))


def test_query_stream_shape():
    pdf = gen.corpus(3, 12)
    ranked, df = gen.df_ranked_terms(pdf["text"])
    assert [df[t] for t in ranked] == sorted(df.values(), reverse=True)
    qs = gen.query_stream(3, ranked, 400, stream=1)
    n_terms = [len(q.split()) for _, q in qs]
    assert min(n_terms) == 1 and max(n_terms) == 4
    assert any("zqxabsent" in q for _, q in qs)
    assert any(q != q.lower() for _, q in qs)
    # Zipf over df ranks: the most frequent term is drawn most often
    drawn = [w.lower() for _, q in qs for w in q.split()]
    assert max(set(drawn), key=drawn.count) == ranked[0]


def test_phrases_are_runs_of_corpus_tokens():
    pdf = gen.corpus(3, 12)
    runs = [" " + " ".join(gen.tokens(t)) + " " for t in pdf["text"]]
    for _, p in gen.phrase_set(3, pdf["text"], 10):
        assert 2 <= len(p.split()) <= 3
        assert any(f" {p} " in r for r in runs)


def test_microbatches_carry_redeliveries_and_bad_rows():
    batches = gen.microbatches(5, 3, 4)
    seen = set()
    for i, b in enumerate(batches):
        keys = list(zip(b["conv_id"], b["turn_idx"]))
        bad = b["text"].isna() | b["conv_id"].isna()
        assert bad.sum() >= 2
        good_keys = [k for k, is_bad in zip(keys, bad) if not is_bad]
        assert len(good_keys) > len(set(good_keys))  # copies inside the batch
        if i:
            assert any(k in seen for k in good_keys)  # re-delivered turns
        seen |= set(good_keys)
