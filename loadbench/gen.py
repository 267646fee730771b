"""Seeded input generators. Every input the program receives comes from
here and is fully determined by the seed and the sizes.

- ``corpus``: the bulk corpus, the package's own synthetic transcripts
  (``synth_transcripts_pdf(..., fast=True, with_anomalies=True)``).
- ``query_stream``: 1-4 term queries, terms drawn Zipf-style over the
  corpus' document-frequency ranks, with a share of absent terms and
  of casing variants.
- ``phrase_set``: 2-3 token phrases cut from the corpus' own token runs.
- ``microbatches``: the ingest schedule; fresh turns plus re-delivered
  turns (exact copies of turns already sent) and bad rows.

Document frequencies are computed here from the generated text with a
tokenizer of this file's own, never read back from the index.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd

VOCAB_SIZE = 20_000
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)


def tokens(text) -> list[str]:
    return _TOKEN_RE.findall(text.lower()) if isinstance(text, str) else []


def corpus(seed: int, n_convs: int) -> pd.DataFrame:
    from snowplow_elasticsearch_loader_spark.sources.transcripts import (
        synth_transcripts_pdf,
    )

    return synth_transcripts_pdf(
        n_convs, seed, VOCAB_SIZE, with_anomalies=True, fast=True
    )


def df_ranked_terms(texts) -> tuple[list[str], Counter]:
    """Terms of ``texts`` ordered by document frequency, most frequent
    first (ties by term), and the frequencies."""
    df: Counter = Counter()
    for t in texts:
        df.update(set(tokens(t)))
    return [t for t, _ in sorted(df.items(), key=lambda x: (-x[1], x[0]))], df


def query_stream(
    seed: int,
    ranked_terms: list[str],
    n: int,
    stream: int,
    prefix: str = "q",
    absent_share: float = 0.05,
    case_share: float = 0.10,
) -> list[tuple[str, str]]:
    """``n`` (query_id, text) pairs. Term ``r`` (1-based df rank) is
    drawn with probability proportional to ``1/r``. Streams with other
    ``stream`` numbers are independent."""
    rng = np.random.RandomState([seed, 0x51, stream])
    cdf = np.cumsum(1.0 / np.arange(1, len(ranked_terms) + 1))
    cdf /= cdf[-1]
    out = []
    for i in range(n):
        m = int(rng.randint(1, 5))
        picks = np.searchsorted(cdf, rng.rand(m), side="right").clip(0, len(cdf) - 1)
        words = [ranked_terms[j] for j in picks]
        if rng.rand() < absent_share:
            words[int(rng.randint(m))] = f"zqxabsent{int(rng.randint(10**6))}"
        if rng.rand() < case_share:
            words = [w.upper() if j % 2 == 0 else w.title() for j, w in enumerate(words)]
        out.append((f"{prefix}{i:05d}", " ".join(words)))
    return out


def phrase_set(seed: int, texts, n: int, prefix: str = "p") -> list[tuple[str, str]]:
    """``n`` phrases of 2-3 consecutive tokens from random texts."""
    rng = np.random.RandomState([seed, 0x52])
    pool = [tk for tk in (tokens(t) for t in texts) if len(tk) >= 3 and len(tk) < 1000]
    out = []
    for i in range(n):
        tk = pool[int(rng.randint(len(pool)))]
        m = int(rng.randint(2, 4))
        s = int(rng.randint(len(tk) - m + 1))
        out.append((f"{prefix}{i:03d}", " ".join(tk[s : s + m])))
    return out


def microbatches(
    seed: int,
    n_batches: int,
    convs_per_batch: int,
    redeliver_share: float = 0.10,
    bad_share: float = 0.02,
) -> list[pd.DataFrame]:
    """The ingest schedule: batch ``b`` carries the fresh turns of its
    own block of conversations, exact copies of turns sent in earlier
    batches (the replay case) plus a few copies within the batch, and
    bad rows (null text or null key) under keys of their own. Row order
    inside a batch is shuffled."""
    rng = np.random.RandomState([seed, 0x53])
    full = corpus(seed, n_batches * convs_per_batch)
    conv_no = full["conv_id"].str.slice(5).astype(int).to_numpy()
    batches, sent_good = [], []
    for b in range(n_batches):
        fresh = full[conv_no // convs_per_batch == b]
        good_fresh = fresh[fresh["text"].notna()]
        parts = [fresh]
        n_re = int(round(redeliver_share * len(fresh)))
        if sent_good:
            prev = pd.concat(sent_good, ignore_index=True)
            parts.append(prev.iloc[rng.choice(len(prev), size=n_re, replace=False)])
        n_in = max(1, n_re // 4)
        parts.append(good_fresh.iloc[rng.choice(len(good_fresh), size=n_in, replace=False)])
        n_bad = max(2, int(round(bad_share * len(fresh))))
        bad = good_fresh.iloc[rng.choice(len(good_fresh), size=n_bad, replace=False)].copy()
        bad["turn_idx"] = (100_000 + np.arange(n_bad)).astype(np.int32)
        null_key = np.arange(n_bad) % 2 == 1
        bad["text"] = bad["text"].where(null_key, None)
        bad["conv_id"] = bad["conv_id"].where(~null_key, None)
        parts.append(bad)
        batch = pd.concat(parts, ignore_index=True)
        batches.append(batch.iloc[rng.permutation(len(batch))].reset_index(drop=True))
        sent_good.append(good_fresh)
    return batches
