"""Hypothesis property: the Spark BPE trainer (q83) and encoder (q109)
must agree with an independent pure-Python BPE implementation on random
small corpora — a third implementation, so a shared Spark/oracle
misunderstanding of the merge semantics can't hide.

Model semantics (the canonical BPE the module docstring claims):
- word frequencies over the whole corpus;
- per round: count adjacent symbol pairs weighted by word freq (pairs
  within a word only), pick (count DESC, s1 ASC, s2 ASC), fuse all
  non-overlapping occurrences LEFT-TO-RIGHT in every word;
- encoding: apply the learned merges to each word in merge order.
"""

from __future__ import annotations

import pytest

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from kinesyslog_spark.queries.tokenizer import (
    BPE_ROUNDS,
    q83_bpe_merges,
    q109_bpe_encode,
)

_word = st.text(alphabet="abc", min_size=1, max_size=5)
_corpus = st.lists(
    st.lists(_word, min_size=1, max_size=6), min_size=1, max_size=8
)


def _merge_word(syms: list[str], s1: str, s2: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
            out.append(s1 + s2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _model(docs: list[list[str]]):
    freq = Counter(w for d in docs for w in d)
    vocab = {w: list(w) for w in freq}
    merges = []
    for _ in range(BPE_ROUNDS):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            # every adjacent position counts (overlaps included) — the
            # same counting the Spark side's position transform does
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq[w]
        if not pairs:
            break
        (s1, s2), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((s1, s2, cnt))
        vocab = {w: _merge_word(syms, s1, s2) for w, syms in vocab.items()}
    # encoding per doc under the final merge list
    enc = []
    for i, d in enumerate(docs):
        n_tok = 0
        for w in d:
            syms = list(w)
            for s1, s2, _ in merges:
                syms = _merge_word(syms, s1, s2)
            n_tok += len(syms)
        enc.append(n_tok)
    return merges, enc


@settings(max_examples=10, deadline=None)
@given(docs=_corpus)
@pytest.mark.slow
def test_bpe_matches_python_model(spark, tmp_path_factory, docs):
    import os

    tmp = tmp_path_factory.mktemp("bpe")
    path = os.path.join(str(tmp), "documents.parquet")
    rows = [(i, " ".join(d), "en", "src0", len(" ".join(d))) for i, d in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(path)

    from kinesyslog_spark.tables import artifact_inventory, release_hot

    sf_dir = str(tmp)
    try:
        got_merges = [
            (r.s1, r.s2, r.cnt) for r in q83_bpe_merges(spark, sf_dir).collect()
        ]
        got_enc = {
            r.doc_id: r.n_tokens for r in q109_bpe_encode(spark, sf_dir).collect()
        }
    finally:
        release_hot(spark, sf_dir)
    # the trained merge table goes with its corpus's other artifacts
    assert not [a for a in artifact_inventory(spark)
                if a["corpus"] == sf_dir.rstrip("/")]

    want_merges, want_enc = _model(docs)
    assert got_merges == want_merges
    assert got_enc == {i: n for i, n in enumerate(want_enc)}
