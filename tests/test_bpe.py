"""Distributed BPE training/encoding vs a pure-Python Sennrich
reference on the identical word-frequency table."""

import pandas as pd
from pyspark.sql import functions as F

from osm_chordify_spark.operators import bpe as B


def _py_train(wf: dict[str, int], num_merges: int) -> list[tuple[str, str]]:
    vocab = {tuple(list(w) + [B.END]): f for w, f in wf.items()}
    merges = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        maxc = max(counts.values())
        best = min(p for p, c in counts.items() if c == maxc)
        merges.append(best)
        a, b = best
        new = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    return merges


TEXTS = [
    "the lower the newer the wider the better",
    "low lower lowest new newer newest wide wider widest",
    "newer lower wider better faster stronger",
    "the new low wide better best",
    "lowering and widening and newering are not words but lower and wider are",
]


def test_train_bpe_matches_python_reference(spark):
    docs = spark.createDataFrame(pd.DataFrame({"text": TEXTS}))
    wf_df = B.word_frequencies(docs)
    wf = {r["word"]: r["freq"] for r in wf_df.collect()}
    want = _py_train(wf, 12)
    got = B.train_bpe(wf_df, 12)
    assert got == want
    assert len(got) == 12  # corpus is rich enough for all 12 merges


def test_bpe_encode_matches_wordwise_reference(spark):
    docs = spark.createDataFrame(pd.DataFrame({"text": TEXTS}))
    wf_df = B.word_frequencies(docs)
    merges = B.train_bpe(wf_df, 10)
    ranks = {p: i for i, p in enumerate(merges)}
    out = B.bpe_encode(docs, merges).toPandas()
    import re

    tok = re.compile(B._TOKEN_RE)
    for t, got in zip(out["text"], out["bpe_tokens"]):
        want = []
        for w in tok.split(t.lower()):
            if w:
                want.extend(B._encode_word(w, ranks))
        assert list(got) == want
    # round-trip: concatenating tokens and stripping END recovers words
    joined = "".join(out["bpe_tokens"][0]).replace(B.END, " ").strip()
    assert joined == TEXTS[0]


def test_top_words_cap_and_token_stats(spark):
    docs = spark.createDataFrame(pd.DataFrame({"text": TEXTS}))
    wf = B.word_frequencies(docs, top_words=5)
    assert wf.count() == 5
    merges = B.train_bpe(B.word_frequencies(docs), 6)
    stats = B.bpe_token_stats(docs, merges).toPandas()
    # every token in the stats table appears in at least one doc
    assert (stats["total"] >= stats["n_docs"]).all()
    the = stats.set_index("token")
    if "the" + B.END in the.index:
        # 'the' appears as a word in exactly TEXTS[0] and TEXTS[3]
        assert the.loc["the" + B.END, "n_docs"] == 2
