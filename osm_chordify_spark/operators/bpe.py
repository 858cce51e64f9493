"""Distributed BPE tokenizer training + encoding.

The tokenizer-training step of a training-data pipeline (Sennrich-style
byte-pair encoding), shaped for a 100 TB corpus:

* :func:`word_frequencies` — the ONLY full-corpus pass: tokenize +
  groupBy word (map-side combined count).  Everything after runs over
  the word-frequency table, whose size is bounded by vocabulary — it
  grows with *language*, not with corpus bytes (and ``top_words`` caps
  it outright, the standard tokenizer-training practice).
* :func:`train_bpe` — the merge loop stays in Spark: adjacent-pair
  counts come from an explode + freq-weighted sum (map-side partials),
  the argmax is a deterministic (count desc, pair asc) top-1, and the
  chosen merge is applied to every word with a JVM ``aggregate``
  higher-order fold (left-to-right, exactly BPE's application order) —
  no Python crosses the executor boundary in the loop.  One scalar
  (the winning pair) comes to the driver per merge: that is the
  algorithm's inherently sequential decision, not a data collect.
* :func:`bpe_encode` — applies learned merges to text with an
  Arrow-batched pandas UDF that memoizes per distinct word within a
  batch (web text is Zipfian: a few thousand distinct words cover
  almost every batch).

Determinism contract: ties in pair counts break on (left, right)
lexicographic order, so the merge table is a pure function of the
word-frequency table — reruns, re-partitionings, and the pure-Python
reference in tests/test_bpe.py produce the identical table.

Reference scope note: the reference repo (LBNL-UCB-STI/osm-chordify)
has no tokenizer; this is part of the beyond-reference LLM-pipeline
surface, same tier as operators/dedup.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_chordify_spark.functions import materialize as MZ

END = "</w>"
REROOT_EVERY = 4  # merge rounds between eager re-roots of the state
_TOKEN_RE = r"[^a-z0-9']+"


def word_frequencies(
    docs: DataFrame, text_col: str = "text", top_words: int | None = None
) -> DataFrame:
    """(word, freq) over the corpus — lowercase, split on non
    [a-z0-9'] runs.  ``top_words`` keeps the most frequent words only
    (ties broken by word asc), bounding the training table no matter
    the corpus size."""
    wf = (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), _TOKEN_RE)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if top_words is not None:
        wf = wf.orderBy(F.col("freq").desc(), F.col("word")).limit(top_words)
    return wf


def _merge_fold(syms, left: str, right: str):
    """JVM fold applying ONE merge (left,right)->left+right to a symbol
    array, left-to-right (an element just produced by a merge does not
    re-merge with the next symbol unless it itself equals ``left``) —
    the exact classic-BPE application order."""
    merged = F.lit(left + right)
    return F.when(F.size(syms) <= 1, syms).otherwise(
        F.aggregate(
            F.slice(syms, 2, F.size(syms) - 1),
            F.slice(syms, 1, 1),
            lambda acc, x: F.when(
                (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
    )


def train_bpe(word_freq: DataFrame, num_merges: int) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a (word, freq) table.

    Returns the ordered merge list [(left, right), ...].  Iteration
    state is one DataFrame of (symbols array<string>, freq) rows —
    O(vocabulary); per round: one freq-weighted adjacent-pair count
    (two narrow shuffles over pair keys), one deterministic top-1, one
    codegen-side fold applying the merge.  Plans are re-rooted with one
    ``functions.materialize.materialize`` every ``REROOT_EVERY`` rounds
    so lineage and carried stats stay bounded (see tests/test_bpe.py
    for the pure-Python parity pin).
    """
    # (?!^)(?=.) matches between characters only (Spark split keeps
    # trailing empties, so a bare (?!^) would append a '' symbol)
    syms = F.concat(F.split(F.col("word"), r"(?!^)(?=.)"), F.array(F.lit(END)))
    state = word_freq.select(syms.alias("syms"), F.col("freq"))
    merges: list[tuple[str, str]] = []
    for r in range(num_merges):
        pairs = (
            state.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        left, right = pairs[0]["l"], pairs[0]["r"]
        merges.append((left, right))
        state = state.select(_merge_fold(F.col("syms"), left, right).alias("syms"), "freq")
        if (r + 1) % REROOT_EVERY == 0:
            state, _ = MZ.materialize(state)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic BPE encode of one word: repeatedly merge the
    lowest-rank adjacent pair, applying that pair left-to-right."""
    syms = list(word) + [END]
    while len(syms) >= 2:
        best = None
        for a, b in zip(syms, syms[1:]):
            rk = ranks.get((a, b))
            if rk is not None and (best is None or rk < best[0]):
                best = (rk, a, b)
        if best is None:
            break
        _, a, b = best
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col: array<string>`` — the BPE tokenization of
    ``text_col`` under the learned merge table.  Arrow-batched pandas
    UDF with a per-batch distinct-word memo (Zipfian hit rate); the
    merge table rides the closure (kilobytes — broadcast-by-value)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        import re

        memo: dict[str, list[str]] = {}
        tok = re.compile(_TOKEN_RE)
        out = []
        for t in texts:
            toks: list[str] = []
            for w in tok.split((t or "").lower()):
                if not w:
                    continue
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _encode_word(w, ranks)
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn(out_col, enc(F.col(text_col)))


def bpe_token_stats(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """(token, n_docs, total) frequency table of the encoded corpus —
    the vocabulary-coverage report a tokenizer run ends with."""
    enc = bpe_encode(docs, merges, text_col=text_col)
    return (
        enc.select(F.monotonically_increasing_id().alias("__d"), F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(
            F.count_distinct("__d").alias("n_docs"),
            F.count(F.lit(1)).alias("total"),
        )
    )
