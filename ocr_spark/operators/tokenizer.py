"""Distributed BPE merge learning — tokenizer induction over the corpus.

Extension tier (no reference counterpart — the reference is a
single-machine OCR engine, SURVEY.md §2): before an LLM trains on a
curated corpus, a subword tokenizer is learned FROM that corpus.
Byte-pair encoding (Sennrich et al. 2016) is the canonical algorithm:
repeatedly count adjacent symbol pairs over the word-frequency table
and merge the most frequent pair.

Design for Spark (and for a cross-engine oracle):

- **Word types, not the token stream.** The corpus collapses to a
  ``(word, count)`` vocabulary first — pair counting is then linear in
  VOCAB size (10^7-10^8 rows at web scale), not corpus size. This is
  exactly how reference BPE trainers work, and it makes every round a
  small uniform-key shuffle.
- **Framed-string symbol encoding, merge = string replace.** A word's
  current segmentation is one string ``\\x1f sym \\x1e ...`` (every
  symbol framed by unit/record separators). Applying merge (a, b) is a
  single codegen ``replace(enc, '\\x1f a \\x1e \\x1f b \\x1e',
  '\\x1f ab \\x1e')`` — both Spark's UTF8String.replace and DuckDB's
  replace() scan left-to-right non-overlapping without rescanning the
  replacement, which IS greedy BPE application. No per-row Python, no
  interpreted HOF fold in the hot path. (Frames cannot collide with
  corpus symbols: the synthetic corpus is [a-z0-9 ]; production would
  frame with any byte outside the tokenizer alphabet.)
- **Deterministic argmax.** Best pair = max count, ties broken by
  lexicographically smallest (s1, s2): a global MAX aggregate, a
  broadcast semi-filter, then MIN over a (s1, s2) struct — no global
  sort, and identical under Spark and DuckDB binary string ordering.
- **Linear plans over rounds.** Each round consumes the previous
  round's encoding twice (pair counting + merge application); Spark
  plans are trees, so without a boundary the vocab subtree doubles per
  round (2^R leaf copies). Staging the vocabulary each round
  (``sources.catalog.stage``) keeps the executed work linear in R.

Scale: each round = one explode over vocab symbols (bounded by word
length), one (s1, s2) hash aggregate with map-side partial sums, one
1-row broadcast join. R rounds = R such waves; vocabulary rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.sources.catalog import stage

US = "\x1f"  # symbol start frame
RS = "\x1e"  # symbol end frame

BPE_ROUNDS = 4


def word_vocab(docs: DataFrame) -> DataFrame:
    """``(w, cnt, enc)``: word-type frequencies with every word encoded
    as framed single-character symbols."""
    enc = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.concat(
                F.lit(US), F.col("w").substr(i, F.lit(1)), F.lit(RS)
            ),
        ),
        "",
    )
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select("w", "cnt", enc.alias("enc"))
    )


def _symbols(enc_col):
    """Framed encoding back to array<string> of current symbols."""
    inner = F.substring(enc_col, 2, F.length(enc_col) - 2)
    return F.split(inner, RS + US)


def best_pair(vocab: DataFrame) -> DataFrame:
    """One row ``(s1, s2, pair_count)``: the most frequent adjacent
    symbol pair, ties to the lexicographically smallest pair."""
    s = _symbols(F.col("enc"))
    ex = vocab.select("cnt", s.alias("s")).select(
        "cnt",
        "s",
        F.explode(
            F.when(
                F.size("s") >= 2, F.sequence(F.lit(1), F.size("s") - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    pc = (
        ex.select(
            "cnt",
            F.element_at("s", F.col("i")).alias("s1"),
            F.element_at("s", F.col("i") + 1).alias("s2"),
        )
        .groupBy("s1", "s2")
        .agg(F.sum("cnt").alias("c"))
    )
    cmax = pc.groupBy().agg(F.max("c").alias("c_max"))
    return (
        pc.join(F.broadcast(cmax), F.col("c") == F.col("c_max"))
        .groupBy()
        .agg(
            F.min(F.struct("s1", "s2")).alias("p"),
            F.max("c").alias("pair_count"),
        )
        .select(
            F.col("p.s1").alias("s1"),
            F.col("p.s2").alias("s2"),
            "pair_count",
        )
    )


def apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Greedy left-to-right merge of (s1, s2) in every word: one
    codegen replace under a 1-row broadcast."""
    pat = F.concat(
        F.lit(US), F.col("s1"), F.lit(RS), F.lit(US), F.col("s2"), F.lit(RS)
    )
    rep = F.concat(F.lit(US), F.col("s1"), F.col("s2"), F.lit(RS))
    return vocab.crossJoin(F.broadcast(best)).select(
        "w", "cnt", F.replace(F.col("enc"), pat, rep).alias("enc")
    )


def learn_bpe_merges(docs: DataFrame, rounds: int = BPE_ROUNDS):
    """Run ``rounds`` BPE iterations; returns (merges DataFrame with
    (merge_rank, sym1, sym2, pair_count), final vocab DataFrame)."""
    vocab = word_vocab(docs)
    merges = None
    for r in range(1, rounds + 1):
        vocab = stage(vocab)
        best = best_pair(vocab)
        row = best.select(
            F.lit(r).cast("int").alias("merge_rank"),
            F.col("s1").alias("sym1"),
            F.col("s2").alias("sym2"),
            "pair_count",
        )
        merges = row if merges is None else merges.unionByName(row)
        vocab = apply_merge(vocab, best)
    return merges, vocab


def segmentations(vocab: DataFrame) -> DataFrame:
    """``(w, cnt, seg)``: the current segmentation of each word as a
    '|'-joined symbol string (driver-comparable scalar)."""
    return vocab.select(
        "w", "cnt", F.array_join(_symbols(F.col("enc")), "|").alias("seg")
    )
