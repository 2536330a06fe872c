"""Byte-pair-encoding tokenizer: corpus training + distributed apply.

A real trained BPE (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units" — public algorithm), upgrading the
regex token counting in queries/text.py to an actual subword
tokenizer:

- **Train**: iteratively merge the most frequent adjacent symbol pair
  over a (word, count) vocabulary. The vocabulary is the ONLY thing
  training touches, and it is capped (top-V words by count) before the
  driver sees it — exactly how production tokenizers are trained (a
  bounded vocab/sample, never the raw corpus), so the collect is
  provably bounded at any corpus scale.
- **Apply**: map-side, embarrassingly parallel — the learned merge
  ranks broadcast to executors, applied per word with an LRU cache
  inside an Arrow-batched pandas UDF. No shuffle.

Word model: symbols = characters + a terminal '</w>' marker, so
word-final subwords are distinct from word-internal ones ('low' vs
'lowest' share 'low' only word-internally). Determinism: pair ties in
training break by lexicographic pair order; apply merges the
lowest-rank pair present, all occurrences left-to-right, which for
ranks produced by consistent training is order-equivalent to a single
pass over the merge list (a pair involving a merged symbol always
ranks after the merge that created the symbol).

tests/_bpe_reference.py holds an INDEPENDENTLY-written trainer/apply
(single-pass-in-rank-order, different mechanics) that the unit tests
and the r08 fixture oracle are pinned against — the multimodal
independent-encoder discipline, applied to tokenization.
"""

from __future__ import annotations

import functools
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

END = "</w>"

# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END,)


def train_bpe(
    word_counts: dict[str, int], num_merges: int
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` merges from a (word -> count) vocab.

    Deterministic: the best pair is max by (count, then LEXICOGRAPHICALLY
    SMALLEST pair on ties). Stops early when no pair occurs twice.
    """
    vocab: dict[tuple[str, ...], int] = {
        word_symbols(w): c for w, c in word_counts.items() if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def corpus_word_counts(docs: DataFrame, text_col: str = "text", max_vocab: int = 50000) -> DataFrame:
    """(word, cnt) vocabulary of the corpus, capped to the top
    ``max_vocab`` words by (count desc, word asc) — the training input.
    One shuffle (word agg) + a TakeOrdered cut: orderBy+limit plans as
    TakeOrderedAndProject — each partition keeps its own top-V and
    only V-sized heads merge — so no single-partition sort ever sees
    the uncapped distinct-word set (10⁸+ at web scale). The cap is
    what makes the downstream driver collect bounded by construction."""
    words = docs.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(max_vocab)


def train_bpe_on_corpus(
    docs: DataFrame, num_merges: int = 200, max_vocab: int = 50000
) -> list[tuple[str, str]]:
    vocab_df = corpus_word_counts(docs, max_vocab=max_vocab)
    # bounded-collect: vocabulary capped at max_vocab rows above
    word_counts = {r["word"]: r["cnt"] for r in vocab_df.collect()}
    return train_bpe(word_counts, num_merges)


# ---------------------------------------------------------------------------
# apply
# ---------------------------------------------------------------------------


def merge_ranks(merges: Sequence[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {tuple(p): i for i, p in enumerate(merges)}


def bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Merge the lowest-rank pair present (all occurrences, left to
    right), repeat until no learnable pair remains."""
    syms = list(word_symbols(word))
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        merged = best_pair[0] + best_pair[1]
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == best_pair[0] and syms[i + 1] == best_pair[1]:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def tokenize_text(text: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    toks: list[str] = []
    for word in text.split():
        toks.extend(bpe_word(word, ranks))
    return toks


def make_tokenize_udf(merges: Sequence[tuple[str, str]]):
    """Arrow-batched pandas UDF text -> array<string> of BPE tokens.

    The merge table rides the closure (broadcast by Spark's task
    serialization — tokenizer files are KBs); per-word results are
    LRU-cached per executor, the big win on natural-language corpora
    where word frequency is Zipfian."""
    ranks = merge_ranks(merges)

    @F.pandas_udf(ArrayType(StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        @functools.lru_cache(maxsize=65536)
        def word_tokens(w: str) -> tuple[str, ...]:
            return tuple(bpe_word(w, ranks))

        def one(t):
            if t is None:
                return []
            out: list[str] = []
            for w in t.split():
                out.extend(word_tokens(w))
            return out

        return texts.map(one)

    return _tok


# ---------------------------------------------------------------------------
# merge-table (de)serialization — the committed tokenizer artifact
# ---------------------------------------------------------------------------


def dump_merges(merges: Iterable[tuple[str, str]]) -> str:
    return "\n".join(f"{a}\t{b}" for a, b in merges) + "\n"


def load_merges(path: str) -> list[tuple[str, str]]:
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            a, b = line.split("\t")
            merges.append((a, b))
    return merges
