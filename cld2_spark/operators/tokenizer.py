"""Distributed BPE tokenizer: train merges from a corpus, encode with them.

The one training-pipeline stage the engine was missing: real byte-pair
encoding (Sennrich et al. 2016, the HF-tokenizers / SentencePiece-BPE
training recipe), expressed in the shape that scales to a 100 TB corpus:

  1. TRAIN — the only corpus-sized work is ONE word-frequency aggregation
     (`explode(split(text))` -> `groupBy(word).count()`), which is
     map-side combinable: partial counts collapse per partition before
     the single shuffle, so the shuffled volume is the DISTINCT-word
     histogram, not the corpus. The histogram is then pruned
     (`min_count`, deterministic top-`max_words` by (count desc, word))
     and merge learning runs on that bounded table — merge learning cost
     is a function of VOCABULARY size, not corpus size (this is exactly
     how production BPE trainers work: count words once, learn merges on
     the histogram). At 100 TB the histogram under Zipf is a few million
     rows; `max_words` makes the driver-side step explicitly bounded and
     the cap is a documented knob, not a silent truncation.

  2. ENCODE — merge ranks broadcast to executors as a plain dict inside
     one Arrow-batched pandas UDF: a single ArrowEvalPython stage, zero
     exchanges, rows scale across executors. Per-batch distinct-word
     memoization makes the amortized cost per word O(pieces) after the
     first occurrence (Zipf again: a 10K-row batch has few distinct
     words relative to tokens).

Merge semantics (the canonical spec, shared by trainer, encoder and the
independent single-node oracle in tools/freeze_expected.py):

  * a word is the list of its Unicode characters (no end-of-word marker;
    merges never cross word boundaries);
  * one merge step replaces ALL non-overlapping occurrences of the
    chosen pair LEFT-TO-RIGHT within each word;
  * training picks the pair with the highest total count, ties broken by
    lexicographically smallest (a, b) — fully deterministic;
  * encoding applies learned merges in rank order: repeatedly merge the
    LOWEST-rank pair present in the word until none applies.

Words are split on WS_CLASS, the one whitespace class of every tokenizer
in the engine; `tokens_sql` renders the lowercase/collapse/trim/split
token array over it for Spark SQL and for the DuckDB oracles.

No analogue in the reference (CLD2 tokenizes for language scoring only);
cited absence: SURVEY.md SS2.13.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence, Tuple

import pandas as pd  # module-level: pandas_udf resolves string type hints
from pyspark.sql import DataFrame, SparkSession, functions as F

# The whitespace class of every tokenizer, in every engine: explicit ASCII,
# never `\s`. Java's `\s` also matches U+000B (vertical tab) while RE2's
# does not, so a `\s` tokenizer splits "a\x0bb" in Spark and not in the
# DuckDB oracles; Python's `\s` is Unicode-aware.
WS_CLASS = "[ \\t\\n\\r\\f]+"


def ws_class_sql(dialect: str) -> str:
    """WS_CLASS as a quoted SQL string literal for `dialect` ('spark' or
    'duckdb'). Spark SQL literals unescape backslashes (and turn `\\f`
    into a plain `f`), so the Spark spelling doubles them; DuckDB hands
    the literal to RE2 as written."""
    p = WS_CLASS.replace("\\", "\\\\") if dialect == "spark" else WS_CLASS
    return f"'{p}'"


def tokens_sql(col: str, dialect: str, drop_empty: bool) -> str:
    """SQL array of the lowercased whitespace tokens of `col`: runs of
    WS_CLASS collapse to one space, the ends are trimmed, the rest splits
    on ' '. Without `drop_empty` an empty or all-whitespace text yields
    one empty token (`['']`); with it, empty tokens are filtered out.
    The same rows give the same arrays in Spark SQL and DuckDB."""
    ws = ws_class_sql(dialect)
    if dialect == "spark":
        toks = f"split(trim(regexp_replace(lower({col}), {ws}, ' ')), ' ')"
        return f"filter({toks}, t -> t <> '')" if drop_empty else toks
    toks = (f"string_split(trim(regexp_replace(lower({col}), {ws}, ' ', "
            f"'g')), ' ')")
    return f"list_filter({toks}, t -> t <> '')" if drop_empty else toks


def merge_word(syms: List[str], a: str, b: str) -> List[str]:
    """Replace all non-overlapping (a, b) occurrences left-to-right."""
    out: List[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def learn_merges(word_counts: Sequence[Tuple[str, int]],
                 num_merges: int) -> List[Tuple[str, str]]:
    """Classic BPE merge learning over a (word, count) histogram.

    Cost is O(num_merges * sum(len(word))) over DISTINCT words only —
    corpus-size independent. Deterministic: max count, then smallest
    (a, b) lexicographically.
    """
    vocab: List[Tuple[List[str], int]] = [
        (list(w), c) for w, c in word_counts if w]
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict = {}
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = [(merge_word(syms, *best), c) if best[0] in syms else (syms, c)
                 for syms, c in vocab]
    return merges


def encode_word(word: str, ranks: dict) -> List[str]:
    """Apply learned merges in rank order until none applies."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = merge_word(syms, *best_pair)
    return syms


def word_histogram(df: DataFrame, text_col: str = "text",
                   min_count: int = 1, max_words: int = 200_000) -> DataFrame:
    """The corpus-sized step: one map-side-combinable word count.

    Returns the deterministic top-`max_words` histogram ordered by
    (count desc, word asc). The orderBy+limit compiles to a distributed
    TakeOrdered — no global sort materialization.
    """
    words = (df
             .select(F.explode(F.split(F.col(text_col), WS_CLASS))
                     .alias("word"))
             .where(F.col("word") != ""))
    return (words.groupBy("word").agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= min_count)
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(max_words))


def train_bpe(df: DataFrame, num_merges: int, text_col: str = "text",
              min_count: int = 1, max_words: int = 200_000,
              ) -> List[Tuple[str, str]]:
    """Distributed BPE training: Spark word histogram + local merge loop.

    The collect is the pruned histogram (<= max_words rows), not corpus
    data — the documented driver-side bound.
    """
    hist = word_histogram(df, text_col, min_count, max_words).collect()
    return learn_merges([(r["word"], r["cnt"]) for r in hist], num_merges)


def merges_df(spark: SparkSession, merges: Sequence[Tuple[str, str]],
              ) -> DataFrame:
    """Learned merge table as a DataFrame (rank, left, right, merged)."""
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank INT, left STRING, right STRING, merged STRING")


def _encode_stats_df(df: DataFrame, word_to_pieces, id_col: str,
                     text_col: str) -> DataFrame:
    """Shared encode stage for both tokenizer families: one Arrow-batched
    pandas UDF, zero exchanges, the model inside `word_to_pieces`'s
    closure. The distinct-word memo lives for the PARTITION (the UDF
    iterator spans all of a partition's Arrow batches), so amortized
    cost per word is O(pieces) after its first occurrence anywhere in
    the partition — Zipf makes the memo vocabulary-sized. Emits
    integer-exact per-doc stats plus an md5 over the piece stream so
    the whole tokenization is hash-checkable."""

    @F.pandas_udf(
        "n_tokens BIGINT, n_pieces_per_100_words BIGINT, tok_hash STRING")
    def enc(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import hashlib
        import re
        ws = re.compile(WS_CLASS)
        memo: dict = {}
        for s in texts:
            n_tok, ppw, th = [], [], []
            for t in s:
                words = [w for w in ws.split(t or "") if w]
                pieces: List[str] = []
                for w in words:
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = word_to_pieces(w)
                    pieces.extend(got)
                n_tok.append(len(pieces))
                ppw.append(len(pieces) * 100 // len(words) if words else 0)
                th.append(hashlib.md5(
                    " ".join(pieces).encode("utf-8")).hexdigest())
            yield pd.DataFrame({"n_tokens": n_tok,
                                "n_pieces_per_100_words": ppw,
                                "tok_hash": th})

    out = df.select(F.col(id_col), enc(F.col(text_col)).alias("e"))
    return out.select(id_col, "e.n_tokens", "e.n_pieces_per_100_words",
                      "e.tok_hash")


def encode_corpus(df: DataFrame, merges: Sequence[Tuple[str, str]],
                  id_col: str = "doc_id", text_col: str = "text",
                  ) -> DataFrame:
    """Encode every document with the learned BPE merges (ranks travel
    in the UDF closure; see _encode_stats_df for the stage shape)."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    return _encode_stats_df(df, lambda w: encode_word(w, ranks),
                            id_col, text_col)


# ---------------------------------------------------------------------------
# Unigram LM tokenizer (SentencePiece-style), hard-EM / Viterbi variant
# ---------------------------------------------------------------------------
# The OTHER production tokenizer family. Training is the same distributed
# shape as BPE: the corpus-sized work is the ONE word-histogram shuffle;
# seeding, hard-EM iterations and pruning run on the bounded histogram
# (vocabulary-sized driver step). All scoring is EXACT: a segmentation's
# likelihood prod(c_i) / T^k is compared by big-int cross multiplication
# (prod_a * T^k_b vs prod_b * T^k_a) — no floats anywhere, so an
# independent single-node implementation of this spec reproduces the
# vocab and every segmentation bit-for-bit (the frozen-oracle contract).
#
# Canonical spec (shared by trainer, encoder and the independent oracle
# in tools/freeze_expected.py):
#   * seed vocab: every substring of every histogram word with length <=
#     max_piece_len; count = sum of word freq over occurrence positions;
#     keep counts >= seed_min plus ALL single characters (floor count 1);
#     prune to the top 4*vocab_size by (count desc, piece asc);
#   * hard-EM iteration: Viterbi-segment each histogram word under the
#     current counts (T = sum of counts); new count(piece) = sum of word
#     freq over pieces in the winning segmentations; prune to the top
#     vocab_size by (count desc, piece asc), single chars re-floored;
#   * Viterbi tie-break: higher exact score, then FEWER pieces, then
#     lexicographically smaller piece tuple — fully deterministic.
# Variant note: pruning ranks by raw count (the hard-EM variant), not by
# SentencePiece's likelihood-loss — the loss ranking needs float logs,
# which would break the exact cross-engine contract. At vocab sizes
# below the distinct-word count the count ranking can oscillate between
# char- and word-heavy vocabularies (classic hard-EM instability); size
# the vocab above the frequent-word count, as production setups do.

UNI_MAX_PIECE_LEN = 5


def _seg_better(a, b, total: int) -> bool:
    """Exact comparison of (prod, k, pieces) segmentation scores:
    prod_a/T^k_a > prod_b/T^k_b via big-int cross multiplication."""
    left = a[0] * total ** b[1]
    right = b[0] * total ** a[1]
    if left != right:
        return left > right
    if a[1] != b[1]:
        return a[1] < b[1]
    return a[2] < b[2]


def viterbi_segment(word: str, counts: dict, total: int,
                    max_piece_len: int = UNI_MAX_PIECE_LEN) -> tuple:
    """Best segmentation of `word` under the unigram model — exact."""
    n = len(word)
    dp: list = [None] * (n + 1)
    dp[0] = (1, 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            c = counts.get(piece)
            if not c:
                continue
            cand = (dp[j][0] * c, dp[j][1] + 1, dp[j][2] + (piece,))
            if best is None or _seg_better(cand, best, total):
                best = cand
        dp[i] = best
    return dp[n][2] if dp[n] is not None else tuple(word)


def learn_unigram(word_counts: Sequence[Tuple[str, int]],
                  vocab_size: int = 120, n_iters: int = 2,
                  max_piece_len: int = UNI_MAX_PIECE_LEN,
                  seed_min: int = 2) -> dict:
    """Hard-EM unigram training over a (word, freq) histogram — cost is
    a function of VOCABULARY size, not corpus size."""
    chars = {w[i] for w, _ in word_counts for i in range(len(w))}
    counts: dict = {}
    for w, c in word_counts:
        for i in range(len(w)):
            for ln in range(1, min(max_piece_len, len(w) - i) + 1):
                p = w[i:i + ln]
                counts[p] = counts.get(p, 0) + c
    counts = {p: c for p, c in counts.items()
              if c >= seed_min or len(p) == 1}
    keep = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    counts = dict(keep[:4 * vocab_size])
    for ch in chars:
        counts.setdefault(ch, 1)
    for _ in range(n_iters):
        total = sum(counts.values())
        new: dict = {}
        for w, c in word_counts:
            for p in viterbi_segment(w, counts, total, max_piece_len):
                new[p] = new.get(p, 0) + c
        keep = sorted(new.items(), key=lambda kv: (-kv[1], kv[0]))
        counts = dict(keep[:vocab_size])
        for ch in chars:
            counts.setdefault(ch, 1)
    return counts


def train_unigram(df: DataFrame, vocab_size: int = 120,
                  n_iters: int = 2, text_col: str = "text",
                  min_count: int = 1, max_words: int = 200_000) -> dict:
    """Distributed unigram training: ONE map-side-combinable word-count
    shuffle, then vocabulary-sized hard-EM on the driver."""
    hist = word_histogram(df, text_col, min_count, max_words).collect()
    return learn_unigram([(r["word"], r["cnt"]) for r in hist],
                         vocab_size, n_iters)


def unigram_vocab_df(spark: SparkSession, counts: dict) -> DataFrame:
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return spark.createDataFrame(
        [(p, int(c)) for p, c in rows], "piece STRING, cnt BIGINT")


def encode_corpus_unigram(df: DataFrame, counts: dict,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Viterbi-encode every document with the trained unigram vocab
    (vocab + total in the UDF closure; see _encode_stats_df for the
    stage shape)."""
    total = sum(counts.values())
    return _encode_stats_df(
        df, lambda w: viterbi_segment(w, counts, total), id_col, text_col)


# ---------------------------------------------------------------------------
# WordPiece tokenizer (BERT-style), likelihood-ratio greedy variant
# ---------------------------------------------------------------------------
# The THIRD production tokenizer family (after BPE and unigram-LM above).
# Training is the same distributed shape: the corpus-sized work is the ONE
# word-histogram shuffle; the merge loop runs on the bounded histogram
# (vocabulary-sized driver step). The WordPiece merge criterion prefers
# the pair maximizing count(ab) / (count(a) * count(b)) — a likelihood
# ratio — which is compared EXACTLY by integer cross multiplication
# (pc1 * ca2 * cb2 vs pc2 * ca1 * cb1), no floats, so an independent
# single-node implementation of this spec reproduces the vocab and every
# segmentation bit-for-bit (the frozen-oracle contract, mirroring BPE).
#
# Canonical spec (shared by trainer, encoder, and the independent oracle
# in tools/freeze_expected.py):
#   * a word is seeded as [w[0], '##'+w[1], ..., '##'+w[-1]] — the BERT
#     continuation convention; every non-initial symbol carries '##';
#   * merge round: c(sym) = sum of word freq over symbol occurrences,
#     pc(a,b) = sum of word freq over adjacent pairs; best pair = max
#     pc/(c(a)*c(b)) by cross multiplication, ties -> smaller (a, b);
#     merged symbol = a + b[2:] (b is always a continuation);
#   * final vocab = all symbols in the final segmentations UNION the
#     initial single-character alphabet (so greedy encode always has a
#     fallback for seen characters);
#   * encode: greedy longest-match-first (the BERT WordPiece algorithm):
#     at word start match the longest plain-form vocab prefix, after it
#     the longest '##'-form piece; any position with no match makes the
#     WHOLE word '[UNK]'. Fully deterministic.

WP_UNK = "[UNK]"


def _wp_syms(word: str) -> List[str]:
    return [word[0]] + ["##" + ch for ch in word[1:]]


def learn_wordpiece(word_counts: Sequence[Tuple[str, int]],
                    num_merges: int) -> tuple[List[str], set]:
    """WordPiece merge learning over a (word, count) histogram.

    Returns (merged_tokens_in_rank_order, final_vocab). Cost is
    O(num_merges * sum(len(word))) over DISTINCT words only —
    corpus-size independent, the same bound as learn_merges."""
    vocab: List[Tuple[List[str], int]] = [
        (_wp_syms(w), c) for w, c in word_counts if w]
    alphabet: set = set()
    for syms, _ in vocab:
        alphabet.update(syms)
    merged_tokens: List[str] = []
    for _ in range(num_merges):
        sym_c: dict = {}
        pair_c: dict = {}
        for syms, c in vocab:
            for s in syms:
                sym_c[s] = sym_c.get(s, 0) + c
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_c[p] = pair_c.get(p, 0) + c
        if not pair_c:
            break
        # argmax pc/(ca*cb) by exact cross multiplication; ties -> the
        # lexicographically smaller pair
        best, bp, bd = None, 0, 1
        for (a, b), pc in pair_c.items():
            d = sym_c[a] * sym_c[b]
            if best is None or pc * bd > bp * d or (
                    pc * bd == bp * d and (a, b) < best):
                best, bp, bd = (a, b), pc, d
        a, b = best
        merged = a + b[2:]
        merged_tokens.append(merged)

        def mrg(syms: List[str]) -> List[str]:
            out: List[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        vocab = [(mrg(s), c) if a in s else (s, c) for s, c in vocab]
    final_vocab: set = set(alphabet)
    for syms, _ in vocab:
        final_vocab.update(syms)
    return merged_tokens, final_vocab


def encode_word_wordpiece(word: str, vocab: set,
                          max_piece: int | None = None) -> List[str]:
    """Greedy longest-match-first WordPiece encode (BERT rule)."""
    if max_piece is None:
        max_piece = max((len(p) for p in vocab), default=1)
    pieces: List[str] = []
    i, n = 0, len(word)
    while i < n:
        j = min(n, i + max_piece)
        while j > i:
            cand = word[i:j] if i == 0 else "##" + word[i:j]
            if cand in vocab:
                pieces.append(cand)
                break
            j -= 1
        else:
            return [WP_UNK]
        i = j
    return pieces


def train_wordpiece(df: DataFrame, num_merges: int, text_col: str = "text",
                    min_count: int = 1, max_words: int = 200_000,
                    ) -> tuple[List[str], set]:
    """Distributed WordPiece training: Spark word histogram + local merge
    loop. The collect is the pruned histogram (<= max_words rows), not
    corpus data — the same documented driver-side bound as train_bpe."""
    hist = word_histogram(df, text_col, min_count, max_words).collect()
    return learn_wordpiece([(r["word"], r["cnt"]) for r in hist], num_merges)


def wordpiece_vocab_df(spark: SparkSession, merged_tokens: Sequence[str],
                       ) -> DataFrame:
    """Learned merge products in rank order as a DataFrame."""
    rows = [(i, t) for i, t in enumerate(merged_tokens)]
    return spark.createDataFrame(rows, "rank INT, token STRING")


def encode_corpus_wordpiece(df: DataFrame, vocab: set,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Encode every document with the learned WordPiece vocab (the vocab
    set travels in the UDF closure; see _encode_stats_df for the
    single-Arrow-stage shape shared by all three tokenizer families)."""
    mp = max((len(p) for p in vocab), default=1)
    return _encode_stats_df(
        df, lambda w: encode_word_wordpiece(w, vocab, mp), id_col, text_col)
