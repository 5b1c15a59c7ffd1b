"""Training-data curation operators: stratified sampling, benchmark
decontamination, and Gopher-style repetition quality stats.

All three are the standard large-corpus curation steps that sit between
dedup and training-set assembly; each is expressed Spark-first:

- `stratified_sample`: deterministic salted-hash sampling per stratum —
  a pure codegen projection + filter (NO shuffle, no sampling state, no
  RNG), so a document's membership is a stable function of (salt, id,
  rate) exactly like `textstats.with_split`: re-runs, repartitions and
  corpus growth never flip a kept row, which is what makes incremental
  re-curation of a 100 TB corpus reproducible.

- `contaminated_ids`: exact word-n-gram overlap against a benchmark
  table (the industry decontamination rule: a training doc sharing any
  length-n token window with an eval benchmark is flagged). Shape: both
  sides explode to DISTINCT n-gram hashes (ids-only rows), the join key
  is the 60-bit hash, and the benchmark side is tiny by construction —
  Spark broadcasts it, so the corpus side never shuffles; output is a
  per-doc match count (drop = semi-join, keep = anti-join downstream).

- `repetition_stats`: per-document repeated-content ratios from the
  Gopher quality rules (Rae et al. 2021, table A1): duplicate-line
  fraction (by line count and by character mass) and the character
  fraction covered by the single most frequent word 2-gram. Pure
  explode + two-level aggregate, map-side combinable, one shuffle keyed
  by doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cld2_spark.operators.tokenizer import tokens_sql


def sample_hash(id_col: str, salt: str, dialect: str = "spark") -> str:
    """Uniform-in-[0,1M) deterministic hash of (salt, id) — the sampling
    coin. Same value in Spark and DuckDB so oracles can replay it."""
    if dialect == "spark":
        return (f"conv(substring(md5(concat('{salt}', "
                f"CAST({id_col} AS STRING))), 1, 8), 16, 10) % 1000000")
    return (f"('0x' || substr(md5('{salt}' || "
            f"CAST({id_col} AS VARCHAR)), 1, 8))::BIGINT % 1000000")


def stratified_sample(df: DataFrame, stratum_col: str, rates: dict[str, float],
                      id_col: str = "doc_id",
                      salt: str = "cld2s-sample",
                      default_rate: float = 0.0) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically:
    row kept iff hash(salt, id) < rate * 1e6. Rows in strata not listed
    in `rates` use default_rate. Zero shuffle; the whole operator is a
    codegen filter."""
    coin = F.expr(sample_hash(id_col, salt)).cast("bigint")
    thr: Column = F.lit(int(default_rate * 1_000_000))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum,
                     F.lit(int(rate * 1_000_000))).otherwise(thr)
    return df.where(coin < thr)


def _gram_hashes(df: DataFrame, text_col: str, id_col: str,
                 n: int) -> DataFrame:
    """(id, gram_hash) pairs — DISTINCT word n-gram hashes per doc;
    ids-only rows so the downstream join never carries text. The key is
    the FULL 128-bit md5 (hex string): at 100 TB (>>2^30 distinct grams)
    a truncated hash would birthday-collide and silently flag clean docs;
    md5 keeps the oracle portable, and production can swap in
    xxhash64(gram) pairs if the 32-byte shuffle key matters."""
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    grams = (f"transform(sequence(1, size({tk}) - {n - 1}), "
             f"i -> concat_ws(' ', slice({tk}, i, {n})))")
    return (df.where(F.expr(f"size({tk}) >= {n}"))
            .select(F.col(id_col),
                    F.explode(F.expr(f"array_distinct({grams})")).alias("g"))
            .select(id_col, F.md5(F.col("g")).alias("gh")))


def contaminated_ids(corpus: DataFrame, bench: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     n: int = 8) -> DataFrame:
    """(id, n_hits) for every corpus doc sharing >=1 word n-gram with the
    benchmark table. The benchmark's distinct gram-hash set is small
    (eval sets are KB-MB scale) -> broadcast, so the 100 TB side is a
    single scan + explode with NO corpus shuffle before the final
    per-doc count."""
    bg = (_gram_hashes(bench, text_col, id_col, n)
          .select("gh").distinct())
    cg = _gram_hashes(corpus, text_col, id_col, n)
    return (cg.join(F.broadcast(bg), on="gh", how="inner")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")))


def decontaminate(corpus: DataFrame, bench: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """corpus minus contaminated docs (left_anti on the flagged ids)."""
    bad = contaminated_ids(corpus, bench, text_col, id_col, n)
    return corpus.join(bad.select(id_col), on=id_col, how="left_anti")


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     line_sep: str = "\\\\.",
                     joiner: str = ". ") -> DataFrame:
    """Corpus-wide paragraph/line dedup with document reassembly (the
    RefinedWeb / CCNet line-dedup rule): every distinct trimmed line is
    kept ONLY at its first occurrence — first = smallest (doc_id, pos) —
    and each document is rebuilt from its surviving lines in original
    order. Documents whose every line loses are dropped.

    Shape at 100 TB: explode to (line_hash, doc_id, pos) id-rows (the
    line TEXT travels only on the exploded side, once), one map-side-
    combinable shuffle on line_hash picks the winner via min(struct),
    the winner join reuses that same hash partitioning, and reassembly
    is one shuffle on doc_id with sort_array over (pos, line) structs —
    no window over the whole corpus, no driver state.
    """
    lines = (f"filter(transform(split({text_col}, '{line_sep}'), "
             f"x -> trim(x)), x -> length(x) > 0)")
    ex = (df.select(id_col, F.posexplode(F.expr(lines))
                    .alias("pos", "line"))
          # full 128-bit md5 as the line key: a truncated prefix would
          # birthday-collide past ~2^30 distinct lines and silently drop
          # non-duplicate lines from rebuilt documents at corpus scale
          .select(id_col, "pos", "line", F.md5(F.col("line")).alias("lh")))
    winners = (ex.groupBy("lh")
               .agg(F.min(F.struct(F.col(id_col).alias("d"),
                                   F.col("pos").alias("p"))).alias("w")))
    kept = (ex.join(winners, on="lh", how="inner")
            .where((F.col(id_col) == F.col("w.d"))
                   & (F.col("pos") == F.col("w.p"))))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                    F.expr("transform(array_sort(collect_list("
                           "struct(pos, line))), s -> s.line)"),
                    joiner).alias("text_dedup"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lines_kept")))


def pack_sequences(df: DataFrame, budget: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   n_blocks: int = 64) -> DataFrame:
    """Training-sequence packing: assign documents to fixed token-budget
    sequences (greedy first-fit in id order), the step that turns a
    curated corpus into context-length-sized training rows.

    Documents are hashed into `n_blocks` independent packing blocks
    (block = doc_id % n_blocks) and packed greedily WITHIN a block in
    doc_id order: a sequence closes when the next doc would overflow
    `budget`; a single doc larger than the budget gets its own
    (oversized) sequence. Blocks are the parallelism unit — packing is
    inherently sequential per block, so at 100 TB you size n_blocks to
    ~10x your core count and every block packs independently with NO
    global coordination; determinism is per-block, so re-runs reproduce
    byte-identical sequences regardless of partitioning.

    The greedy scan is vectorized per BIN, not per doc: from each
    sequence start the close position is found with one searchsorted on
    the block's token cumsum, so Python iterations = number of output
    sequences, not number of documents.

    Returns (id, block, seq, tok_offset, n_tok): the sequence index
    within the block and the doc's token offset inside its sequence.
    """
    import numpy as np
    import pandas as pd

    tk = tokens_sql(text_col, "spark", drop_empty=False)
    base = df.select(
        F.col(id_col),
        (F.col(id_col) % n_blocks).cast("int").alias("block"),
        F.expr(f"size({tk})").cast("bigint").alias("n_tok"))

    out_schema = (f"{id_col} bigint, block int, seq bigint, "
                  f"tok_offset bigint, n_tok bigint")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        n_tok = pdf["n_tok"].to_numpy(np.int64)
        csum = np.cumsum(n_tok)
        n = len(n_tok)
        seq = np.empty(n, np.int64)
        off = np.empty(n, np.int64)
        i = s = 0
        while i < n:
            prev = csum[i - 1] if i else 0
            # last j with csum[j] - prev <= budget; always >= i itself
            j = int(np.searchsorted(csum, prev + budget, side="right"))
            j = max(j, i + 1)
            seq[i:j] = s
            off[i:j] = csum[i:j] - n_tok[i:j] - prev
            s += 1
            i = j
        return pd.DataFrame({id_col: pdf[id_col], "block": pdf["block"],
                             "seq": seq, "tok_offset": off,
                             "n_tok": n_tok})

    return base.groupBy("block").applyInPandas(pack, out_schema)


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     line_sep: str = "\\\\.") -> DataFrame:
    """Gopher-style per-doc repetition ratios:
      dup_line_frac      — fraction of lines that are duplicates of an
                           earlier identical line (count basis)
      dup_line_char_frac — character mass of those duplicate lines
      top_2gram_char_frac— chars covered by the most frequent word
                           2-gram / total chars
    `line_sep` is a regex AS EMBEDDED in the SQL string literal (one
    backslash level is consumed by the SQL parser):
    the default splits sentence-ish on '.'; pass '\\\\n' for
    newline-delimited corpora."""
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    lines = (f"filter(transform(split({text_col}, '{line_sep}'), "
             f"x -> trim(x)), x -> length(x) > 0)")
    ln = (df.select(id_col, F.explode(F.expr(lines)).alias("line"))
          .groupBy(id_col, "line")
          .agg(F.count(F.lit(1)).alias("c"),
               F.length("line").alias("len"))
          .groupBy(id_col)
          .agg((F.sum(F.col("c") - 1) / F.sum("c")).alias("dup_line_frac"),
               (F.sum((F.col("c") - 1) * F.col("len"))
                / F.sum(F.col("c") * F.col("len")))
               .alias("dup_line_char_frac")))
    grams = (f"transform(sequence(1, size({tk}) - 1), "
             f"i -> concat_ws(' ', slice({tk}, i, 2)))")
    g2 = (df.where(F.expr(f"size({tk}) >= 2"))
          .select(id_col, F.length(text_col).alias("n_chars"),
                  F.explode(F.expr(grams)).alias("g"))
          .groupBy(id_col, "n_chars", "g")
          .agg(F.count(F.lit(1)).alias("c"))
          .groupBy(id_col, "n_chars")
          .agg(F.max(F.struct(F.col("c"), F.length("g").alias("gl"),
                              F.col("g"))).alias("top"))
          .select(id_col,
                  (F.col("top.c") * F.col("top.gl")
                   / F.col("n_chars")).alias("top_2gram_char_frac")))
    return ln.join(g2, on=id_col, how="left")


def mixture_sample(df: DataFrame, weights: dict[str, float],
                   token_budget: int,
                   source_col: str = "source", text_col: str = "text",
                   id_col: str = "doc_id",
                   salt: str = "cld2s-mix") -> DataFrame:
    """Data-mixture assembly: sample each source down so the surviving
    corpus approximates `token_budget` tokens split across sources by
    `weights` (each weight = that source's target fraction of the
    budget; sources not listed are dropped). Per-source keep rate =
    min(1, weight * budget / source_tokens) — an undersupplied source
    is capped at 1.0 (its shortfall is NOT redistributed; that keeps
    the rule a pure per-source function, so membership is stable under
    corpus growth exactly like stratified_sample).

    Shape at 100 TB: one map-side-combinable agg produces a k-row rates
    table (k = #sources), broadcast back onto the corpus; the keep
    decision is the same deterministic salted-hash coin as
    stratified_sample — the corpus side never shuffles.
    """
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    toks = df.select(F.col(source_col),
                     F.expr(f"size({tk})").cast("bigint").alias("n_tok"),
                     F.col(id_col), F.col(text_col))
    totals = toks.groupBy(source_col).agg(F.sum("n_tok").alias("src_tok"))
    w: Column = F.lit(0.0)
    for src, wt in sorted(weights.items()):
        w = F.when(F.col(source_col) == src, F.lit(float(wt))).otherwise(w)
    rates = totals.select(
        source_col,
        F.least(F.lit(1.0),
                w * F.lit(float(token_budget)) / F.col("src_tok"))
        .alias("keep_rate"))
    coin = F.expr(sample_hash(id_col, salt)).cast("bigint")
    return (toks.join(F.broadcast(rates), on=source_col, how="inner")
            .where(coin < (F.col("keep_rate") * 1_000_000)
                   .cast("bigint"))
            .select(id_col, source_col, "n_tok",
                    F.round("keep_rate", 6).alias("keep_rate")))


def tfidf_top_terms(df: DataFrame, k: int = 5,
                    group_col: str = "source", text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-analysis: the k most characteristic terms per group by
    tf-idf — tf = term occurrences within the group, idf = ln(N/df)
    over document frequency corpus-wide. Ranking is integer-exact
    (tf * 10^6 // df, then term) so it cannot flip on a last-ulp float
    disagreement between engines; the displayed score is the usual
    tf*ln(N/df), rounded.

    Shape: one explode -> two partial-agg shuffles (corpus df keyed by
    term, group tf keyed by (group, term)) -> broadcast of the tiny df
    side is NOT safe at 100 TB (term vocabulary is unbounded), so the
    tf/df join shuffles on term — both sides are already (term, counts)
    aggregates, orders of magnitude smaller than the corpus.
    """
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    tok = (df.select(id_col, group_col,
                     F.explode(F.expr(tk)).alias("term"))
           .where(F.length("term") >= 3))
    dfreq = (tok.groupBy("term")
             .agg(F.count_distinct(id_col).alias("df")))
    tf = (tok.groupBy(group_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    total = df.agg(F.count_distinct(id_col).alias("n_docs"))
    scored = (tf.join(dfreq, on="term", how="inner")
              .crossJoin(F.broadcast(total))
              .select(group_col, "term", "tf", "df",
                      # integer floor DIVISION (not double math): exact for
                      # any tf up to 2^63/1e6, cannot flip on float ulps
                      F.expr("(tf * 1000000L) DIV df").alias("rank_key"),
                      F.round(F.col("tf")
                              * F.log(F.col("n_docs") / F.col("df")), 4)
                      .alias("score")))
    from pyspark.sql import Window
    win = (Window.partitionBy(group_col)
           .orderBy(F.desc("rank_key"), F.asc("term")))
    return (scored.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") <= k)
            .select(group_col, "term", F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("df"),
                    "score", F.col("rk").cast("int").alias("rk")))


def _hex_byte_expr(key: str, dialect: str) -> str:
    """0..255 from the first two hex chars of `key`, expressible
    identically in Spark SQL and DuckDB (both have 1-based position())."""
    digits = "'0123456789abcdef'"
    c1 = f"substr({key}, 1, 1)"
    c2 = f"substr({key}, 2, 1)"
    if dialect == "spark":
        pos = "position({c} IN " + digits + ")"
    else:
        pos = "strpos(" + digits + ", {c})"
    return (f"(({pos.format(c=c1)}) - 1) * 16 + ({pos.format(c=c2)}) - 1")


def corpus_shuffle(df: DataFrame, id_col: str = "doc_id",
                   n_shards: int = 8, salt: str = "seed42") -> DataFrame:
    """Deterministic global shuffle + sharding for training-order
    assignment: every document gets a (shard, pos) such that reading the
    shards in pos order is a uniform random permutation of the corpus,
    reproducible from (salt, id) alone.

    The permutation key is md5(salt:id); the shard is a uniform bucket of
    the key's first byte, and pos is the rank of the key within its
    shard. Scale shape: this is exactly the terasort pattern -- one hash
    exchange on the shard id and one in-partition sort per shard; no
    global single-partition ordering anywhere, so 10^11 documents sort in
    parallel across the cluster. Re-running on a grown corpus preserves
    relative order of surviving documents within a shard (the key is a
    pure function of the id), which keeps resumable training-data
    snapshots diffable.
    """
    from pyspark.sql import Window

    key = f"md5(concat('{salt}:', CAST({id_col} AS STRING)))"
    shard = f"CAST(({_hex_byte_expr(key, 'spark')}) % {n_shards} AS INT)"
    w = Window.partitionBy("shard").orderBy("skey")
    return (df.select(id_col, F.expr(key).alias("skey"),
                      F.expr(shard).alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("bigint"))
            .select(id_col, "shard", "pos"))


def corpus_shuffle_duck_sql(table: str = "documents",
                            id_col: str = "doc_id", n_shards: int = 8,
                            salt: str = "seed42") -> str:
    """DuckDB replay of corpus_shuffle."""
    key = f"md5(concat('{salt}:', CAST({id_col} AS VARCHAR)))"
    shard = f"CAST(({_hex_byte_expr(key, 'duckdb')}) % {n_shards} AS INT)"
    return (
        f"WITH cs AS (SELECT {id_col}, {key} AS skey, {shard} AS shard "
        f"FROM {table}) "
        f"SELECT {id_col}, shard, CAST(ROW_NUMBER() OVER ("
        f"PARTITION BY shard ORDER BY skey) AS BIGINT) AS pos FROM cs")


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 5, max_words: int = 100_000,
                   min_mean_wlen: float = 2.0, max_mean_wlen: float = 12.0,
                   max_symbol_ratio: float = 0.1,
                   min_alpha_frac: float = 0.6,
                   min_stopwords: int = 1) -> DataFrame:
    """Composite Gopher-rule document filter (Rae et al. 2021 table A1,
    thresholds parameterized): word-count band, mean-word-length band,
    symbol ('#'/'...') -to-word ratio cap, alpha-word fraction floor and
    a minimal stop-word presence. Emits per-document integer-exact
    measures plus the keep verdict and the FIRST failed rule (audit
    trail) — all whole-stage-codegen SQL, zero shuffle, so it composes
    with any scan at 100 TB. The repetition rules live in
    repetition_stats (they need the line/2-gram aggregates); a full
    Gopher pass is this filter AND-ed with that one's thresholds.

    Mean word length is compared integer-exactly (sum_len vs bound *
    n_words) so the verdict cannot flip on a float division ulp."""
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    stop = "array('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')"
    base = df.select(
        F.col(id_col),
        F.expr(f"size({tk})").cast("bigint").alias("n_words"),
        F.expr(f"aggregate({tk}, 0L, (a, w) -> a + length(w))")
        .alias("sum_wlen"),
        (F.length(text_col) - F.length(F.regexp_replace(text_col, "#", "")))
        .cast("bigint").alias("n_hash"),
        (F.expr(f"size(split({text_col}, '\\\\.\\\\.\\\\.')) - 1"))
        .cast("bigint").alias("n_ellipsis"),
        F.expr(f"size(filter({tk}, w -> w rlike '[a-z]'))")
        .cast("bigint").alias("n_alpha_words"),
        F.expr(f"size(filter({tk}, w -> array_contains({stop}, w)))")
        .cast("bigint").alias("n_stopwords"))
    mw_lo = int(min_mean_wlen * 1000)
    mw_hi = int(max_mean_wlen * 1000)
    sym_cap = int(max_symbol_ratio * 1000)
    alpha_lo = int(min_alpha_frac * 1000)
    reason = (F.when(F.col("n_words") < min_words, "too_few_words")
              .when(F.col("n_words") > max_words, "too_many_words")
              .when(F.col("sum_wlen") * 1000 < mw_lo * F.col("n_words"),
                    "words_too_short")
              .when(F.col("sum_wlen") * 1000 > mw_hi * F.col("n_words"),
                    "words_too_long")
              .when((F.col("n_hash") + F.col("n_ellipsis")) * 1000
                    > sym_cap * F.col("n_words"), "symbol_heavy")
              .when(F.col("n_alpha_words") * 1000
                    < alpha_lo * F.col("n_words"), "non_alpha")
              .when(F.col("n_stopwords") < min_stopwords, "no_stopwords"))
    return base.select(
        id_col, "n_words", "sum_wlen", "n_hash", "n_ellipsis",
        "n_alpha_words", "n_stopwords",
        reason.isNull().alias("keep"),
        F.coalesce(reason, F.lit("")).alias("drop_reason"))


def gopher_quality_duck_sql(table: str = "documents",
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            min_words: int = 5, max_words: int = 100_000,
                            min_mean_wlen: float = 2.0,
                            max_mean_wlen: float = 12.0,
                            max_symbol_ratio: float = 0.1,
                            min_alpha_frac: float = 0.6,
                            min_stopwords: int = 1) -> str:
    """DuckDB replay of gopher_quality (identical integer comparisons)."""
    tk = (f"string_split(trim(regexp_replace(lower({text_col}), "
          f"'\\s+', ' ', 'g')), ' ')")
    stop = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"
    mw_lo, mw_hi = int(min_mean_wlen * 1000), int(max_mean_wlen * 1000)
    sym_cap, alpha_lo = int(max_symbol_ratio * 1000), int(min_alpha_frac * 1000)
    return (
        f"WITH gq AS (SELECT {id_col}, "
        f"CAST(len({tk}) AS BIGINT) AS n_words, "
        f"CAST(list_sum(list_transform({tk}, w -> length(w))) AS BIGINT)"
        f"  AS sum_wlen, "
        f"CAST(length({text_col}) - length(replace({text_col}, '#', ''))"
        f"  AS BIGINT) AS n_hash, "
        f"CAST(len(string_split({text_col}, '...')) - 1 AS BIGINT)"
        f"  AS n_ellipsis, "
        f"CAST(len(list_filter({tk}, w -> regexp_matches(w, '[a-z]')))"
        f"  AS BIGINT) AS n_alpha_words, "
        f"CAST(len(list_filter({tk}, w -> list_contains({stop}, w)))"
        f"  AS BIGINT) AS n_stopwords "
        f"FROM {table}), "
        f"gr AS (SELECT *, CASE "
        f"WHEN n_words < {min_words} THEN 'too_few_words' "
        f"WHEN n_words > {max_words} THEN 'too_many_words' "
        f"WHEN sum_wlen * 1000 < {mw_lo} * n_words THEN 'words_too_short' "
        f"WHEN sum_wlen * 1000 > {mw_hi} * n_words THEN 'words_too_long' "
        f"WHEN (n_hash + n_ellipsis) * 1000 > {sym_cap} * n_words "
        f"  THEN 'symbol_heavy' "
        f"WHEN n_alpha_words * 1000 < {alpha_lo} * n_words "
        f"  THEN 'non_alpha' "
        f"WHEN n_stopwords < {min_stopwords} THEN 'no_stopwords' "
        f"END AS r FROM gq) "
        f"SELECT {id_col}, n_words, sum_wlen, n_hash, n_ellipsis, "
        f"n_alpha_words, n_stopwords, r IS NULL AS keep, "
        f"COALESCE(r, '') AS drop_reason FROM gr")


def sample_exact_k(df: DataFrame, k: int, id_col: str = "doc_id",
                   salt: str = "cld2s-topk") -> DataFrame:
    """Exact-k uniform simple random sample (without replacement).

    `stratified_sample` flips a Bernoulli coin per row — output size is
    binomial, not fixed. This is the other sampling primitive a pipeline
    needs: EXACTLY k rows, uniformly, deterministically. Rank every row
    by a salted md5 of its id (uniform, collision-free on distinct ids)
    and take the global k smallest. Spark plans orderBy().limit(k) as
    TakeOrderedAndProject: each partition keeps its local top-k and only
    k rows per partition ever move — no global sort, no corpus shuffle,
    the same shape at 10^12 rows. Changing the salt redraws the sample;
    growing the corpus only ever displaces rows (consistent sampling).
    """
    key = F.expr(f"md5(concat('{salt}', CAST({id_col} AS STRING)))")
    return (df.withColumn("sample_key", key)
              .orderBy("sample_key").limit(k))


def sample_k_per_group(df: DataFrame, group_col: str, k: int,
                       id_col: str = "doc_id",
                       salt: str = "cld2s-grpk") -> DataFrame:
    """Exact-k uniform sample WITHIN each group (per-source / per-language
    quota sampling — the primitive behind balanced eval-set construction).

    Same salted-md5 ranking as `sample_exact_k`, but ranked per group via
    ROW_NUMBER. Spark 3.5+ plans the rank<=k filter as WindowGroupLimit:
    every map task pre-truncates to its local per-group top-k BEFORE the
    shuffle (tests/test_plans.py pins the node), so a group with 10^9
    rows moves only k rows per upstream partition — the skew-safe shape
    of per-group top-k at corpus scale. Deterministic, redrawable by
    salt, consistent under corpus growth, exactly like the global
    variant; ties impossible (md5 of distinct ids, id tie-break)."""
    from pyspark.sql import Window

    key = F.expr(f"md5(concat('{salt}', CAST({id_col} AS STRING)))")
    w = Window.partitionBy(group_col).orderBy("sample_key", id_col)
    return (df.withColumn("sample_key", key)
              .withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") <= k))


def kanon_grams(df: DataFrame, n: int = 3, k_anon: int = 20,
                text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """k-anonymous n-gram release: the privacy-preserving vocabulary-
    export rule (the federated-learning / differential-release heuristic
    used when publishing corpus statistics) — an n-gram may be released
    only if it occurs in at least `k_anon` DISTINCT documents, so no
    released gram can be traced to fewer than k sources. Returns
    (gram, n_docs) for every releasable gram.

    Distributed shape (100 TB): in-row n-gram construction (array
    higher-order functions, no posexplode self-join), then per-doc
    DISTINCT grams collapsed map-side (array_distinct BEFORE the
    explode, so a gram repeated inside one document contributes one row,
    not one per occurrence), then ONE map-side-combinable
    groupBy(gram).count() — the count of distinct docs, because the
    input rows are already (doc, gram)-unique. Shuffle volume is the
    per-doc distinct-gram set, and the released table is tiny by
    construction (Zipf head)."""
    toks = tokens_sql(text_col, "spark", drop_empty=False)
    grams = (f"array_distinct(CASE WHEN size({toks}) >= {n} THEN "
             f"transform(sequence(1, size({toks}) - {n} + 1), "
             f"i -> array_join(slice({toks}, i, {n}), ' ')) "
             f"ELSE array() END)")
    return (df.where(F.col(text_col).isNotNull())
            .select(id_col, F.explode(F.expr(grams)).alias("gram"))
            .groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") >= k_anon))


def kanon_grams_oracle_sql(table: str = "documents", n: int = 3,
                           k_anon: int = 20, text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    """LIVE DuckDB replica of the k-anonymity release rule."""
    toks = ("list_filter(string_split(trim(regexp_replace(lower("
            f"{text_col}), '\\s+', ' ', 'g')), ' '), t -> t <> '')")
    return f"""
WITH ka_tok AS MATERIALIZED (
  SELECT {id_col}, {toks} AS toks FROM {table}
  WHERE {text_col} IS NOT NULL),
ka_g AS (
  SELECT DISTINCT {id_col}, g AS gram
  FROM (SELECT {id_col},
          unnest(list_transform(generate_series(1, len(toks) - {n} + 1),
                 i -> array_to_string(toks[i:i + {n} - 1], ' '))) AS g
        FROM ka_tok WHERE len(toks) >= {n}))
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ka_g GROUP BY gram HAVING COUNT(*) >= {k_anon}"""


def rep_ngram_battery(df: DataFrame, ns: tuple = (2, 3, 4, 5, 6, 7, 8, 9, 10),
                      text_col: str = "text", id_col: str = "doc_id"
                      ) -> DataFrame:
    """The FULL Gopher repetition n-gram battery (Rae et al. 2021 Table
    A1): for every n, the character mass of the single most frequent
    word n-gram (the top-n-gram signal, used for n=2..4) and of ALL
    duplicated n-grams (the dup-n-gram signal, used for n=5..10), both
    as exact integer ppm of the document's characters. Long format —
    one row per (doc, n) with size(toks) >= n — so a filter consumes
    whichever bands it thresholds. Char mass is the count*len(gram)
    form (the Dolma/NeMo-Curator implementation of the rule; character
    positions under overlapping duplicates are counted per occurrence).

    Scale shape: n-gram construction for ALL n is in-row (one array-HOF
    projection emitting (n, gram) structs — one explode, no self-join);
    then ONE map-side-combinable groupBy on (doc, n, gram) and one on
    (doc, n). Token volume is sum_n (len-n+1) rows per doc — the
    published battery's inherent cost; both shuffles key on the doc id
    so AQE coalesces them with the corpus partitioning."""
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    # tokenize ONCE into a materialized column: inlining the regex split
    # into every per-n branch would re-run it 2*|ns| times per row (the
    # difference measured 37.5 s -> ~3 s on the sf0.1 bench)
    per_n = ", ".join(
        f"IF(size(tks) >= {n}, transform(sequence(1, size(tks) - {n} + 1), "
        f"i -> named_struct('n', {n}, 'g', "
        f"concat_ws(' ', slice(tks, i, {n})))), array())"
        for n in ns)
    grams = f"concat({per_n})"
    c = (df.where(F.col(text_col).isNotNull())
         .select(id_col, F.length(text_col).alias("n_chars"),
                 F.expr(tk).alias("tks"))
         .select(id_col, "n_chars", F.explode(F.expr(grams)).alias("t"))
         .select(id_col, "n_chars", F.col("t.n").alias("n"),
                 F.col("t.g").alias("g"))
         .groupBy(id_col, "n_chars", "n", "g")
         .agg(F.count(F.lit(1)).alias("c")))
    return (c.groupBy(id_col, F.col("n_chars"), F.col("n"))
            .agg(F.max(F.struct(F.col("c"), F.length("g").alias("gl"),
                                F.col("g"))).alias("top"),
                 F.sum(F.when(F.col("c") > 1,
                              F.col("c") * F.length("g"))).alias("dupc"))
            .select(id_col, F.col("n").cast("int").alias("n"),
                    F.expr("CAST((top.c * top.gl * 1000000L) DIV n_chars "
                           "AS BIGINT)").alias("top_ppm"),
                    F.expr("CAST((COALESCE(dupc, 0) * 1000000L) DIV n_chars "
                           "AS BIGINT)").alias("dup_ppm")))


def rep_ngram_battery_oracle_sql(table: str = "documents",
                                 ns: tuple = (2, 3, 4, 5, 6, 7, 8, 9, 10),
                                 text_col: str = "text",
                                 id_col: str = "doc_id") -> str:
    """LIVE DuckDB replica: same tokenization, same count*len char mass,
    same (c, len, gram) arg-max tie-break, same integer ppm."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    nlist = "[" + ", ".join(str(n) for n in ns) + "]"
    return f"""
WITH rb_tok AS MATERIALIZED (
  SELECT {id_col}, length({text_col}) AS n_chars, {toks} AS toks
  FROM {table} WHERE {text_col} IS NOT NULL),
rb_n AS (SELECT unnest({nlist}) AS n),
rb_g AS (
  SELECT t.{id_col}, t.n_chars, n.n,
    unnest(list_transform(generate_series(1, len(t.toks) - n.n + 1),
           i -> array_to_string(t.toks[i:i + n.n - 1], ' '))) AS g
  FROM rb_tok t JOIN rb_n n ON len(t.toks) >= n.n),
rb_c AS (
  SELECT {id_col}, n_chars, n, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM rb_g GROUP BY {id_col}, n_chars, n, g),
rb_top AS (
  SELECT {id_col}, n_chars, n, c, length(g) AS gl FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}, n
      ORDER BY c DESC, length(g) DESC, g DESC) AS rn FROM rb_c)
  WHERE rn = 1),
rb_dup AS (
  SELECT {id_col}, n, CAST(SUM(CASE WHEN c > 1 THEN c * length(g) END)
    AS BIGINT) AS dupc
  FROM rb_c GROUP BY {id_col}, n)
SELECT t.{id_col}, CAST(t.n AS INTEGER) AS n,
  CAST((t.c * t.gl * 1000000) // t.n_chars AS BIGINT) AS top_ppm,
  CAST((COALESCE(d.dupc, 0) * 1000000) // t.n_chars AS BIGINT) AS dup_ppm
FROM rb_top t JOIN rb_dup d ON t.{id_col} = d.{id_col} AND t.n = d.n"""
