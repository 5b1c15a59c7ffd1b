"""Greedy k-center selection, context-window trimming, turn integrity."""

import numpy as np
from pyspark.sql import functions as F

from cld2_spark.operators.similarity import kcenter_select


def _vecs(spark, arrs):
    return spark.createDataFrame(
        [(i, [float(x) for x in a]) for i, a in enumerate(arrs)],
        "vec_id long, embedding array<float>")


def _quantize(a):
    a = np.asarray(a, dtype=np.float64)
    m = np.abs(a).max()
    if m == 0:
        return np.zeros(len(a), dtype=np.int64)
    # numpy rounds half-even; Spark/DuckDB round half away from zero
    x = a / (m / 127.0)
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _simulate_kcenter(arrs, k):
    codes = np.stack([_quantize(a) for a in arrs])
    n = len(codes)
    centers = [0]                              # seed = MIN(vec_id)
    mind = ((codes - codes[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        best = max(range(n), key=lambda i: (mind[i], -i))
        centers.append(best)
        mind = np.minimum(mind, ((codes - codes[best]) ** 2).sum(axis=1))
    assign = {}
    for i in range(n):
        d = [(int(((codes[i] - codes[c]) ** 2).sum()), r, c)
             for r, c in enumerate(centers)]
        d2, _, c = min(d)
        assign[i] = (c, d2)
    return centers, assign


def test_kcenter_matches_greedy_simulator(spark):
    rng = np.random.RandomState(7)
    arrs = rng.randn(40, 8) * 3.0
    got = {r.vec_id: (r.center_id, r.d2)
           for r in kcenter_select(_vecs(spark, arrs), k=5).collect()}
    centers, assign = _simulate_kcenter(arrs, k=5)
    assert got == assign
    assert sorted(set(c for c, _ in got.values())) == sorted(centers)


def test_kcenter_centers_have_zero_distance_and_cover(spark):
    rng = np.random.RandomState(11)
    arrs = rng.randn(30, 6)
    rows = kcenter_select(_vecs(spark, arrs), k=4).collect()
    centers = {r.center_id for r in rows}
    assert len(centers) == 4
    by_id = {r.vec_id: r for r in rows}
    for c in centers:
        assert by_id[c].center_id == c and by_id[c].d2 == 0
    # the covering radius shrinks (weakly) vs a 1-center solution
    one = kcenter_select(_vecs(spark, arrs), k=1).collect()
    assert max(r.d2 for r in rows) <= max(r.d2 for r in one)


def test_kcenter_seed_is_min_id_and_farthest_second(spark):
    # per-vector scale makes quantization direction-only, so spread the
    # fixture in ANGLE: vec 2 points the opposite way from the seed
    arrs = [[1.0, 0.0], [0.9, 0.1], [-1.0, 0.0], [0.8, 0.2]]
    rows = kcenter_select(_vecs(spark, arrs), k=2).collect()
    centers = {r.center_id for r in rows}
    assert 0 in centers          # seed = MIN(vec_id)
    assert 2 in centers          # farthest direction from the seed


def _transcripts(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def test_context_trim_keeps_maximal_suffix(spark):
    from __spark_entry__ import _context_trim_sql
    _transcripts(spark, [
        ("c1", 0, "user", "a b c d e"),        # 5 tokens
        ("c1", 1, "assistant", "f g h"),       # 3
        ("c1", 2, "user", "i j"),              # 2
        ("c1", 3, "assistant", "k l m n"),     # 4
        ("c2", 0, "user", ""),                 # 0 tokens
    ]).createOrReplaceTempView("transcripts")
    got = {(r.conv_id, r.turn_idx): r
           for r in spark.sql(_context_trim_sql("spark", budget=9)).collect()}
    # suffix sums from the end in c1: t3=4, t2=6, t1=9, t0=14
    assert [got[("c1", i)].kept for i in range(4)] == [False, True, True, True]
    assert got[("c1", 0)].cum_tail == 14
    assert got[("c1", 1)].cum_tail == 9        # exactly at budget: kept
    assert got[("c2", 0)].n_tokens == 0 and got[("c2", 0)].kept
    # kept rows always form a contiguous suffix
    kept_idx = [i for i in range(4) if got[("c1", i)].kept]
    assert kept_idx == list(range(min(kept_idx), 4))


def test_turn_integrity_flags(spark):
    from __spark_entry__ import _TURN_INTEGRITY_SQL
    # conv c3: idx 0,1,2 -> (3 + idx*3) % 7 = 3,6,2 -> none dropped
    # conv c4: idx 0,1,2,3 -> (4 + idx*3) % 7 = 4,0,3,6 -> idx 1 dropped
    _transcripts(spark, [
        ("c3", 0, "user", "x"),
        ("c3", 1, "assistant", "x"),
        ("c3", 2, "user", "x"),
        ("c4", 0, "assistant", "x"),           # bad start
        ("c4", 1, "user", "x"),                # dropped by the decimator
        ("c4", 2, "assistant", "x"),           # repeat after the drop + gap
        ("c4", 3, "assistant", "x"),           # true adjacent repeat
    ]).createOrReplaceTempView("transcripts")
    got = {r.conv_id: r for r in spark.sql(_TURN_INTEGRITY_SQL).collect()}
    assert got["c3"].n_turns == 3
    assert not got["c3"].bad_start
    assert got["c3"].n_role_repeats == 0 and got["c3"].n_idx_gaps == 0
    assert got["c4"].n_turns == 3
    assert got["c4"].bad_start
    assert got["c4"].n_role_repeats == 2       # 0->2 (drop) and 2->3
    assert got["c4"].n_idx_gaps == 1           # 0 -> 2


def test_itemset_jaccard_conversation_dedup(spark):
    from cld2_spark.operators.dedup import conv_dedup_pairs
    rows = []
    # conv A: 10 distinct turns; conv B: the first 8 of them (jacc 80);
    # conv C: 2 of them + 8 unique (jacc 2/18=11, candidate but filtered)
    for i in range(10):
        rows.append(("A", i, "user", f"turn text {i}"))
    for i in range(8):
        rows.append(("B", i, "user", f"turn text {i}"))
    rows.append(("C", 0, "user", "turn text 0"))
    rows.append(("C", 1, "user", "turn text 1"))
    for i in range(8):
        rows.append(("C", 2 + i, "user", f"only in c {i}"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    got = {(r.a, r.b): (r.common, r.jacc_pct)
           for r in conv_dedup_pairs(df, min_jaccard_pct=50).collect()}
    assert set(got) == {("A", "B")}
    common, jacc = got[("A", "B")]
    assert jacc == 80
    assert common == 8
    # lowering the similarity floor admits the weak pair too
    loose = {(r.a, r.b) for r in
             conv_dedup_pairs(df, min_jaccard_pct=10).collect()}
    assert loose == {("A", "B"), ("A", "C"), ("B", "C")}


def test_conv_dedup_releases_previous_caches(spark):
    """conv_dedup_pairs follows the dedup cache lifecycle: each call
    releases the previous call's persisted item sets, so repeated calls
    on one session leave exactly one of them behind."""
    from cld2_spark.operators.dedup import (conv_dedup_pairs,
                                            release_dedup_caches)

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    release_dedup_caches(session=spark)
    before = persisted()
    for n in (3, 4, 5):
        rows = [(f"c{c}", t, "user", f"turn {(c + t) % n}")
                for c in range(n) for t in range(4)]
        conv_dedup_pairs(spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string"),
            min_jaccard_pct=0).collect()
    assert len(persisted() - before) == 1


def test_tool_transitions_start_and_null_markers(spark):
    from __spark_entry__ import _TOOL_TRANSITIONS_SQL
    spark.createDataFrame([
        ("c1", 0, "user", "x", None),
        ("c1", 1, "assistant", "x", "search"),
        ("c1", 2, "tool", "x", "search"),
        ("c2", 0, "user", "x", "python"),
    ], "conv_id string, turn_idx int, role string, text string, tool string"
    ).createOrReplaceTempView("transcripts")
    got = {(r.prev_tool, r.tool): (r.n_transitions, r.n_convs)
           for r in spark.sql(_TOOL_TRANSITIONS_SQL).collect()}
    assert got == {
        ("^", "-"): (1, 1),            # c1 opens with no tool
        ("-", "search"): (1, 1),       # null prev-tool, not conv start
        ("search", "search"): (1, 1),  # repeated tool
        ("^", "python"): (1, 1),       # c2 opens with a tool call
    }


def test_soft_dedup_weights_sum_to_one_per_group(spark):
    from cld2_spark.operators.dedup import soft_dedup_weights
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "same"), (4, "uniq")],
        "doc_id long, text string")
    got = {r.doc_id: (r.dup_count, r.weight_ppm)
           for r in soft_dedup_weights(df).collect()}
    assert got[1] == got[2] == got[3] == (3, 333333)
    assert got[4] == (1, 1000000)


def test_blocklist_hits_counts_occurrences(spark):
    from cld2_spark.operators.textstats import blocklist_hits
    df = spark.createDataFrame(
        [(1, "bad Bad worse fine"), (2, "all clean here"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_blocked, r.keep)
           for r in blocklist_hits(df, ["bad", "worse"]).collect()}
    assert got[1] == (3, False)      # lowercase fold counts 'Bad' too
    assert got[2] == (0, True)
    assert got[3] == (0, True)


def test_lexical_diversity_simpson_hand_case(spark):
    from cld2_spark.operators.textstats import lexical_diversity
    df = spark.createDataFrame(
        [(1, "a a a a"),              # degenerate: rep = 4*3, n(n-1)=12
         (2, "a b c d"),              # all distinct: rep 0
         (3, "a a b b"),              # rep = 2*1*2 = 4, denom 12
         (4, "solo")],                # n < 2 -> 0
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_types, r.repeat_ppm)
           for r in lexical_diversity(df).collect()}
    assert got[1] == (4, 1, 1_000_000)
    assert got[2] == (4, 4, 0)
    assert got[3] == (4, 2, 4 * 1_000_000 // 12)
    assert got[4] == (1, 1, 0)


def test_conv_pacing_gap_arithmetic(spark):
    import datetime as dt
    from __spark_entry__ import _conv_pacing_sql
    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    spark.createDataFrame([
        ("c1", 0, base),
        ("c1", 1, base + dt.timedelta(seconds=30)),
        ("c1", 2, base + dt.timedelta(seconds=300)),   # 270 s pause
        ("c2", 0, base),                               # single turn
    ], "conv_id string, turn_idx int, ts timestamp"
    ).createOrReplaceTempView("transcripts")
    got = {r.conv_id: r for r in
           spark.sql(_conv_pacing_sql("spark")).collect()}
    assert (got["c1"].n_turns, got["c1"].max_gap_s,
            got["c1"].total_gap_s, got["c1"].duration_s) == (3, 270, 300, 300)
    assert (got["c2"].n_turns, got["c2"].max_gap_s,
            got["c2"].duration_s) == (1, 0, 0)


def test_session_window_semantics_vs_manual_islands(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + dt.timedelta(seconds=299, microseconds=999999)),
        # gap to previous < 300 s -> merges; then EXACTLY 300 s -> splits
        (1, base + dt.timedelta(seconds=599, microseconds=999999)),
        (1, base + dt.timedelta(seconds=899, microseconds=999999)),
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp") \
        .createOrReplaceTempView("events")
    got = sorted(
        (r.w_start, r.w_end, r.n_events)
        for r in spark.sql(
            "SELECT CAST(unix_timestamp(session_window.start) AS BIGINT)"
            " AS w_start, "
            "CAST(unix_timestamp(session_window.end) AS BIGINT) AS w_end, "
            "CAST(COUNT(*) AS BIGINT) AS n_events FROM events "
            "GROUP BY user_id, session_window(ts, '300 seconds')"
        ).collect())
    e0 = int(base.timestamp())
    # ALL FOUR merge: Spark's session merge comparison is INCLUSIVE of
    # the window end, so the fourth event — exactly 300 s after the
    # third — extends the session instead of opening a new one (the
    # oracle replicates with a strictly-greater split)
    assert got == [(e0, e0 + 1199, 4)]
    # a gap of 300 s + 1 us DOES split
    spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=300, microseconds=1))],
        "user_id long, ts timestamp").createOrReplaceTempView("events")
    two = spark.sql(
        "SELECT COUNT(*) AS n FROM (SELECT session_window(ts, "
        "'300 seconds') FROM events GROUP BY user_id, "
        "session_window(ts, '300 seconds'))").collect()
    assert two[0].n == 2


def test_tfidf_search_ranks_rare_terms_higher(spark):
    from cld2_spark.operators.textstats import tfidf_search
    df = spark.createDataFrame([
        (1, "rare common common"),
        (2, "common common common"),
        (3, "common rare rare"),
        (4, "nothing matches here"),
    ], "doc_id long, text string")
    rows = tfidf_search(df, ["rare", "common"], k=10).collect()
    got = [(r.doc_id, r.score) for r in rows]
    # N=4; df(rare)=2 -> idf 2_000_000; df(common)=3 -> idf 1_333_333
    assert got[0] == (3, 2 * 2_000_000 + 1 * 1_333_333)
    assert got[1] == (1, 1 * 2_000_000 + 2 * 1_333_333)
    assert got[2] == (2, 3 * 1_333_333)
    assert all(r[0] != 4 for r in got)          # no hits, no row


def test_normalize_text_composes_and_strips(spark):
    from cld2_spark.operators.textstats import normalize_text_stats
    df = spark.createDataFrame([
        (1, "caf\u00e9"),          # composed
        (2, "cafe\u0301"),         # decomposed -> NFC to row 1
        (3, "a\x07b\x1fc"),          # control chars stripped
        (4, None),                   # null -> empty canonical form
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in normalize_text_stats(df).collect()}
    assert got[1].norm_hash == got[2].norm_hash
    assert got[1].norm_len == got[2].norm_len == 4
    assert (got[1].n_stripped, got[2].n_stripped) == (0, 0)
    assert got[3].n_stripped == 2 and got[3].norm_len == 3
    import hashlib
    assert got[4].norm_hash == hashlib.md5(b"").hexdigest()


def test_key_skew_report_ppm_math(spark):
    from cld2_spark.operators.textstats import key_skew_report
    df = spark.createDataFrame(
        [(k,) for k in ["hot"] * 8 + ["warm"] * 3 + ["cold"]],
        "k string")
    got = [(r.key, r.n_rows, r.share_ppm, r.vs_mean_ppm)
           for r in key_skew_report(df, "k", top=3).collect()]
    # 12 rows, 3 keys -> mean load 4; hot = 2x mean
    assert got[0] == ("hot", 8, 8 * 1_000_000 // 12, 2_000_000)
    assert got[1] == ("warm", 3, 250_000, 750_000)
    assert got[2] == ("cold", 1, 83_333, 250_000)


def test_length_histogram_log2_buckets(spark):
    from cld2_spark.operators.textstats import length_histogram
    df = spark.createDataFrame([
        (1, ""),                   # 0 tokens -> bucket -1
        (2, "a"),                  # 1 -> floor(log2 1) = 0
        (3, "a b"),                # 2 -> 1
        (4, "a b c"),              # 3 -> 1
        (5, "a b c d"),            # 4 -> 2
        (6, " ".join(["t"] * 7)),  # 7 -> 2
        (7, " ".join(["t"] * 8)),  # 8 -> 3
    ], "doc_id long, text string")
    got = {r.log2_tokens: r.n_docs for r in length_histogram(df).collect()}
    assert got == {-1: 1, 0: 1, 1: 2, 2: 2, 3: 1}


def test_role_share_ppm(spark):
    from __spark_entry__ import _role_share_sql
    spark.createDataFrame([
        ("c1", 0, "user", "a b"),          # 2 tokens
        ("c1", 1, "assistant", "x y z"),   # 3
        ("c1", 2, "tool", "q"),            # 1
        ("c2", 0, "user", ""),             # all-empty conversation
    ], "conv_id string, turn_idx int, role string, text string"
    ).createOrReplaceTempView("transcripts")
    got = {r.conv_id: r for r in
           spark.sql(_role_share_sql("spark")).collect()}
    c1 = got["c1"]
    assert c1.total_tokens == 6
    assert (c1.user_ppm, c1.assistant_ppm, c1.tool_ppm) == (
        2_000_000 // 6, 500_000, 1_000_000 // 6)
    c2 = got["c2"]
    assert (c2.total_tokens, c2.user_ppm) == (0, 0)   # no div-by-zero
