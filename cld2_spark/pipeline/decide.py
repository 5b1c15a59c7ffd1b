"""Keep/drop decision: conjunction of stage verdicts (SURVEY.md §2.11).

One ordered rule list; the first failing rule names the drop_reason
(FIXTURES.md §4 contract). Two consumers with identical semantics:
  - `decision_pandas(...)` for the single-node oracle
  - `decision_columns(...)` returning Spark Column expressions (pure boolean
    column algebra, no UDF)
"""

from __future__ import annotations

import numpy as np

from cld2_spark.kernels.crosscheck import MIN_GRAMS_FOR_PPL, PERPLEXITY_THRESHOLD

# cross-check: a confident disagreeing trigram verdict below this CLD2-side
# reliability is treated as unreliable langid
FT_DISAGREE_MAX_REL = 90

REASONS = ["too_short", "langid_unreliable", "low_quality", "high_perplexity",
           "toxicity"]


def langid_unreliable_mask(lang1, is_reliable, rel1, ft_lang, be_ok):
    """Vectorized over numpy arrays / pandas Series.

    `be_ok` (short-turn bestEffort rescue, VERDICT r3 #2): such rows carry
    is_reliable=false honestly (the answer IS a guess) but are exempt from
    the ~is_reliable drop -- the guess passed bestEffort's own confidence
    gate. The cross-check disagreement veto still applies."""
    disagree = (ft_lang != "un") & (ft_lang != lang1)
    return ((lang1 == "un") | (~is_reliable & ~be_ok)
            | (disagree & (rel1 < FT_DISAGREE_MAX_REL)))


def high_perplexity_mask(ppl, tri_grams):
    return (ppl > PERPLEXITY_THRESHOLD) & (tri_grams >= MIN_GRAMS_FOR_PPL)


def decision_pandas(too_short, lang1, is_reliable, rel1, ft_lang, ppl,
                    tri_grams, low_quality, toxic, be_ok):
    """Returns (keep: bool array, drop_reason: object array with None)."""
    lang1 = np.asarray(lang1, dtype=object)
    ft_lang = np.asarray(ft_lang, dtype=object)
    rules = [
        ("too_short", np.asarray(too_short, dtype=bool)),
        ("langid_unreliable", np.asarray(
            langid_unreliable_mask(lang1, np.asarray(is_reliable, dtype=bool),
                                   np.asarray(rel1), ft_lang,
                                   np.asarray(be_ok, dtype=bool)),
            dtype=bool)),
        ("low_quality", np.asarray(low_quality, dtype=bool)),
        ("high_perplexity", np.asarray(
            high_perplexity_mask(np.asarray(ppl), np.asarray(tri_grams)), dtype=bool)),
        ("toxicity", np.asarray(toxic, dtype=bool)),
    ]
    n = len(lang1)
    reason = np.full(n, None, dtype=object)
    decided = np.zeros(n, dtype=bool)
    for name, mask in rules:
        hit = mask & ~decided
        reason[hit] = name
        decided |= mask
    return ~decided, reason


def decision_columns(df_cols):
    """Spark Column expressions from a dict of input columns.

    df_cols needs: too_short, lang1, is_reliable, rel1, ft_lang, ppl,
    tri_grams, low_quality, toxic, be_ok. Returns (keep, drop_reason)
    Columns.
    """
    from pyspark.sql import functions as F

    c = df_cols
    unreliable = (
        (c["lang1"] == "un") | (~c["is_reliable"] & ~c["be_ok"])
        | ((c["ft_lang"] != "un") & (c["ft_lang"] != c["lang1"])
           & (c["rel1"] < F.lit(FT_DISAGREE_MAX_REL)))
    )
    high_ppl = (c["ppl"] > F.lit(PERPLEXITY_THRESHOLD)) & \
               (c["tri_grams"] >= F.lit(MIN_GRAMS_FOR_PPL))
    reason = (
        F.when(c["too_short"], "too_short")
        .when(unreliable, "langid_unreliable")
        .when(c["low_quality"], "low_quality")
        .when(high_ppl, "high_perplexity")
        .when(c["toxic"], "toxicity")
        .otherwise(F.lit(None).cast("string"))
    )
    return reason.isNull(), reason
