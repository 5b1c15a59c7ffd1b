"""Single-node deterministic reference implementation (the label oracle).

Produces the per-turn keep/drop + scrubbed-text labels the Spark pipeline is
graded against (FIXTURES.md §4, north-rule F1 >= 0.99). Runs the SAME
langid kernel as the Spark UDFs (analyze_batch) plus pandas forms of the
rules, the toxicity check and the scrub. It takes the kernel's langid
answer and its `langid_unreliable` and `high_perplexity` verdicts as they
are; the pipeline also takes its rule flags and guards from the kernel's
codepoint pass (`analyze.rule_pass`), which the oracle ignores for its own
forms, so the parity tests check that pass against independent code, and
any Spark/oracle divergence is a real pipeline bug, not an oracle
artifact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cld2_spark.kernels import quality as Q
from cld2_spark.kernels import scrub as S
from cld2_spark.kernels.analyze import analyze_batch, kernel_slices
from cld2_spark.pipeline.decide import decision_pandas


def oracle_labels(transcripts: pd.DataFrame, text_col: str = "text") -> pd.DataFrame:
    """transcripts: pandas DataFrame with at least (conv_id, turn_idx, text).

    Returns the FIXTURES.md §4 oracle_labels frame, sorted by
    (conv_id, turn_idx) -- the stable per-turn ordering invariant.
    """
    df = transcripts.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = df[text_col].fillna("")

    # the kernel calls the Spark UDF makes on one batch holding every row
    rows = texts.tolist()
    parts = ([analyze_batch(rows[s]) for s in kernel_slices(rows)]
             or [analyze_batch([])])
    res = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    rules = Q.flags(Q.features_pandas(texts))
    # a NULL text is "" to the rules (too_short) and stays NULL when
    # scrubbed, as in run_pipeline
    scrubbed = S.scrub_pandas(df[text_col])

    # the pipeline's `lang1` column is the per-turn answer = the kernel's
    # summary_lang (same mapping as functions/langid.pipeline_udf)
    lang = res["summary_lang"]
    keep, reason = decision_pandas({
        **rules, "toxicity": S.toxicity_mask_pandas(texts),
        "langid_unreliable": res["langid_unreliable"],
        "high_perplexity": res["high_perplexity"]})

    return pd.DataFrame({
        "conv_id": df["conv_id"],
        "turn_idx": df["turn_idx"],
        "lang1": lang,
        "pct1": res["pct1"].astype(np.int32),
        "rel1": res["rel1"].astype(np.int32),
        "is_reliable": res["is_reliable"],
        "ft_lang": res["ft_lang"],
        "ppl": res["ppl"],
        "keep": keep,
        "drop_reason": reason,
        "scrubbed_text": scrubbed,
    })
