"""The keep/drop decision (pipeline/decide.py): one ordered first-failure
over the five stage verdicts, the same in pandas and in Spark."""

import itertools

import numpy as np
from pyspark.sql import functions as F

from cld2_spark.pipeline.decide import REASONS, decision_columns, decision_pandas


def test_decision_forms_agree_on_every_flag_combination(spark):
    """For all 32 combinations of the five flags, decision_pandas and
    decision_columns give the same (keep, drop_reason), and the reason is
    the first set flag in REASONS order."""
    combos = list(itertools.product([False, True], repeat=len(REASONS)))
    assert len(combos) == 32
    first = [next((r for r, f in zip(REASONS, c) if f), None) for c in combos]
    want = [(r is None, r) for r in first]

    keep, reason = decision_pandas(
        {r: np.array([c[i] for c in combos]) for i, r in enumerate(REASONS)})
    assert list(zip(keep.tolist(), reason.tolist())) == want

    keep, reason = decision_columns({r: F.col(r) for r in REASONS})
    rows = (spark.createDataFrame(combos, REASONS).coalesce(1)
            .select(keep.alias("keep"), reason.alias("reason")).collect())
    assert [(row.keep, row.reason) for row in rows] == want
