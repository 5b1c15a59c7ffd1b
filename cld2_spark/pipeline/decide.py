"""Keep/drop decision: conjunction of stage verdicts (SURVEY.md §2.11).

Each stage emits its verdict as one boolean flag, named after the drop
reason it raises: the langid kernel (`analyze.analyze_batch`) emits
`too_short`, `langid_unreliable`, `low_quality` and `high_perplexity`,
the toxicity check `toxicity`. A turn is kept when no flag is set; the
first set flag in REASONS order names its drop_reason (FIXTURES.md §4
contract). Two consumers with identical semantics, each taking one flag
per REASONS entry:
  - `decision_pandas(flags)` for the single-node oracle
  - `decision_columns(flags)` returning Spark Column expressions (pure
    boolean column algebra, no UDF)
"""

from __future__ import annotations

import numpy as np

REASONS = ["too_short", "langid_unreliable", "low_quality", "high_perplexity",
           "toxicity"]


def decision_pandas(flags):
    """flags: reason -> boolean array. Returns (keep: bool array,
    drop_reason: object array with None)."""
    n = len(flags[REASONS[0]])
    reason = np.full(n, None, dtype=object)
    dropped = np.zeros(n, dtype=bool)
    # the last write wins, so the first set flag names the reason
    for r in reversed(REASONS):
        hit = np.asarray(flags[r], dtype=bool)
        reason[hit] = r
        dropped |= hit
    return ~dropped, reason


def decision_columns(flags):
    """flags: reason -> boolean Column. Returns (keep, drop_reason)
    Columns; a NULL flag counts as clear."""
    from pyspark.sql import functions as F

    first, *rest = REASONS
    reason = F.when(flags[first], first)
    for r in rest:
        reason = reason.when(flags[r], r)
    reason = reason.otherwise(F.lit(None).cast("string"))
    return reason.isNull(), reason
