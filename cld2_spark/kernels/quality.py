"""Heuristic quality rules (Gopher/C4-style), engine-portable.

One set of named thresholds and one flag rule (`flags` over arrays,
`flags_sql` over SQL expressions); four feature forms:
  - the keep/drop pipeline: `kernels.analyze.rule_pass` counts the
    features from the codepoints the langid kernel already decoded, so
    no per-row JVM string work runs ahead of the UDF.
  - Spark SQL: `pipeline.stages.with_quality` evaluates
    `features_sql('spark')` once per row as helper columns and
    `flags_sql` over them (the standalone `quality_flags` query).
  - DuckDB oracle SQL for the driver correctness gate.
  - pandas reference implementation (oracle labels, FIXTURES.md §4).

All comparisons are integer cross-multiplications (no float ratios) and all
character classes are explicit ASCII ranges (Java regex, RE2 and Python re
disagree on Unicode-awareness of \\w and friends), so the three engines
agree bit-for-bit -- except DuckDB's word split on \\x0b (`features_pandas`).
"""

from __future__ import annotations

# thresholds (per conversation turn, not per web document)
MIN_CHARS = 8            # shorter -> drop reason 'too_short'
MAX_CHARS = 100_000
MAX_WORDS = 50_000
MAX_MEAN_WORD_LEN = 25   # alpha_chars > words * 25  -> low_quality

# ASCII punctuation ranges: !-/ :-@ [-` {-~  (non-ASCII letters NOT counted)
_SYMBOL = "[!-/:-@\\[-`{-~]"
_DIGIT = "[0-9]"
_ALPHA = "[A-Za-z]"


def _count(col: str, pat: str) -> str:
    """DuckDB expression counting chars of a 1-char class in col."""
    g = ", 'g'"
    return f"(length({col}) - length(regexp_replace({col}, '{pat}', ''{g})))"


def features_sql(col: str, dialect: str) -> dict[str, str]:
    """Named feature expressions over a text column.

    The Spark forms count with the regex engine, not `translate`:
    `translate` allocates a substring and does a map lookup per char.
    Single-column noop jobs over 40,000 cached turns (4 vCPUs, local[2],
    `length(text)` alone 0.16 s): n_alpha 0.40 s as translate, 0.35 s as
    `length(regexp_replace(text, '[^A-Za-z]+', ''))` (0.74 s as
    regexp_count); n_symbols 0.35 s -> 0.27 s and n_digits 0.37 s ->
    0.18 s as `regexp_count`. Counts are identical to DuckDB's
    regexp_replace forms (tests/test_pipeline_parity.py)."""
    if dialect == "spark":
        sym = _SYMBOL.replace("\\", "\\\\")  # Spark SQL literals unescape '\\'
        n_words = (f"(case when length(trim({col})) = 0 then 0 "
                   f"else size(split(trim({col}), '\\\\s+')) end)")
        return {
            "n_chars": f"length({col})",
            "n_words": n_words,
            "n_symbols": f"regexp_count({col}, '{sym}')",
            "n_digits": f"regexp_count({col}, '{_DIGIT}')",
            "n_alpha": f"length(regexp_replace({col}, '[^A-Za-z]+', ''))",
        }
    n_words = (f"(case when length(trim({col})) = 0 then 0 "
               f"else length(string_split_regex(trim({col}), '\\s+')) end)")
    return {
        "n_chars": f"length({col})",
        "n_words": n_words,
        "n_symbols": _count(col, _SYMBOL),
        "n_digits": _count(col, _DIGIT),
        "n_alpha": _count(col, _ALPHA),
    }


def flags_sql(f: dict[str, str]) -> dict[str, str]:
    """`too_short` and `low_quality` as boolean SQL over the feature
    expressions (or the names of columns holding them) in `f`."""
    return {
        "too_short": f"({f['n_chars']} < {MIN_CHARS})",
        "low_quality": (
            f"(({f['n_chars']} > {MAX_CHARS})"
            f" or ({f['n_words']} > {MAX_WORDS})"
            f" or ({f['n_alpha']} > {f['n_words']} * {MAX_MEAN_WORD_LEN})"
            f" or ({f['n_symbols']} * 2 > {f['n_chars']})"
            f" or ({f['n_digits']} * 2 > {f['n_chars']}))"),
    }


def flags(f: dict) -> dict:
    """`too_short` and `low_quality` over feature arrays (NumPy arrays or
    pandas Series) in `f`: the same rule as `flags_sql`."""
    return {
        "too_short": f["n_chars"] < MIN_CHARS,
        "low_quality": ((f["n_chars"] > MAX_CHARS)
                        | (f["n_words"] > MAX_WORDS)
                        | (f["n_alpha"] > f["n_words"] * MAX_MEAN_WORD_LEN)
                        | (f["n_symbols"] * 2 > f["n_chars"])
                        | (f["n_digits"] * 2 > f["n_chars"])),
    }


def low_quality_sql(col: str, dialect: str) -> str:
    """Boolean SQL expression: True when the turn fails the heuristic rules."""
    return flags_sql(features_sql(col, dialect))["low_quality"]


def too_short_sql(col: str, dialect: str) -> str:
    return flags_sql(features_sql(col, dialect))["too_short"]


# ---------------------------------------------------------------- pandas ----

def features_pandas(s):
    """Same features over a pandas Series (oracle path).

    Whitespace semantics must match the SQL engines exactly: Spark `trim`
    and DuckDB `trim` strip only ' ' (0x20), and Java's `\\s` is the ASCII
    class -- while Python's `\\s` and `str.strip()` are Unicode-aware
    (U+202F/U+3000/NBSP). Use explicit ASCII sets on the pandas side.
    RE2's `\\s` lacks \\x0b, so DuckDB counts one word fewer per vertical
    tab between words (a known oracle divergence, PARITY.md §2.11)."""
    t = s.fillna("")
    n_chars = t.str.len()
    trimmed = t.str.strip(" ")
    n_words = (trimmed.str.split("[ \t\n\x0b\f\r]+", regex=True).str.len()
               .where(trimmed.str.len() > 0, 0))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_symbols": t.str.count(_SYMBOL),
        "n_digits": t.str.count(_DIGIT),
        "n_alpha": t.str.count(_ALPHA),
    }
