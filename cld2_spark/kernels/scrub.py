"""PII / toxicity scrubbing patterns shared by every engine.

One definition of each pattern, consumed three ways:
  - Spark:   F.regexp_replace(col, PATTERN, TOKEN)   (Java regex)
  - pandas:  Series.str.replace(PATTERN, TOKEN, regex=True)  (Python re)
  - DuckDB:  regexp_replace(col, PATTERN, TOKEN, 'g')        (RE2)

Patterns are therefore restricted to the common subset: no lookaround, no
backreferences, no \\b ambiguity across engines (RE2 supports \\b; Java and
re do too), POSIX-ish classes avoided. Order matters: credit card before
phone (both are digit runs), SSN before phone.

The scrub stage itself is pure built-in `regexp_replace` chains on the JVM
(SURVEY.md §2.11), each behind a cheap guard; in the keep/drop pipeline
the guards come from the langid kernel's codepoint pass
(`analyze.rule_pass`), so only rows whose guard fires reach a regex.
"""

from __future__ import annotations

# (name, pattern, replacement token) -- applied in order.
# Digits are the explicit [0-9] class: Python's \d is Unicode-aware while
# Java and RE2 default to ASCII, so \d would diverge on e.g. Arabic digits.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\b(?:[0-9][ -]?){13,16}[0-9]\b", "<CC>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b(?:\+?[0-9]{1,2}[ .-]?)?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]

# Deterministic toxicity wordlist (placeholder lexicon; a production run
# swaps in a real one -- the *mechanism* is the deliverable).
TOXICITY_WORDS: list[str] = [
    "frakking", "gorram", "smeghead", "belgium++", "shazbot", "frell",
    "dren", "felgercarb",
]

_WORD_CHARS = "A-Za-z0-9_"


def _boundary_wrap(word: str) -> str:
    """Wrap a lexicon entry in boundary assertions that actually fire.

    `\\b` after a token ending in a non-word char (e.g. 'belgium++') can
    never match before whitespace/EOS, so such entries get an explicit
    consuming right-boundary class instead (fine for presence tests; this
    pattern is only used with contains/rlike, never replace)."""
    esc = "".join("\\" + c if c in r"\.^$*+?()[]{}|" else c for c in word)
    left = r"\b" if word[0].isalnum() or word[0] == "_" else ""
    if word[-1].isalnum() or word[-1] == "_":
        right = r"\b"
    else:
        right = rf"(?:[^{_WORD_CHARS}]|$)"
    return f"{left}{esc}{right}"


TOXICITY_PATTERN = (r"(?i)(?:"
                    + "|".join(_boundary_wrap(w) for w in TOXICITY_WORDS)
                    + r")")


def scrub_pandas(s):
    """Apply the PII chain to a pandas Series of strings (oracle path).
    NULL stays NULL, as in the SQL engines.

    Compiled with re.ASCII so \\b/\\w match Java/RE2's ASCII semantics."""
    import re

    out = s.fillna("")
    for _, pat, tok in PII_PATTERNS:
        out = out.str.replace(re.compile(pat, re.ASCII), tok, regex=True)
    return out.astype(object).where(s.notna(), None)


def toxicity_mask_pandas(s):
    import re

    return s.fillna("").str.contains(re.compile(TOXICITY_PATTERN, re.ASCII))


def scrub_sql(col: str) -> str:
    """Render the scrub chain as a DuckDB SQL expression (the oracle form;
    Spark runs `scrub_spark_columns`)."""
    expr = col
    for _, pat, tok in PII_PATTERNS:
        expr = (f"regexp_replace({expr}, '{_sql_lit(pat, 'duckdb')}', "
                f"'{tok}', 'g')")
    return expr


# Guards on the ORIGINAL text are sound supersets: replacement tokens
# contain no '@' and no digits, so a row that ever matches still triggers.
# About 5% of turns contain a digit and 5% an '@', so most rows skip every
# regex. The four digit guards share one flag, evaluated once per row. On
# its own (the `pii_scrub` query) the flag is an `rlike '[0-9]'` column.
# Measured over 40,000 turns (4 vCPUs, local[2]): the flag costs 0.15 s; a
# `translate` digit count inside each guard cost 0.33 s per guard, which
# made the guarded chain (1.28 s) no cheaper than the unguarded one
# (1.27 s). The keep/drop pipeline passes its langid struct's
# `has_digit`/`has_at` fields instead (`analyze.rule_pass`).
_HAS_DIGIT = "_scrub_has_digit"


def scrub_spark_columns(df, text_col: str, out_col: str,
                        has_digit: str | None = None,
                        has_at: str | None = None):
    """Hot-path Spark scrub: one withColumn per pattern (separate Projects,
    so CollapseProject keeps each expensive regex evaluated once) with each
    regex gated behind a cheap guard -- clean rows never enter the regex
    engine. `has_digit` and `has_at` are boolean SQL guards over the
    original text, sound supersets of "contains a digit" / "contains an
    '@'"; left out, they are `rlike '[0-9]'` and `instr(text, '@') > 0`.
    Output identical to scrub_sql/the DuckDB oracle."""
    from pyspark.sql import functions as F

    df = df.withColumn(out_col, F.col(text_col))
    if has_digit is None:
        df = df.withColumn(_HAS_DIGIT, F.expr(f"{text_col} rlike '[0-9]'"))
        has_digit = _HAS_DIGIT
    if has_at is None:
        has_at = f"instr({text_col}, '@') > 0"
    for name, pat, tok in PII_PATTERNS:
        p = _sql_lit(pat, "spark")
        guard = has_at if name == "email" else has_digit
        df = df.withColumn(out_col, F.expr(
            f"CASE WHEN {guard} THEN regexp_replace({out_col}, '{p}', '{tok}') "
            f"ELSE {out_col} END"))
    return df.drop(_HAS_DIGIT)


def _sql_lit(pat: str, dialect: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal.
    Spark SQL treats backslash as an escape char inside string literals
    (so it must be doubled); DuckDB uses standard SQL literals (no
    backslash escaping)."""
    p = pat.replace("'", "''")
    if dialect == "spark":
        p = p.replace("\\", "\\\\")
    return p


def toxicity_sql(col: str, dialect: str, guard: str | None = None) -> str:
    """The toxicity test as a SQL expression for `dialect`. The Spark
    form evaluates the regex only where the boolean SQL `guard` holds,
    which must be a sound superset of a match; left out, it is the
    substring tests below."""
    p = _sql_lit(TOXICITY_PATTERN, dialect)
    if dialect == "duckdb":
        return f"regexp_matches({col}, '{p}')"
    # Spark hot path: gate the regex behind cheap substring tests, the
    # same trick as the scrub guards -- any boundary-anchored (?i) match
    # implies the lowercased word appears as a plain substring, so the
    # guard is a sound superset and clean rows never enter the regex
    # engine (measured 0.42 s -> 0.28 s over 320K turns). The keep/drop
    # pipeline passes its langid struct's `tox_cand` field instead
    # (`analyze.rule_pass`). NULL input stays NULL, exactly as the bare
    # rlike behaves.
    if guard is None:
        guard = " OR ".join(f"instr(lower({col}), '{w}') > 0"
                            for w in TOXICITY_WORDS)
    return (f"(CASE WHEN {col} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN {guard} THEN ({col} rlike '{p}') ELSE false END)")
