"""Combined langid + cross-check + perplexity + rule analysis, one pass per
batch.

Normalizes the batch and builds its gram stream (detect.GramStream) once,
the expensive shared steps, and feeds them to the CLD2-style detector, its
bestEffort rescue (a row selection of the stream) and the trigram
cross-check. The stream lives only for one analyze_batch call. The same
decoded codepoints feed `rule_pass`: the quality flags and the guards of
the PII scrub and the toxicity check, so the keep/drop pipeline runs no
per-row string work ahead of its UDF. Only this kernel sees pass 1, the
bestEffort rescue and the cross-check together, so it also writes the
langid and perplexity verdicts: with the rule pass's two, four of the
decision's five. This is the single kernel behind the Spark langid UDFs
and the single-node pandas oracle, so Spark output and oracle labels
agree by construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from . import quality as Q
from . import text as T
from .crosscheck import MIN_GRAMS_FOR_PPL, PERPLEXITY_THRESHOLD, crosscheck_batch
from .detect import GramStream, detect_batch
from .model import Cld2sModel
from .scrub import TOXICITY_WORDS

# Short-turn bestEffort rescue (VERDICT r3 #2): rows at or below this many
# text bytes are the reference's own out-of-design zone (README.md:7 --
# "designed for ~200 chars or more"); when the default pass refuses ("un")
# or is unreliable there, the kCLDFlagBestEffort pass supplies a best
# guess. Measured +4 held-out cases (77 -> 81 of 104) on sub-128-byte
# fragments.
BEST_EFFORT_MAX_BYTES = 256

# cross-check: a confident disagreeing trigram verdict below this CLD2-side
# reliability makes the langid verdict unreliable
FT_DISAGREE_MAX_REL = 90

# Codepoints of text per kernel call. The kernel allocates ~125-170
# transient bytes per input codepoint, so bounding the text per call
# bounds a Python worker's peak memory whatever batch size the engine
# hands over (the analogue of CLD2's fixed 1,000-hit buffer per scoring
# pass, internal/scoreonescriptspan.h:93). Measured in one process on a
# 4-vCPU Xeon over 10k-row batches of transcript turns: at 2^18 the
# kernel runs no slower than one unsliced call while its traced peak falls
# from 324 to 40 MiB; 2^16 runs slower. The budget is at least text.TEXT_LIMIT, so
# a row longer than the budget, scored alone and truncated to TEXT_LIMIT,
# costs no more than a full slice.
KERNEL_SLICE_CHARS = 1 << 18


def kernel_slices(texts: list[str]) -> Iterator[slice]:
    """Cut a batch into consecutive row slices of at most
    KERNEL_SLICE_CHARS codepoints each; a longer row is a slice of its
    own. Every kernel is row-local, so scoring the slices one by one gives
    the same per-row results as one call over the whole batch."""
    end = np.cumsum(np.fromiter(map(len, texts), count=len(texts),
                                dtype=np.int64))
    lo, base = 0, 0
    while lo < len(texts):
        hi = max(int(np.searchsorted(end, base + KERNEL_SLICE_CHARS,
                                     side="right")), lo + 1)
        yield slice(lo, hi)
        lo, base = hi, int(end[hi - 1])


# ASCII classes of the rule pass, one per codepoint; every codepoint past
# ASCII is _OTHER. '@' is a symbol of its own class (the email guard) and
# ' ' is apart from the rest of Java's \\s (the edges `trim` strips).
_OTHER, _ALPHA, _DIGIT, _SYMBOL, _AT, _SPACE, _WS = range(7)
_N_CLASSES = 7


def _ascii_tables() -> tuple[np.ndarray, np.ndarray]:
    """(class, ASCII-lowercased byte) per codepoint 0..127, plus one
    entry (class _OTHER, byte 0) that every codepoint >= 128 maps to. The
    classes come from quality's own regex classes."""
    import re

    cls = np.zeros(129, dtype=np.uint8)
    for c in range(128):
        ch = chr(c)
        cls[c] = (_AT if ch == "@" else _SPACE if ch == " "
                  else _WS if ch in "\t\n\x0b\f\r"
                  else _ALPHA if re.fullmatch(Q._ALPHA, ch)
                  else _DIGIT if re.fullmatch(Q._DIGIT, ch)
                  else _SYMBOL if re.fullmatch(Q._SYMBOL, ch) else _OTHER)
    low = np.frombuffer(bytes(range(128)).lower() + b"\0", dtype=np.uint8)
    return cls, low


_CLASS, _LOWER = _ascii_tables()
_TOX_BYTES = [w.lower().encode("ascii") for w in TOXICITY_WORDS]
# a row cut at TEXT_LIMIT is long enough that the n_chars rule alone
# decides both flags, so its features need not be exact
assert T.TEXT_LIMIT > Q.MAX_CHARS


def features(nb: T.NormBatch, n_chars: np.ndarray) -> dict[str, np.ndarray]:
    """The five `quality` features of every row, plus `n_at` (its '@'
    count), from the batch's codepoints (`nb`, rows cut at TEXT_LIMIT) and
    the rows' uncut lengths `n_chars`. The class counts are one bincount;
    n_words counts the whitespace runs of each row between its first and
    last non-' ' codepoint, plus one (Spark's `trim` strips only ' ', and
    Java's `split('\\s+')` keeps the leading and trailing empty pieces).
    On a row cut at TEXT_LIMIT only n_chars is exact."""
    n = nb.n
    cls = _CLASS[np.minimum(nb.cp, 128)]
    cnt = np.bincount(nb.rid * _N_CLASSES + cls,
                      minlength=n * _N_CLASSES).reshape(n, _N_CLASSES)
    # row r's text is cp[end[r] - cut[r]:end[r]] (normalize_batch's layout)
    cut = np.minimum(n_chars, T.TEXT_LIMIT)
    end = np.cumsum(cut + 1)
    ws = cls >= _SPACE
    run = ws.copy()
    run[1:] &= ~ws[:-1]
    c_run = np.cumsum(run, dtype=np.int32)
    c_ns = np.cumsum(cls != _SPACE, dtype=np.int32)
    lo, hi = c_ns[end - cut - 1], c_ns[end - 1]
    first = np.minimum(np.searchsorted(c_ns, lo + 1), max(len(cls) - 1, 0))
    last = np.searchsorted(c_ns, hi)
    return {"n_chars": n_chars,
            "n_words": np.where(hi > lo, c_run[last] - c_run[first]
                                + ws[first] + 1, 0),
            "n_symbols": cnt[:, _SYMBOL] + cnt[:, _AT],
            "n_digits": cnt[:, _DIGIT],
            "n_alpha": cnt[:, _ALPHA],
            "n_at": cnt[:, _AT]}


def rule_pass(nb: T.NormBatch, n_chars: np.ndarray) -> dict[str, np.ndarray]:
    """`too_short` and `low_quality` (`quality.flags` over `features`)
    and the guards of the PII scrub and the toxicity check, per row. The
    guards are sound supersets of the SQL tests they stand for:
    `has_digit` is `rlike '[0-9]'`, `has_at` is `instr('@') > 0`, and
    `tox_cand` is an ASCII-case-insensitive occurrence of a
    TOXICITY_WORDS entry, which every match of Java's ASCII-only `(?i)`
    pattern contains. A row longer than TEXT_LIMIT sets all three."""
    f = features(nb, n_chars)
    out = Q.flags(f)
    long = n_chars > T.TEXT_LIMIT
    out["has_digit"] = (f["n_digits"] > 0) | long
    out["has_at"] = (f["n_at"] > 0) | long
    tox = long.copy()
    end = np.cumsum(np.minimum(n_chars, T.TEXT_LIMIT) + 1)
    buf = _LOWER[np.minimum(nb.cp, 128)].tobytes()
    for w in _TOX_BYTES:
        # one hit marks its row; the search resumes past that row's text
        i = buf.find(w)
        while i >= 0:
            r = nb.rid[i]
            tox[r] = True
            i = buf.find(w, end[r])
    out["tox_cand"] = tox
    return out


def analyze_batch(texts: list[str],
                  model: Cld2sModel | None = None) -> dict[str, np.ndarray]:
    if model is None:
        from .model import default_model
        model = default_model()
    nb = T.normalize_batch(texts)
    rules = rule_pass(nb, np.fromiter(map(len, texts), count=len(texts),
                                      dtype=np.int64))
    # the slice's gram stream, built once: pass 1 scores it, the rescue a
    # row selection of it, and the squeeze trigger and the cross-check
    # read its letter stream
    stream = GramStream.build(nb, model)
    out = detect_batch(texts, model, stream=stream)
    # bestEffort rescue for short refused/unreliable rows: the answer
    # fields adopt the bestEffort guess, is_reliable stays False (the
    # honest flag: it IS a guess), and `be_ok` marks the guesses that
    # passed bestEffort's own confidence gate.
    short = ((out["text_bytes"] > 0)
             & (out["text_bytes"] <= BEST_EFFORT_MAX_BYTES)
             & ((out["summary_lang"] == "un") | ~out["is_reliable"]))
    out["be_ok"] = np.zeros(nb.n, dtype=bool)
    if short.any():
        rows = np.flatnonzero(short)
        be = detect_batch(None, model, best_effort=True,
                          stream=stream.select(rows))
        ok = (be["summary_lang"] != "un") & be["is_reliable"]
        ridx = rows[ok]
        out["summary_lang"][ridx] = be["summary_lang"][ok]
        out["summary_pct"][ridx] = be["summary_pct"][ok]
        out["rel1"][ridx] = be["rel1"][ok]
        out["be_ok"][ridx] = True
    cc = crosscheck_batch(stream, model)
    out["ft_lang"] = cc["ft_lang"]
    out["ppl"] = cc["ppl"]
    out["tri_grams"] = cc["n_grams"]
    # the langid verdict: a refusal, an unreliable answer that is not a
    # gated bestEffort guess, or a confident cross-check disagreement
    # below FT_DISAGREE_MAX_REL
    lang = out["summary_lang"]
    disagree = (out["ft_lang"] != "un") & (out["ft_lang"] != lang)
    out["langid_unreliable"] = (
        (lang == "un") | (~out["is_reliable"] & ~out["be_ok"])
        | (disagree & (out["rel1"] < FT_DISAGREE_MAX_REL)))
    out["high_perplexity"] = ((out["ppl"] > PERPLEXITY_THRESHOLD)
                              & (out["tri_grams"] >= MIN_GRAMS_FOR_PPL))
    out.update(rules)
    return out
