"""Vectorized batch text normalization for the langid kernels.

Replaces CLD2's ScriptScanner byte-level scan loop
(GetOneScriptSpan, reference internal/getonescriptspan.cc:799-1027) with
whole-batch NumPy array ops: the batch's texts are joined once, decoded to a
flat uint32 codepoint array, classified per char (script / letter /
lowercase) via the lookup tables in unicode_tables.py, and carried around as
struct-of-arrays -- the same SoA decomposition CLD2 uses for its hit buffers
(internal/scoreonescriptspan.h:196-203), lifted to batch granularity.

Spans are never materialized as objects: every downstream operator works on
(codepoint, row_id, script, letter) parallel arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import unicode_tables as ut

SPACE = np.uint32(32)
REPLACEMENT_CHAR = 0xFFFD
TEXT_LIMIT = 160 * 1024  # chars scored per row (CLD2 text limit, K4)


@dataclass
class NormBatch:
    """Struct-of-arrays view of one batch of texts."""

    n: int                # number of rows
    cp: np.ndarray        # uint32 codepoints (joined; 1 leading + 1 trailing space per row)
    rid: np.ndarray       # int32 row id per codepoint
    u8len: np.ndarray     # int8 UTF-8 byte length per codepoint
    script: np.ndarray    # uint8 script id per codepoint
    letter: np.ndarray    # bool is-letter per codepoint
    lower: np.ndarray     # uint32 lowercased codepoint
    text_bytes: np.ndarray  # int64 UTF-8 byte length per row (original text)
    has_replacement: np.ndarray  # bool per row: contains U+FFFD (bad UTF-8 marker)


def normalize_batch(texts: list[str]) -> NormBatch:
    """Join a batch, decode to codepoints, classify each char.

    Each text is wrapped in single spaces so words never span rows and the
    quad hasher's pre/post-space sensing (internal/cldutil_shared.cc:192-202)
    works at text edges without branches.
    """
    n = len(texts)
    script_t, letter_t, lower_t = ut.tables()
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return NormBatch(n=0, cp=z.astype(np.uint32), rid=z.astype(np.int32),
                         u8len=z.astype(np.int8), script=z.astype(np.uint8),
                         letter=z.astype(bool), lower=z.astype(np.uint32),
                         text_bytes=z, has_replacement=z.astype(bool))
    # CLD2 scans at most ~160KB of text per document (FLAGS_cld_textlimit,
    # internal/compact_lang_det_impl.cc:192,1811-1812); the cap also bounds
    # every per-row accumulator to int32 range
    lens = np.fromiter(map(len, texts), count=n, dtype=np.int64)
    over = np.flatnonzero(lens > TEXT_LIMIT)
    if len(over):
        texts = list(texts)
        for i in over.tolist():
            texts[i] = texts[i][:TEXT_LIMIT]
        np.minimum(lens, TEXT_LIMIT, out=lens)
    joined = " " + " ".join(texts) + " "
    cp = ut.codepoints_of(joined)

    # layout: ' ' t0 ' ' t1 ' ' ... tn-1 ' '  -> leading space owned by
    # row 0, so row 0's repeat count is lens[0] + 2 (one allocation, no
    # concatenate copy)
    counts = lens + 1
    counts[0] += 1
    rid = np.repeat(np.arange(n, dtype=np.int32), counts)

    cp_c = np.minimum(cp, ut.MAX_CP - 1)
    script = script_t[cp_c]
    letter = letter_t[cp_c] & (cp < ut.MAX_CP)
    # in-place masked fill instead of where(...).astype: one gather, no
    # temporary float/int copies
    lower = lower_t[cp_c]
    lower[~letter] = SPACE

    # per-row UTF-8 byte counts of the original text. Multi-byte chars are
    # the sparse case in transcript corpora, so count them through small
    # index arrays instead of a float-weighted bincount over every char
    # (bincount weights go through float64; this stays integer end-to-end)
    u8len = (1 + (cp > 0x7F).astype(np.int8) + (cp > 0x7FF) + (cp > 0xFFFF)).astype(np.int8)
    tb = lens.copy()  # wrapper spaces excluded by construction
    for thresh in (0x7F, 0x7FF, 0xFFFF):
        extra = np.flatnonzero(cp > thresh)
        if len(extra) == 0:
            break
        tb += np.bincount(rid[extra], minlength=n).astype(np.int64)

    bad = cp == REPLACEMENT_CHAR
    repl = (np.bincount(rid[bad], minlength=n) > 0) if bad.any() \
        else np.zeros(n, dtype=bool)

    return NormBatch(n=n, cp=cp, rid=rid, u8len=u8len, script=script,
                     letter=letter, lower=lower, text_bytes=tb,
                     has_replacement=repl)


def present_scripts(nb: NormBatch) -> np.ndarray:
    """Script ids with at least one letter in the batch, ascending (an O(n)
    presence bincount instead of np.unique's sort over a copy)."""
    if not nb.n:
        return np.array([], dtype=np.uint8)
    return np.flatnonzero(np.bincount(nb.script, weights=nb.letter) > 0)


def letter_stream(nb: NormBatch, script_ids: np.ndarray):
    """Compress the batch to the letters of `script_ids` + single-space
    separators.

    Equivalent to CLD2's per-scriptspan letter stream ("collapse non-letters
    to single space", internal/getonescriptspan.cc:799-1027) but computed for
    a whole batch in one pass. Returns (codepoints, row ids, script ids,
    positions in nb.cp) per kept char; the positions are the OffsetMap
    analogue (internal/offsetmap.h:25-45) that maps chunk spans back to the
    source text. The stream always starts with a space and every row
    boundary is a space, so grams never cross rows.
    """
    if len(nb.cp) == 0:
        e = np.zeros(0, dtype=np.uint32)
        return e, nb.rid, nb.script, e.astype(np.int32)
    lut = np.zeros(ut.N_SCRIPTS, dtype=bool)
    lut[script_ids] = True
    arr = np.where(nb.letter & lut[nb.script], nb.lower, SPACE)
    is_sp = arr == SPACE
    keep = np.ones(len(arr), dtype=bool)  # position 0: the leading space
    keep[1:] = ~(is_sp[1:] & is_sp[:-1])
    orig = np.flatnonzero(keep).astype(np.int32)
    return arr[keep], nb.rid[keep], nb.script[keep], orig


def utf8_offsets(arr: np.ndarray) -> np.ndarray:
    """Byte offset of each codepoint (plus final end offset) when `arr` is
    encoded as UTF-8. Shape: len(arr) + 1."""
    u8len = (1 + (arr > 0x7F).astype(np.int32) + (arr > 0x7FF) + (arr > 0xFFFF))
    out = np.empty(len(arr) + 1, dtype=np.int32)
    out[0] = 0
    np.cumsum(u8len, out=out[1:])
    return out


def encode_utf8(arr: np.ndarray) -> np.ndarray:
    """Encode a codepoint array to a padded uint8 UTF-8 buffer (one C-level
    round-trip through str; no per-row Python)."""
    s = arr.astype("<u4").tobytes()
    text = s.decode("utf-32-le")
    raw = text.encode("utf-8")
    buf = np.frombuffer(raw, dtype=np.uint8)
    return np.concatenate([buf, np.zeros(32, dtype=np.uint8)])


def take_rows(rid: np.ndarray, rows: np.ndarray, lead: int = 0):
    """The indices of `rows`' entries (ascending) in an array whose row ids
    `rid` ascend, and their new row ids. Each row's entries are one
    contiguous run, so this costs O(selected), not a pass over `rid`.
    lead=1 puts index 0 first, owned by the new row 0: in NormBatch.cp
    that is the leading space, which belongs to row 0 and must start
    every batch."""
    lo = np.searchsorted(rid, rows)
    length = np.searchsorted(rid, rows + 1) - lo
    idx = (np.repeat(lo - (np.cumsum(length) - length), length)
           + np.arange(int(length.sum())))
    new_rid = np.repeat(np.arange(len(rows), dtype=np.int32), length)
    if lead:
        idx = np.concatenate(([0], idx))
        new_rid = np.concatenate((np.zeros(1, dtype=np.int32), new_rid))
    return idx, new_rid


def subset_norm_batch(nb: NormBatch, rows: np.ndarray) -> NormBatch:
    """Row-subset of a NormBatch, equal to normalize_batch of the subset
    texts (used by detect.GramStream.select).

    Why equality holds: the joined stream is ' ' t0 ' ' t1 ' ' ... with
    each row owning its chars + ONE trailing space (row 0 additionally
    owns the global leading space), so keeping the rows' positions
    preserves every per-row segment verbatim and every row boundary
    remains a single space. The only repair needed: when row 0 is not in
    the subset, the stream lost its global leading space -- the new first
    row takes row 0's (exactly what normalize_batch emits).

    `rows` must be sorted ascending (np.flatnonzero order).
    """
    kidx, rid = take_rows(nb.rid, rows, int(len(rows) > 0 and rows[0] != 0))
    return NormBatch(n=len(rows), cp=nb.cp[kidx], rid=rid,
                     u8len=nb.u8len[kidx], script=nb.script[kidx],
                     letter=nb.letter[kidx], lower=nb.lower[kidx],
                     text_bytes=nb.text_bytes[rows],
                     has_replacement=nb.has_replacement[rows])
