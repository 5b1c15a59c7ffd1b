"""Freeze the single-node oracle's outputs for the 4 non-SQL-expressible
driver queries (langid / keep_drop / lang_histogram / lang_spans) as
parquet fixtures that DuckDB can read back.

VERDICT r4 item #3: the driver's correctness gate runs oracle_sql() in
DuckDB; langid is not SQL-expressible, so those queries were rows-only.
With these fixtures the oracle becomes `SELECT ... FROM read_parquet(
'<repo>/tests/data/expected_*.parquet')`: the driver then hash-compares
the Spark result against the FROZEN single-node truth (pipeline/oracle.py,
which runs the same kernels via plain pandas/NumPy — the FIXTURES.md §4
label oracle), turning all 4 rows into full rows+schema+hash checks.

The fixtures are frozen at sf0.01 — the scale the driver's correctness
gate runs at. `tests/test_frozen_fixture.py` regenerates them in a temp
dir each run and asserts byte-level equality with the checked-in files,
so a kernel change that shifts any label fails CI until the fixtures are
intentionally re-frozen with:

    python tools/freeze_expected.py /root/testdata/sf0.01 tests/data

Determinism: every value is a pure function of the input parquet (no
timestamps, no RNG); detect_batch/analyze_batch are row-independent, so
single-node (one batch) and Spark (many Arrow batches) produce
bit-identical doubles — the driver's exact value hash relies on this.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the driver queries' tokenizer training parameters, so each fixture
# trains on exactly what its query trains on
from __spark_entry__ import (BPE_NUM_MERGES, TOK_MAX_WORDS,  # noqa: E402
                             TOK_MIN_COUNT, UNI_N_ITERS, UNI_VOCAB_SIZE,
                             WP_NUM_MERGES)

LANGID_FILE = "expected_langid_sf0_01.parquet"
KEEP_DROP_FILE = "expected_keep_drop_sf0_01.parquet"
SPANS_FILE = "expected_spans_sf0_01.parquet"
MEDIA_FEATURES_FILE = "expected_media_features_sf0_01.parquet"
JPEG_FEATURES_FILE = "expected_jpeg_features_sf0_01.parquet"
JPEG_COLOR_FILE = "expected_jpeg_color_sf0_01.parquet"
VIDEO_FEATURES_FILE = "expected_video_features_sf0_01.parquet"
COMPRESSION_FILE = "expected_compression_sf0_01.parquet"
THUMBS_FILE = "expected_thumbs_sf0_01.parquet"
BPE_MERGES_FILE = "expected_bpe_merges_sf0_01.parquet"
BPE_ENCODE_FILE = "expected_bpe_encode_sf0_01.parquet"
UNI_VOCAB_FILE = "expected_unigram_vocab_sf0_01.parquet"
UNI_ENCODE_FILE = "expected_unigram_encode_sf0_01.parquet"
UNI_MAX_PIECE = 5
UNI_SEED_MIN = 2
WP_VOCAB_FILE = "expected_wordpiece_vocab_sf0_01.parquet"
WP_ENCODE_FILE = "expected_wordpiece_encode_sf0_01.parquet"

_LANGID_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("lang1", pa.string()), ("pct1", pa.int32()),
    ("is_reliable", pa.bool_()),
])
_KEEP_DROP_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("lang1", pa.string()), ("pct1", pa.int32()), ("rel1", pa.int32()),
    ("is_reliable", pa.bool_()), ("ft_lang", pa.string()),
    ("ppl", pa.float64()), ("keep", pa.bool_()),
    ("drop_reason", pa.string()), ("scrubbed_text", pa.string()),
])
_SPANS_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("span_idx", pa.int32()), ("off", pa.int32()), ("len", pa.int32()),
    ("off_b", pa.int32()), ("len_b", pa.int32()), ("lang", pa.string()),
])


def load_transcripts(sf_dir: str) -> pd.DataFrame:
    """The same transcripts view the driver queries, materialized via
    DuckDB (deterministic column arithmetic — identical rows to Spark)."""
    from cld2_spark.sources.transcripts import transcripts_view_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    tr = con.execute(transcripts_view_sql("duckdb", "documents")).df()
    con.close()
    return tr.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def compute_fixtures(sf_dir: str) -> dict[str, pa.Table]:
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model
    from cld2_spark.pipeline.oracle import oracle_labels

    tr = load_transcripts(sf_dir)
    texts = tr["text"].fillna("").tolist()
    model = default_model()

    # langid: the detect_summary_udf surface (summary_lang as the answer)
    det = detect_batch(texts, model)
    langid = pa.table({
        "conv_id": tr["conv_id"], "turn_idx": tr["turn_idx"],
        "lang1": det["summary_lang"], "pct1": det["pct1"],
        "is_reliable": det["is_reliable"],
    }, schema=_LANGID_SCHEMA)

    # keep_drop: the full pipeline verdict (analyze path incl. bestEffort
    # rescue + cross-check + perplexity + rules + scrub + decision)
    lab = oracle_labels(tr)
    keep_drop = pa.table(
        {c: lab[c] for c in _KEEP_DROP_SCHEMA.names},
        schema=_KEEP_DROP_SCHEMA)

    # lang_spans: the W4 chunk vector, exploded to one row per span with
    # a per-turn span_idx (rows with zero spans are simply absent, the
    # same shape posexplode produces on the Spark side)
    res = detect_batch(texts, model, return_spans=True)
    rid = np.asarray(res["span_rid"])
    order = np.argsort(rid, kind="stable")  # stable: keeps per-row order
    srid = rid[order]
    # span_idx = position within the row's span list
    starts = np.searchsorted(srid, srid)
    span_idx = np.arange(len(srid)) - starts
    spans = pa.table({
        "conv_id": tr["conv_id"].to_numpy()[srid],
        "turn_idx": tr["turn_idx"].to_numpy()[srid],
        "span_idx": span_idx,
        "off": res["span_off"][order], "len": res["span_len"][order],
        "off_b": res["span_off_b"][order], "len_b": res["span_len_b"][order],
        "lang": res["span_lang"][order],
    }, schema=_SPANS_SCHEMA)

    return {LANGID_FILE: langid, KEEP_DROP_FILE: keep_drop,
            SPANS_FILE: spans,
            MEDIA_FEATURES_FILE: _media_features_fixture(sf_dir),
            JPEG_FEATURES_FILE: _jpeg_features_fixture(sf_dir),
            JPEG_COLOR_FILE: _jpeg_color_fixture(sf_dir),
            VIDEO_FEATURES_FILE: _video_features_fixture(sf_dir),
            COMPRESSION_FILE: _compression_ratio_fixture(sf_dir),
            THUMBS_FILE: _thumbnails_fixture(sf_dir),
            **_bpe_fixtures(sf_dir),
            **_unigram_fixtures(sf_dir),
            **_wordpiece_fixtures(sf_dir)}


def _bpe_fixtures(sf_dir: str) -> dict[str, pa.Table]:
    """Expected `bpe_merges` + `bpe_encode` rows via an INDEPENDENT
    single-node BPE (plain Counter loops — written against the spec in
    operators/tokenizer.py's docstring, not by importing it), so the
    frozen truth is a genuine second implementation of the algorithm,
    not a re-run of the Spark UDF code path."""
    import hashlib
    import re
    from collections import Counter

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet("
        f"'{sf_dir}/documents.parquet') ORDER BY doc_id").fetchall()
    con.close()

    ws = re.compile(r"[ \t\n\r\f]+")
    counts: Counter = Counter()
    for _, text in rows:
        counts.update(w for w in ws.split(text or "") if w)
    hist = sorted(((w, c) for w, c in counts.items() if c >= TOK_MIN_COUNT),
                  key=lambda kv: (-kv[1], kv[0]))[:TOK_MAX_WORDS]

    def apply_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    vocab = [(list(w), c) for w, c in hist]
    merges: list[tuple[str, str]] = []
    for _ in range(BPE_NUM_MERGES):
        pc: Counter = Counter()
        for syms, c in vocab:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = [(apply_merge(s, *best), c) for s, c in vocab]

    merges_tbl = pa.table({
        "rank": pa.array(range(len(merges)), type=pa.int32()),
        "left": pa.array([a for a, _ in merges], type=pa.string()),
        "right": pa.array([b for _, b in merges], type=pa.string()),
        "merged": pa.array([a + b for a, b in merges], type=pa.string()),
    })

    ranks = {p: i for i, p in enumerate(merges)}

    def enc_word(word):
        syms = list(word)
        while len(syms) > 1:
            ranked = [(ranks[(a, b)], (a, b)) for a, b in zip(syms, syms[1:])
                      if (a, b) in ranks]
            if not ranked:
                break
            syms = apply_merge(syms, *min(ranked)[1])
        return syms

    ids, n_tok, ppw, th = [], [], [], []
    for did, text in rows:
        words = [w for w in ws.split(text or "") if w]
        pieces: list[str] = []
        for w in words:
            pieces.extend(enc_word(w))
        ids.append(int(did))
        n_tok.append(len(pieces))
        ppw.append(len(pieces) * 100 // len(words) if words else 0)
        th.append(hashlib.md5(" ".join(pieces).encode("utf-8")).hexdigest())
    enc_tbl = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "n_tokens": pa.array(n_tok, type=pa.int64()),
        "n_pieces_per_100_words": pa.array(ppw, type=pa.int64()),
        "tok_hash": pa.array(th, type=pa.string()),
    })
    return {BPE_MERGES_FILE: merges_tbl, BPE_ENCODE_FILE: enc_tbl}


def _wordpiece_fixtures(sf_dir: str) -> dict[str, pa.Table]:
    """Expected `wordpiece_vocab` + `wordpiece_encode` rows via an
    INDEPENDENT single-node WordPiece (plain Counter loops written
    against the spec in operators/tokenizer.py's WordPiece section, not
    by importing it). The merge criterion pc/(ca*cb) is compared by
    integer cross multiplication, so the two implementations must agree
    bit-for-bit."""
    import hashlib
    import re
    from collections import Counter
    from fractions import Fraction

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet("
        f"'{sf_dir}/documents.parquet') ORDER BY doc_id").fetchall()
    con.close()

    ws = re.compile(r"[ \t\n\r\f]+")
    wc: Counter = Counter()
    for _, text in rows:
        wc.update(w for w in ws.split(text or "") if w)
    hist = sorted(((w, c) for w, c in wc.items() if c >= TOK_MIN_COUNT),
                  key=lambda kv: (-kv[1], kv[0]))[:TOK_MAX_WORDS]

    vocab = [([w[0]] + ["##" + ch for ch in w[1:]], c) for w, c in hist]
    alphabet = {s for syms, _ in vocab for s in syms}
    merged_tokens: list[str] = []
    for _ in range(WP_NUM_MERGES):
        sc: Counter = Counter()
        pc: Counter = Counter()
        for syms, c in vocab:
            for s in syms:
                sc[s] += c
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        # Fraction is exact rational arithmetic == the cross-multiplied
        # integer compare in the Spark-side trainer
        best = min(pc.items(),
                   key=lambda kv: (-Fraction(kv[1],
                                             sc[kv[0][0]] * sc[kv[0][1]]),
                                   kv[0]))[0]
        a, b = best
        merged = a + b[2:]
        merged_tokens.append(merged)

        def mrg(syms):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        vocab = [(mrg(s), c) for s, c in vocab]

    fvocab = set(alphabet)
    for syms, _ in vocab:
        fvocab.update(syms)
    mp = max((len(p) for p in fvocab), default=1)

    vocab_tbl = pa.table({
        "rank": pa.array(range(len(merged_tokens)), type=pa.int32()),
        "token": pa.array(merged_tokens, type=pa.string()),
    })

    def enc_word(word):
        pieces, i, n = [], 0, len(word)
        while i < n:
            j = min(n, i + mp)
            while j > i:
                cand = word[i:j] if i == 0 else "##" + word[i:j]
                if cand in fvocab:
                    pieces.append(cand)
                    break
                j -= 1
            else:
                return ["[UNK]"]
            i = j
        return pieces

    ids, n_tok, ppw, th = [], [], [], []
    for did, text in rows:
        words = [w for w in ws.split(text or "") if w]
        pieces: list[str] = []
        for w in words:
            pieces.extend(enc_word(w))
        ids.append(int(did))
        n_tok.append(len(pieces))
        ppw.append(len(pieces) * 100 // len(words) if words else 0)
        th.append(hashlib.md5(" ".join(pieces).encode("utf-8")).hexdigest())
    enc_tbl = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "n_tokens": pa.array(n_tok, type=pa.int64()),
        "n_pieces_per_100_words": pa.array(ppw, type=pa.int64()),
        "tok_hash": pa.array(th, type=pa.string()),
    })
    return {WP_VOCAB_FILE: vocab_tbl, WP_ENCODE_FILE: enc_tbl}


def _unigram_fixtures(sf_dir: str) -> dict[str, pa.Table]:
    """Expected `unigram_vocab` + `unigram_encode` rows via an
    INDEPENDENT single-node implementation of the unigram hard-EM spec
    (operators/tokenizer.py docstring) — plain dict/loop code written
    against the spec, not imported. All arithmetic is exact big-int, so
    the two implementations must agree bit-for-bit."""
    import hashlib
    import re
    from collections import Counter

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet("
        f"'{sf_dir}/documents.parquet') ORDER BY doc_id").fetchall()
    con.close()

    ws = re.compile(r"[ \t\n\r\f]+")
    wc: Counter = Counter()
    for _, text in rows:
        wc.update(w for w in ws.split(text or "") if w)
    hist = sorted(((w, c) for w, c in wc.items() if c >= TOK_MIN_COUNT),
                  key=lambda kv: (-kv[1], kv[0]))[:TOK_MAX_WORDS]

    def better(a, b, total):
        left, right = a[0] * total ** b[1], b[0] * total ** a[1]
        if left != right:
            return left > right
        if a[1] != b[1]:
            return a[1] < b[1]
        return a[2] < b[2]

    def viterbi(word, counts, total):
        n = len(word)
        dp = [None] * (n + 1)
        dp[0] = (1, 0, ())
        for i in range(1, n + 1):
            best = None
            for j in range(max(0, i - UNI_MAX_PIECE), i):
                if dp[j] is None:
                    continue
                piece = word[j:i]
                c = counts.get(piece)
                if not c:
                    continue
                cand = (dp[j][0] * c, dp[j][1] + 1, dp[j][2] + (piece,))
                if best is None or better(cand, best, total):
                    best = cand
            dp[i] = best
        return dp[n][2] if dp[n] is not None else tuple(word)

    chars = {w[i] for w, _ in hist for i in range(len(w))}
    counts: dict = {}
    for w, c in hist:
        for i in range(len(w)):
            for ln in range(1, min(UNI_MAX_PIECE, len(w) - i) + 1):
                piece = w[i:i + ln]
                counts[piece] = counts.get(piece, 0) + c
    counts = {p: c for p, c in counts.items()
              if c >= UNI_SEED_MIN or len(p) == 1}
    counts = dict(sorted(counts.items(),
                         key=lambda kv: (-kv[1], kv[0]))[:4 * UNI_VOCAB_SIZE])
    for ch in chars:
        counts.setdefault(ch, 1)
    for _ in range(UNI_N_ITERS):
        total = sum(counts.values())
        new: dict = {}
        for w, c in hist:
            for piece in viterbi(w, counts, total):
                new[piece] = new.get(piece, 0) + c
        counts = dict(sorted(new.items(),
                             key=lambda kv: (-kv[1], kv[0]))[:UNI_VOCAB_SIZE])
        for ch in chars:
            counts.setdefault(ch, 1)

    vrows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab_tbl = pa.table({
        "piece": pa.array([p for p, _ in vrows], type=pa.string()),
        "cnt": pa.array([int(c) for _, c in vrows], type=pa.int64()),
    })

    total = sum(counts.values())
    memo: dict = {}
    ids, n_tok, ppw, th = [], [], [], []
    for did, text in rows:
        words = [w for w in ws.split(text or "") if w]
        pieces: list[str] = []
        for w in words:
            got = memo.get(w)
            if got is None:
                got = memo[w] = viterbi(w, counts, total)
            pieces.extend(got)
        ids.append(int(did))
        n_tok.append(len(pieces))
        ppw.append(len(pieces) * 100 // len(words) if words else 0)
        th.append(hashlib.md5(" ".join(pieces).encode("utf-8")).hexdigest())
    enc_tbl = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "n_tokens": pa.array(n_tok, type=pa.int64()),
        "n_pieces_per_100_words": pa.array(ppw, type=pa.int64()),
        "tok_hash": pa.array(th, type=pa.string()),
    })
    return {UNI_VOCAB_FILE: vocab_tbl, UNI_ENCODE_FILE: enc_tbl}


def _doc_ids(sf_dir: str) -> np.ndarray:
    """The documents table's doc_ids, ascending, as int64."""
    con = duckdb.connect()
    ids = con.execute(
        "SELECT doc_id FROM read_parquet("
        f"'{sf_dir}/documents.parquet') ORDER BY doc_id").df()["doc_id"]
    con.close()
    return ids.to_numpy(np.int64)


def _int64_table(ids: np.ndarray, names: list[str],
                 rows: np.ndarray) -> pa.Table:
    """media_id, then one int64 column per name from the columns of
    the (len(ids), len(names)) matrix `rows`."""
    cols = {"media_id": pa.array(ids, type=pa.int64())}
    for i, name in enumerate(names):
        cols[name] = pa.array(rows[:, i], type=pa.int64())
    return pa.table(cols)


def _video_features_fixture(sf_dir: str) -> pa.Table:
    """Expected `video_features` rows: doc_id -> MJPEG-in-MP4 fixture
    (2-4 baseline-JPEG frames, two-chunk sample table) -> sample-table
    resolution + per-frame entropy decode + integer-exact reduction
    (incl. inter-frame motion sum), run single-node."""
    from cld2_spark.operators.multimodal import (encode_mjpeg_mp4_fixture,
                                                 mjpeg_video_features)

    ids = _doc_ids(sf_dir)
    names = ["n_frames", "width", "height", "px_sum", "px_sumsq",
             "px_min", "px_max", "motion"]
    rows = np.zeros((len(ids), len(names)), dtype=np.int64)
    for j, did in enumerate(ids):
        buf = encode_mjpeg_mp4_fixture(int(did), 2 + int(did) % 3)
        rows[j] = mjpeg_video_features(buf)
    return _int64_table(ids, names, rows)


def _jpeg_color_fixture(sf_dir: str) -> pa.Table:
    """Expected `jpeg_color_features` rows: doc_id -> RGB fixture ->
    baseline 4:4:4 color JPEG encode -> independent decode (interleaved
    MCUs, chroma tables, YCbCr->RGB) -> integer-exact per-channel
    features, run single-node."""
    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_411,
                                           encode_jpeg_420,
                                           encode_jpeg_422,
                                           encode_jpeg_color,
                                           jpeg_color_features)

    ids = _doc_ids(sf_dir)
    names = ["width", "height", "r_sum", "r_min", "r_max",
             "g_sum", "g_min", "g_max", "b_sum", "b_min", "b_max"]
    rows = np.zeros((len(ids), len(names)), dtype=np.int64)
    # mirror of _q_jpeg_color_features' rotation: ids = 0 mod 6 are
    # progressive 4:4:4 in the QUERY but frozen here via the baseline
    # 4:4:4 path (progressive decode == baseline decode EXACTLY, pinned
    # in pytest — so the driver hash proves the equivalence); ids = 5
    # mod 12 are 4:1:1.
    encs = (encode_jpeg_color, encode_jpeg_420, encode_jpeg_422)
    for j, did in enumerate(ids):
        did = int(did)
        enc = encode_jpeg_411 if did % 12 == 5 else encs[did % 3]
        px = decode_jpeg_color(enc(color_fixture_pixels(did)))
        rows[j] = jpeg_color_features(px)
    return _int64_table(ids, names, rows)


def _jpeg_features_fixture(sf_dir: str) -> pa.Table:
    """Expected `jpeg_features` rows: doc_id -> grayscale fixture image
    -> REAL baseline-JPEG encode -> REAL entropy-decode + IDCT ->
    integer-exact features, run single-node. All columns are int64
    (counts/sums of uint8 pixels), so the driver's exact value hash has
    no float convention to match."""
    from cld2_spark.operators.jpeg import (decode_jpeg_gray,
                                           encode_jpeg_gray,
                                           gray_fixture_pixels,
                                           jpeg_gray_features)

    ids = _doc_ids(sf_dir)
    names = ["width", "height", "px_sum", "px_sumsq", "px_min",
             "px_max", "h0", "h1", "h2", "h3"]
    rows = np.zeros((len(ids), len(names)), dtype=np.int64)
    for j, did in enumerate(ids):
        px = decode_jpeg_gray(encode_jpeg_gray(gray_fixture_pixels(int(did))))
        rows[j] = jpeg_gray_features(px)
    return _int64_table(ids, names, rows)


def _media_features_fixture(sf_dir: str) -> pa.Table:
    """Expected `media_features` rows: the driver query's deterministic
    doc_id -> PNG -> decode -> 16-dim feature path, run single-node.
    float32 features are stored raw (bit-identical to the Spark side —
    same numpy kernel, row-independent), so the driver's exact value
    hash matches without any rounding convention."""
    from cld2_spark.operators.multimodal import (encode_png_pixels,
                                                 feature_pixels,
                                                 png_pixel_features)

    ids = _doc_ids(sf_dir)
    feats = np.zeros((len(ids), 16), dtype=np.float32)
    n_bytes = np.zeros(len(ids), dtype=np.int64)
    for j, did in enumerate(ids):
        px = feature_pixels(did)
        n_bytes[j] = len(encode_png_pixels(px, filter_type=int(did) % 5))
        feats[j] = png_pixel_features(px)
    cols = {"media_id": pa.array(ids, type=pa.int64()),
            "n_bytes": pa.array(n_bytes, type=pa.int64())}
    for i in range(16):
        cols[f"f{i}"] = pa.array(feats[:, i], type=pa.float32())
    return pa.table(cols)



def _compression_ratio_fixture(sf_dir: str) -> pa.Table:
    """Expected `compression_ratio` rows: the same zlib level-6 per-doc
    compressed length, run single-node (zlib output is a deterministic
    function of input bytes + level for the pinned library — the same
    contract the PNG fixture encoder already relies on)."""
    import zlib

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet("
        f"'{sf_dir}/documents.parquet') ORDER BY doc_id").fetchall()
    con.close()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    n_raw = np.array([len((r[1] or "").encode("utf-8")) for r in rows],
                     dtype=np.int64)
    n_comp = np.array(
        [len(zlib.compress((r[1] or "").encode("utf-8"), 6))
         if r[1] else 0 for r in rows], dtype=np.int64)
    ratio = np.where(n_raw == 0, 0, n_comp * 1_000_000 // np.maximum(n_raw, 1))
    return pa.table({"doc_id": pa.array(ids), "n_raw": pa.array(n_raw),
                     "n_comp": pa.array(n_comp),
                     "ratio_ppm": pa.array(ratio.astype(np.int64))})


def _thumbnails_fixture(sf_dir: str) -> pa.Table:
    """Expected `image_thumbnails` rows: doc_id -> deterministic RGB
    pixels -> real PNG encode -> REAL decode -> exact integer 8x8 box
    resize (integral image, floor means), run single-node."""
    from cld2_spark.operators.multimodal import (box_resize_luma,
                                                 decode_png_pixels,
                                                 encode_png_pixels,
                                                 feature_pixels)

    ids = _doc_ids(sf_dir)
    mids, ws, hs, thumbs = [], [], [], []
    for did in ids:
        px = feature_pixels(int(did))
        dec = decode_png_pixels(encode_png_pixels(px,
                                                  filter_type=int(did) % 5))
        t = box_resize_luma(dec, 8, 8)
        mids.append(int(did))
        ws.append(dec.shape[1])
        hs.append(dec.shape[0])
        thumbs.append([int(x) for x in t.reshape(-1)])
    return pa.table({
        "media_id": pa.array(mids, type=pa.int64()),
        "width": pa.array(ws, type=pa.int64()),
        "height": pa.array(hs, type=pa.int64()),
        "thumb": pa.array(thumbs, type=pa.list_(pa.int64()))})


def write_fixtures(sf_dir: str, out_dir: str) -> dict[str, int]:
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    counts = {}
    for fname, table in compute_fixtures(sf_dir).items():
        pq.write_table(table, out / fname, compression="zstd")
        counts[fname] = table.num_rows
    return counts


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    dest = sys.argv[2] if len(sys.argv) > 2 else str(REPO / "tests" / "data")
    for f, n in write_fixtures(sf, dest).items():
        print(f"{f}: {n} rows")
