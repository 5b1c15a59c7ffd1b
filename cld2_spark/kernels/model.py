"""Scoring model: broadcastable NumPy lookup tables (CLD2's ScoringTables).

Physical layout mirrors the reference's hash tables
(internal/cld2tablesummary.h:27-49): 4-way associative buckets probed with
subscr = (h + (h >> 12)) & (n_buckets - 1) (internal/cldutil_shared.h:380-425).
We store the full 32-bit gram hash as the slot key (the reference compresses
to 16 bits for large tables; keeping 32 eliminates false hits) and, per slot,
up to 3 (language, quantized-log-prob) pairs -- the payload CLD2 packs into a
`langprob` uint32 (internal/scoreonescriptspan.h:67-68, decode table
kLgProbV2Tbl at internal/cldutil_shared.h:42-308). Quantization unit matches
the reference: one step = a factor of 2**1.6 (~3.03), values 1..12.

The whole model serializes to one .npz so Spark executors can lazily load it
from SparkFiles / a broadcast variable (reference analogue: "dynamic mode"
flat-file model, public/compact_lang_det.h:382-425).
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field

import numpy as np

LOG_UNIT = 1.6 * np.log(2.0)  # one qprob step = factor 2**1.6 (ref qprob algebra)
MAX_QPROB = 12
SLOTS = 4  # 4-way associative buckets (internal/cld2tablesummary.h:27-31)


@dataclass
class GramTable:
    """One 4-way-associative gram-hash table (quadgram or CJK unigram)."""

    keys: np.ndarray     # (n_buckets, 4) uint32, 0 = empty
    langs: np.ndarray    # (n_buckets, 4, 3) uint8 -- *global* lang ids (255 = none)
    qprobs: np.ndarray   # (n_buckets, 4, 3) uint8 -- 0 = none

    @property
    def n_buckets(self) -> int:
        return self.keys.shape[0]

    def probe(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Vectorized 4-way probe: hash array -> (found, langs3, qprobs3).

        This is the broadcast-hash-join of n-gram facts against the model
        dimension (SURVEY.md J1), executed as pure gathers + compares.
        """
        h32 = h.astype(np.uint32)
        sub = ((h32 + (h32 >> np.uint32(12))) & np.uint32(self.n_buckets - 1)).astype(np.int64)
        keys4 = self.keys[sub]                      # (n, 4)
        match = keys4 == h32[:, None]
        # a (n,4) bool row is 4 contiguous bytes: one uint32 view + compare
        # replaces the axis-1 any() reduction (~3x on the probe hot path)
        found = match.view(np.uint32).ravel() != 0
        # slot gathers only for HITS: miss rates run 85%+ on unseen text,
        # so dense (n, 3) gathers wasted most of their bandwidth; misses
        # carry (255, 0) = the no-language/no-vote encoding every consumer
        # already masks on
        n = len(h32)
        langs3 = np.full((n, 3), 255, dtype=np.uint8)
        qprobs3 = np.zeros((n, 3), dtype=np.uint8)
        idx = np.flatnonzero(found)
        if len(idx):
            slot = np.argmax(match[idx], axis=1)
            langs3[idx] = self.langs[sub[idx], slot]
            qprobs3[idx] = self.qprobs[sub[idx], slot]
        return found, langs3, qprobs3

    @staticmethod
    def build(counts: dict[int, dict[int, float]], lang_totals: dict[int, float],
              min_count: float = 1.0, shrink: float = 0.0) -> "GramTable":
        """Build from {gram_hash: {global_lang_id: count}}.

        Per gram, keep top-3 languages by rate c/T_lang; the best gets
        qprob 12, others step down one unit per 2**1.6 rate ratio
        (mirroring the reference's quantized log-prob packing, MakeLangProb
        internal/cldutil.cc:610-614).

        shrink > 0 applies count-shrinkage c/(c+shrink) to the rate before
        ranking: a count-1 fluke no longer ties a count-5 regular at the
        same rate, which measurably helps held-out short-text ranking
        (+1 case at shrink=1 on the quad tables; the margins the qprob
        quantization sees barely move for well-attested grams).
        """
        grams = {h: c for h, c in counts.items() if sum(c.values()) >= min_count and h != 0}
        n_buckets = 1 << max(6, int(np.ceil(np.log2(max(1, len(grams)) / 2.0))))
        keys = np.zeros((n_buckets, SLOTS), dtype=np.uint32)
        langs = np.full((n_buckets, SLOTS, 3), 255, dtype=np.uint8)
        qprobs = np.zeros((n_buckets, SLOTS, 3), dtype=np.uint8)
        fill = np.zeros(n_buckets, dtype=np.int8)
        weight = np.zeros((n_buckets, SLOTS), dtype=np.float64)

        for h, by_lang in grams.items():
            rates = sorted(
                (((c / (c + shrink) if shrink else 1.0)
                  * c / max(lang_totals.get(l, 1.0), 1.0), l)
                 for l, c in by_lang.items()),
                reverse=True,
            )[:3]
            best = rates[0][0]
            total = sum(by_lang.values())
            sub = ((h & 0xFFFFFFFF) + ((h & 0xFFFFFFFF) >> 12)) & (n_buckets - 1)
            if fill[sub] < SLOTS:
                s = fill[sub]
                fill[sub] += 1
            else:
                s = int(np.argmin(weight[sub]))
                if weight[sub, s] >= total:
                    continue  # keep the heavier gram
            keys[sub, s] = np.uint32(h)
            weight[sub, s] = total
            langs[sub, s, :] = 255
            qprobs[sub, s, :] = 0
            for j, (r, l) in enumerate(rates):
                q = MAX_QPROB - int(round(np.log(best / max(r, 1e-12)) / LOG_UNIT))
                if q < 1:
                    break
                langs[sub, s, j] = l
                qprobs[sub, s, j] = q
        return GramTable(keys=keys, langs=langs, qprobs=qprobs)


@dataclass
class RefTable:
    """A reference CLD2TableSummary loaded verbatim (keys + masked-key probe,
    internal/cldutil_shared.h:403-454), with the indirect->langprob chain
    pre-decoded into per-slot (global lang, qprob) arrays at build time.

    Per-script language numbers overlap between the Latin and non-Latin
    domains (MakeLangProb internal/cldutil.cc:610-614, FromPerScriptNumber
    internal/lang_script.cc:331-341), so each slot carries BOTH decodes;
    the caller picks by the script of the span being scored. A slot keeps
    up to 6 (lang, qprob) pairs (two langprobs for indirect >= SizeOne,
    internal/scoreonescriptspan.cc:936-964).
    """

    keys: np.ndarray        # (n, 4) uint32 raw keyvalue (0 = empty)
    keymask: int
    langs_latn: np.ndarray  # (n, 4, 6) uint8 global lang ids, 255 = none
    langs_othr: np.ndarray  # (n, 4, 6)
    qprobs: np.ndarray      # (n, 4, 6) uint8, 0 = none

    @property
    def n_buckets(self) -> int:
        return self.keys.shape[0]

    def _probe(self, sub: np.ndarray, hashkey: np.ndarray, latin: bool):
        mask = np.uint32(self.keymask)
        keys4 = self.keys[sub]                                   # (n, 4)
        match = ((hashkey[:, None] ^ keys4) & mask) == 0
        match &= keys4 != 0                                      # empty slot
        found = match.view(np.uint32).ravel() != 0  # axis-1 any(), viewed
        # slot gathers only for HITS (word-table miss rates measured ~99%
        # on transcripts -- the dense (n, 6) gathers were almost entirely
        # wasted); misses carry (255, 0), which every consumer masks on
        k = self.qprobs.shape[2]
        langs = np.full((len(sub), k), 255, dtype=np.uint8)
        qprobs = np.zeros((len(sub), k), dtype=np.uint8)
        idx = np.flatnonzero(found)
        if len(idx):
            slot = np.argmax(match[idx], axis=1)
            tbl = self.langs_latn if latin else self.langs_othr
            langs[idx] = tbl[sub[idx], slot]
            qprobs[idx] = self.qprobs[sub[idx], slot]
        return found, langs, qprobs

    def probe_quad(self, h32: np.ndarray, latin: bool):
        """32-bit gram probe (QuadHashV3Lookup4): subscr = (h+(h>>12))&(n-1),
        key = h & keymask."""
        h = h32.astype(np.uint32)
        sub = ((h + (h >> np.uint32(12))) & np.uint32(self.n_buckets - 1)).astype(np.int64)
        return self._probe(sub, h & np.uint32(self.keymask), latin)

    def probe_octa(self, h40: np.ndarray, latin: bool):
        """40-bit word probe (OctaHashV3Lookup4): subscr from the low 32
        bits, key = (h >> 4) & keymask."""
        h = h40.astype(np.uint64)
        low = (h + (h >> np.uint64(12))).astype(np.uint32)
        sub = (low & np.uint32(self.n_buckets - 1)).astype(np.int64)
        hashkey = (h >> np.uint64(4)).astype(np.uint32) & np.uint32(self.keymask)
        return self._probe(sub, hashkey, latin)


@dataclass
class UniTable:
    """CJK unigram table: sorted codepoints -> pre-decoded (lang, qprob)
    slots (the flattened cld_generated_CjkUni DFA + kCjkCompat indirects,
    internal/cld_generated_cjk_uni_prop_80.cc / cld2_generated_cjk_compatible.cc)."""

    cps: np.ndarray     # (m,) uint32 sorted
    langs: np.ndarray   # (m, 6) uint8 global lang ids, 255 = none
    qprobs: np.ndarray  # (m, 6) uint8

    def probe(self, cp: np.ndarray):
        i = np.searchsorted(self.cps, cp.astype(np.uint32))
        i = np.minimum(i, len(self.cps) - 1)
        found = self.cps[i] == cp
        langs = self.langs[i]
        qprobs = np.where(found[:, None], self.qprobs[i], 0)
        return found, langs, qprobs


@dataclass
class HintTables:
    """Lang-tag / TLD hint lookups (J8), parsed from the reference's
    kCLDLangTagsHintTable1/2 and kCLDTLDHintTable
    (internal/compact_lang_det_hint_code.cc:102-970). Values are lists of
    (global lang id, weight) priors; weight n means 3**n more likely."""

    tag_full: dict[str, list[tuple[int, int]]]   # full lang-tag strings
    tag_short: dict[str, list[tuple[int, int]]]  # truncated at first hyphen
    tld: dict[str, list[tuple[int, int]]]

    def lookup_tag(self, tag: str) -> list[tuple[int, int]]:
        """DoLangTagLookup: full string first, then hyphen-truncated
        (internal/compact_lang_det_hint_code.cc:1056-1091)."""
        tag = tag.strip().lower()
        hit = self.tag_full.get(tag)
        if hit:
            return hit
        return self.tag_short.get(tag.split("-", 1)[0], [])

    def lookup_tld(self, tld: str) -> list[tuple[int, int]]:
        tld = tld.strip().lower()
        if len(tld) > 3:
            return []  # SetCLDTLDHint ignores >3 letters
        return self.tld.get(tld, [])


@dataclass
class Cld2sModel:
    """The full detection model (all broadcast tables)."""

    langs: list[str]                       # global lang id -> ISO code
    group_tables: dict[str, GramTable]     # script name -> quadgram table
    expected_1kb: np.ndarray               # (n_langs,) int32 expected score per 1KB
    # J2 dual-lookup second tables (kQuad_obj2, GetQuadHits
    # internal/cldutil.cc:355-362), one per group table: probed on a
    # main-table miss. The reference uses table 2 as overflow space for odd
    # table sizes; ours is a prefix-trigram backoff trained on the same
    # split (documented deviation -- see detect.py).
    quad_backoff: dict[str, GramTable]
    tri: GramTable                         # trigram table (fastText cross-check)
    # Reference tables parsed from the checkout (tools/parse_reference_tables.py)
    ref_word_delta: RefTable               # kDeltaOcta_obj (J5)
    ref_word_distinct: RefTable            # kDistinctOcta_obj (J5/J6)
    ref_cjk_bi: RefTable                   # kCjkDeltaBi_obj (J4, BiHashV2)
    ref_cjk_uni: UniTable                  # CjkUni DFA + kCjkCompat (J3)
    # closest-alt merge targets for RemoveUnreliableLanguages (P7), global
    # lang ids, -1 = none (kClosestAltLanguage, compact_lang_det_impl.cc:252-427)
    closest_alt: np.ndarray
    hints: HintTables
    version: str = "cld2s-r1"
    lang_id: dict[str, int] = field(default_factory=dict)

    def __post_init__(self):
        if not self.lang_id:
            self.lang_id = {c: i for i, c in enumerate(self.langs)}

    def save(self, path: str) -> None:
        arrs: dict[str, np.ndarray] = {
            "langs": np.array(self.langs),
            "expected_1kb": self.expected_1kb,
            "version": np.array([self.version]),
            "group_names": np.array(sorted(self.group_tables)),
        }
        for name, t in self.group_tables.items():
            arrs[f"g_{name}_keys"] = t.keys
            arrs[f"g_{name}_langs"] = t.langs
            arrs[f"g_{name}_qprobs"] = t.qprobs
        arrs["backoff_names"] = np.array(sorted(self.quad_backoff))
        for name, t in self.quad_backoff.items():
            arrs[f"b_{name}_keys"] = t.keys
            arrs[f"b_{name}_langs"] = t.langs
            arrs[f"b_{name}_qprobs"] = t.qprobs
        arrs["tri_keys"] = self.tri.keys
        arrs["tri_langs"] = self.tri.langs
        arrs["tri_qprobs"] = self.tri.qprobs
        for name, t in (("rwd", self.ref_word_delta),
                        ("rwx", self.ref_word_distinct),
                        ("rcb", self.ref_cjk_bi)):
            arrs[f"{name}_keys"] = t.keys
            arrs[f"{name}_keymask"] = np.array([t.keymask], dtype=np.uint32)
            arrs[f"{name}_langs_latn"] = t.langs_latn
            arrs[f"{name}_langs_othr"] = t.langs_othr
            arrs[f"{name}_qprobs"] = t.qprobs
        arrs["rcu_cps"] = self.ref_cjk_uni.cps
        arrs["rcu_langs"] = self.ref_cjk_uni.langs
        arrs["rcu_qprobs"] = self.ref_cjk_uni.qprobs
        arrs["closest_alt"] = self.closest_alt
        for nm, d in (("htf", self.hints.tag_full),
                      ("hts", self.hints.tag_short),
                      ("htd", self.hints.tld)):
            keys = sorted(d)
            flat = [d[k] + [(-1, 0)] * (2 - len(d[k])) for k in keys]
            arrs[f"{nm}_keys"] = np.array(keys)
            arrs[f"{nm}_vals"] = np.array(flat, dtype=np.int16)  # (m,2,2)
        np.savez_compressed(path, **arrs)

    @staticmethod
    def load(path_or_bytes) -> "Cld2sModel":
        if isinstance(path_or_bytes, (bytes, bytearray)):
            z = np.load(io.BytesIO(path_or_bytes), allow_pickle=False)
        else:
            z = np.load(path_or_bytes, allow_pickle=False)
        def _grams(prefix, names):
            return {name: GramTable(keys=z[f"{prefix}{name}_keys"],
                                    langs=z[f"{prefix}{name}_langs"],
                                    qprobs=z[f"{prefix}{name}_qprobs"])
                    for name in z[names].tolist()}

        def _ref(name):
            return RefTable(keys=z[f"{name}_keys"],
                            keymask=int(z[f"{name}_keymask"][0]),
                            langs_latn=z[f"{name}_langs_latn"],
                            langs_othr=z[f"{name}_langs_othr"],
                            qprobs=z[f"{name}_qprobs"])

        def _dict(nm):
            out = {}
            for k, vals in zip(z[f"{nm}_keys"].tolist(), z[f"{nm}_vals"]):
                out[str(k)] = [(int(g), int(w)) for g, w in vals if g >= 0]
            return out

        return Cld2sModel(
            langs=[str(x) for x in z["langs"].tolist()],
            group_tables=_grams("g_", "group_names"),
            quad_backoff=_grams("b_", "backoff_names"),
            tri=GramTable(keys=z["tri_keys"], langs=z["tri_langs"],
                          qprobs=z["tri_qprobs"]),
            ref_word_delta=_ref("rwd"), ref_word_distinct=_ref("rwx"),
            ref_cjk_bi=_ref("rcb"),
            ref_cjk_uni=UniTable(cps=z["rcu_cps"], langs=z["rcu_langs"],
                                 qprobs=z["rcu_qprobs"]),
            closest_alt=z["closest_alt"],
            hints=HintTables(tag_full=_dict("htf"), tag_short=_dict("hts"),
                             tld=_dict("htd")),
            expected_1kb=z["expected_1kb"],
            version=str(z["version"][0]),
        )


_DEFAULT: Cld2sModel | None = None


def default_model() -> Cld2sModel:
    """Lazy per-process singleton of the packaged model (executor-side cache,
    the analogue of CLD2 dynamic-mode load, internal/compact_lang_det_impl.cc:108-136)."""
    global _DEFAULT
    if _DEFAULT is None:
        from importlib import resources
        # read through the import system, NOT a __file__-relative path:
        # under `spark-submit --py-files cld2_spark.zip` the package is
        # zipimported and __file__ points inside the archive where
        # np.load cannot open a file -- read_bytes works in both layouts
        data = (resources.files("cld2_spark") / "model"
                / "cld2s_model.npz").read_bytes()
        _DEFAULT = Cld2sModel.load(data)
    return _DEFAULT
