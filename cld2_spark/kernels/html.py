"""HTML tag stripping + entity expansion (S3/S4), engine-portable SQL.

The reference handles HTML inside its scanner (`is_plain_text=false`):
tags and <script>/<style> bodies are skipped (ScriptScanner,
internal/getonescriptspan.cc:679-794) and entities expand to their UTF-8
chars (ReadEntity/EntityToBuffer, :393-469, table
internal/generated_entities.cc). The Spark-first equivalent is a PRE-
projection: one chain of regexp_replace expressions that runs whole-stage-
codegen on the JVM, rendered identically for DuckDB so the driver oracle
can compare bit-for-bit. Transcripts are plain text per the input hint, so
this stage is opt-in (`is_plain_text=False` surfaces).

Covered: comments, <script>/<style> bodies, all tags, decimal + hex
numeric entities (via char repertoire below), and the frequent named
entities. Per the reference, tags become a space (word boundary), entities
become their character. The long tail of the reference's 2,000-entry named
entity table is deliberately not replicated (rare in web text; unknown
entities are left verbatim exactly like an unrecognized `&foo` is).
"""

from __future__ import annotations

# the frequent named entities (reference table: internal/generated_entities.cc)
NAMED_ENTITIES: list[tuple[str, str]] = [
    ("amp", "&"), ("lt", "<"), ("gt", ">"), ("quot", '"'), ("apos", "'"),
    ("nbsp", " "), ("copy", "©"), ("reg", "®"), ("deg", "°"),
    ("hellip", "…"), ("mdash", "—"), ("ndash", "–"),
    ("lsquo", "‘"), ("rsquo", "’"), ("ldquo", "“"),
    ("rdquo", "”"), ("eacute", "é"), ("egrave", "è"),
    ("agrave", "à"), ("ccedil", "ç"), ("uuml", "ü"),
    ("ouml", "ö"), ("auml", "ä"), ("szlig", "ß"),
    ("ntilde", "ñ"), ("aacute", "á"), ("iacute", "í"),
    ("oacute", "ó"), ("uacute", "ú"), ("middot", "·"),
]

# numeric entity repertoire: SQL has no codepoint constructor common to
# both engines, so the chain expands the numerics that actually occur in
# web text (quote/dash/space family + frequent Latin-1); each adds two
# regexp_replace links, so the list stays deliberately short
_NUMERIC_RANGE = [0x22, 0x27, 0x26, 0xA0, 0xE9, 0xE8, 0xFC, 0xF6, 0xE4,
                  0x2018, 0x2019, 0x201C, 0x201D, 0x2013, 0x2014, 0x2026]


def _lit(s: str) -> str:
    return s.replace("'", "''")


def strip_html_sql(col: str, dialect: str) -> str:
    """Render the tag-strip + entity-expand chain for `dialect`."""
    g = ", 'g'" if dialect == "duckdb" else ""

    def rr(expr: str, pat: str, rep: str) -> str:
        p = _lit(pat)
        if dialect == "spark":
            p = p.replace("\\", "\\\\")
        return f"regexp_replace({expr}, '{p}', '{_lit(rep)}'{g})"

    expr = col
    # comments and script/style bodies first (their content must vanish)
    expr = rr(expr, r"(?s)<!--.*?-->", " ")
    expr = rr(expr, r"(?is)<script[^>]*>.*?</script>", " ")
    expr = rr(expr, r"(?is)<style[^>]*>.*?</style>", " ")
    # any remaining tag -> single space (word boundary, like the scanner)
    expr = rr(expr, r"<[^>]*>", " ")
    # numeric entities for the supported repertoire
    for cp in _NUMERIC_RANGE:
        ch = chr(cp)
        expr = rr(expr, rf"&#{cp};", ch)
        expr = rr(expr, rf"&#[xX]0*{cp:x};", ch)
    # named entities; &amp; LAST so it cannot create new entities
    for name, ch in NAMED_ENTITIES:
        if name == "amp":
            continue
        expr = rr(expr, rf"&{name};", ch)
    expr = rr(expr, r"&amp;", "&")
    # collapse runs of spaces introduced by tag removal
    expr = rr(expr, r"  +", " ")
    return expr


# ---- full-table expansion (S4 long tail, VERDICT r2 #8) -------------------
# The SQL chain above stays deliberately short (each entity is one codegen
# regexp_replace link and the DuckDB oracle mirrors it); the COMPLETE
# reference table -- kNameToEntity, 265 case-sensitive entries parsed
# verbatim into reference_tables.npz -- drives the kernel-side expansion
# used by the analyze/detect normalize path when is_plain_text=False
# (ReadEntity/EntityToBuffer, internal/getonescriptspan.cc:393-469).

_FULL_ENTITIES: dict[str, str] | None = None


def full_entity_table() -> dict[str, str]:
    """Lazy singleton of the verbatim reference entity table."""
    global _FULL_ENTITIES
    if _FULL_ENTITIES is None:
        import io
        from importlib import resources

        import numpy as np
        # via the import system, not __file__: works when the package is
        # zipimported (spark-submit --py-files cld2_spark.zip)
        data = (resources.files("cld2_spark") / "model"
                / "reference_tables.npz").read_bytes()
        z = np.load(io.BytesIO(data), allow_pickle=False)
        _FULL_ENTITIES = {
            str(n): chr(int(c))
            for n, c in zip(z["entity_names"].tolist(), z["entity_cps"])}
    return _FULL_ENTITIES


import re as _re

_ENT_RE = _re.compile(r"&(?:#(\d+)|#[xX]([0-9a-fA-F]+)|([A-Za-z][A-Za-z0-9]*));")
_TAG_RES = [
    _re.compile(r"(?s)<!--.*?-->"),
    _re.compile(r"(?is)<script[^>]*>.*?</script>"),
    _re.compile(r"(?is)<style[^>]*>.*?</style>"),
    _re.compile(r"<[^>]*>"),
]


def expand_entities(text: str) -> str:
    """Expand every numeric entity plus the complete named table; unknown
    names stay verbatim (like an unrecognized `&foo` in the scanner)."""
    tbl = full_entity_table()

    def valid_cp(cp: int) -> bool:
        # exclude surrogates: a lone chr(0xD800) poisons the whole Arrow
        # batch downstream (strict utf-32 encode in normalize_batch)
        return 0 < cp < 0x110000 and not (0xD800 <= cp <= 0xDFFF)

    def repl(m: "_re.Match[str]") -> str:
        dec, hx, name = m.groups()
        if dec is not None:
            cp = int(dec)
            return chr(cp) if valid_cp(cp) else m.group(0)
        if hx is not None:
            cp = int(hx, 16)
            return chr(cp) if valid_cp(cp) else m.group(0)
        ch = tbl.get(name)
        return ch if ch is not None else m.group(0)

    return _ENT_RE.sub(repl, text)


def html_to_text_batch(texts: list[str]) -> list[str]:
    """The is_plain_text=False pre-pass for the langid kernels: strip
    comments / script / style / tags (each tag -> one space, a word
    boundary like the scanner) and expand entities via the full table."""
    out = []
    for t in texts:
        for pat in _TAG_RES:
            t = pat.sub(" ", t)
        out.append(expand_entities(t))
    return out

