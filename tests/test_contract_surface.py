"""Pin of the driver contract surface: the `queries()` key order and every
`oracle_sql()` text, checked by sha256 on import alone (no Spark session).

A refactor of `__spark_entry__.py` must leave both hashes unchanged. A
deliberate oracle change (for example, mending the DuckDB oracles' Kelvin
sign under RE2 `(?i)` and RE2's `\\s` lacking `\\x0b`) updates the pin in
the same commit and says there why the text moved.
"""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as E

QUERY_ORDER_SHA256 = (
    "c23cc9edad14d00c17e9ac96ea95bb445181ed423466d0989c69b0416aeb53b6")
ORACLE_TEXT_SHA256 = (
    "7023e50c58a5910cf4fb4d5fbd8796f9a42245d4753d335acde09f5413a5b3b9")


def _sha256(obj, **kw) -> str:
    return hashlib.sha256(json.dumps(obj, **kw).encode()).hexdigest()


def test_query_names_and_order_pinned():
    names = list(E.queries())
    assert names[:2] == ["langid", "keep_drop"]
    assert _sha256(names) == QUERY_ORDER_SHA256


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


def test_oracle_texts_pinned():
    # the fixture directory is the checkout's absolute path: normalize it
    # so the pin holds in any checkout
    oracles = {k: v.replace(E._FIXDIR, "<FIXDIR>")
               for k, v in E.oracle_sql().items()}
    assert _sha256(oracles, sort_keys=True) == ORACLE_TEXT_SHA256
