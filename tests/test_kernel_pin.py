"""Pin of the langid kernels' outputs: the sha256 of every output key of
detect_batch (default, hints, best_effort, score_as_quads, return_spans)
and of analyze_batch over one seeded input set, in the style of
test_jpeg_encoder_pin.py. No JVM.

The inputs are seeded whole texts and short fragments from the training
corpus and the CLD2 unit-test pairs, plus rows that mix Latin, Greek,
Cyrillic, Arabic, Hebrew, Han, Kana and Thai, so that the Latin ring
bank, the shared non-Latin ring bank, the CJK unigram/bigram pass and the
RTypeOne pass all score, and so that pass 1, the retry, the squeeze and
the bestEffort rescue all run. A refactor of the kernels must leave every
digest unchanged.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pytest

from cld2_spark.kernels.analyze import analyze_batch
from cld2_spark.kernels.detect import detect_batch
from cld2_spark.kernels.model import default_model

ROOT = Path(__file__).resolve().parent.parent
SOURCES = (ROOT / "cld2_spark" / "model" / "corpus.jsonl",
           ROOT / "tests" / "data" / "cld2_unittest_pairs.jsonl")

MIXED = [
    "the quick brown fox jumps over the lazy dog καλημέρα σας φίλοι μου "
    "привет как дела сегодня 今日は良い天気ですね 中文文本在这里 "
    "ภาษาไทยเป็นภาษาที่สวยงาม and back to english words again",
    "Ελληνικά κείμενο εδώ για δοκιμή русский текст для проверки "
    "مرحبا بكم في هذا النص العربي שלום עולם זה טקסט בעברית "
    "日本語のテキストです カタカナ ひらがな",
    "москва столица россии και η αθήνα είναι η πρωτεύουσα της ελλάδας "
    "北京是中国的首都 and paris is the capital of france "
    "กรุงเทพมหานครเป็นเมืองหลวง русский снова здесь",
    "עברית ועוד עברית русский язык العربية لغة جميلة русский текст "
    "hello world ελληνικά",
    "za.jpg zb.jpg " * 170 + "Dies ist ein ganz normaler deutscher Satz "
    "und noch ein Satz auf Deutsch. Привет мир 你好世界",
    "", "   12345 !!! ", "broken � text here",
]

HINTS = [{"lang": "bs"}, {"content_language": "fr,de"}, {"tld": "hr"},
         {"encoding": "shift_jis"}, None, {},
         {"lang": "pt", "tld": "es"}]

DETECT_VARIANTS = ("default", "hints", "best_effort", "score_as_quads",
                   "return_spans")


def pin_texts() -> list[str]:
    rng = np.random.default_rng(20261019)
    texts = []
    for path in SOURCES:
        rows = [json.loads(line)["text"] for line in path.open(encoding="utf-8")]
        for i in rng.choice(len(rows), size=24, replace=False).tolist():
            texts.append(rows[i])
        for i in rng.choice(len(rows), size=16, replace=False).tolist():
            cut = int(rng.integers(20, 140))
            texts.append(rows[i][:cut])
    return texts + MIXED


def _digest(a) -> str:
    a = np.asarray(a)
    h = hashlib.sha256(f"{a.dtype.kind}{a.dtype.itemsize}{a.shape}".encode())
    if a.dtype == object:
        h.update("\x00".join(map(str, a.tolist())).encode())
    else:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def output_digests(variant: str) -> dict[str, str]:
    texts, model = pin_texts(), default_model()
    if variant == "analyze":
        out = analyze_batch(texts, model)
    elif variant == "hints":
        out = detect_batch(texts, model, hints=[HINTS[i % len(HINTS)]
                                                for i in range(len(texts))])
    elif variant == "default":
        out = detect_batch(texts, model)
    else:
        out = detect_batch(texts, model, **{variant: True})
    return {k: _digest(v) for k, v in sorted(out.items())}


OUTPUT_SHA256: dict[str, dict[str, str]] = {
    "default": {
        "is_reliable":
            "d1c888893968c3b6eafe03ce943db9b9d7e11631f216f4e94c9e6d2f90869b6e",
        "lang1":
            "a6727cf846b11ed386178d2eb3d31d374c3faa1b4058b54c623966e51735afac",
        "lang2":
            "31a7cc97ceb54fadef33594bbe6304efc17ae6d9020e3501c0d6141f29d31b1f",
        "lang3":
            "eb9479e494dcea7a03ac33074a4c2dd1836b32a74ee7b0c74cc6dd7420ee32e8",
        "ns1":
            "20e07e5bf0a812a177787d2880ad8356f490f0664a9951418d3d10562b0ca8a2",
        "ns2":
            "8ff897b6e893ec73c1b719bffac460a99d709eb73bd86cd6a6096982970bf869",
        "ns3":
            "d00b5acc1affb1f2007c7e2e437c85041f96479931579093a3c89729c0e83dfe",
        "pct1":
            "691c5b812323e484e88c930bd9443c4529042374f9a2a0b82ca3aeb9e56e1ede",
        "pct2":
            "b8949dcfebea2d0cf3203fa984bf57242f18ee6edd91defa63354e01543f7b24",
        "pct3":
            "41374f269bb93280fdb4675b096ed662842e2608baf5773ba65278500482aada",
        "rel1":
            "3b1f2883cea5411f638590105b29973ede48eb1db3bf9e8731f4c9a7766e83b3",
        "summary_lang":
            "01ee79c44d34ec223ad5158c38dcfd9d5f6ca349787a0458e45208cdf65b3737",
        "summary_pct":
            "7b057cdc79607fc36a760642ec12c9c7db629a20710e28f26770959ca8fa1212",
        "text_bytes":
            "475fd2e4e3c213bed7174cdcfb4fa5270494052fe6369d4ac8e627486950e364",
    },
    "hints": {
        "is_reliable":
            "cde245cef33cc2a9b0e4f48b610625834031e4b678add3510f0395ae4ac2f51d",
        "lang1":
            "b756b387a11ef5488cc9c18c830996e34d33ab049bb71a87e20cf6ebeed6b627",
        "lang2":
            "885e7241d1f95ead3f967d152330a0ae1ce2491d219f7d6643bc986ceb0a037e",
        "lang3":
            "bb5cb46a6b757405f726930319b3a0216d4f539fe8cbc6ddf13e8a3caa317af0",
        "ns1":
            "b233c0de999bdc354bdde78481c064e041a4612207f30c4786f838a4215525e8",
        "ns2":
            "3941174b72e38e8cbd29235eea5d7f0821565ccb49bb2e278485cd0ee9f9e33f",
        "ns3":
            "2ca500b47474ae81c64f75970177f479fab33068424df23d023ab52d265f00ff",
        "pct1":
            "d562261e1097c5f12aa0253085b162756918f68f3f6bd4694fcd81b6e23ea6ed",
        "pct2":
            "7cf0868f17999dbf2d0c605366fd5302a19594419be9742f7616eee7166a1a1b",
        "pct3":
            "b238c4ec082fdac5d805c0e30ba464bf65bd8ea4060846683a43f911340dcb49",
        "rel1":
            "43495541a476db8d82a4ed7e6c6beba6e50a15c107f35d851d1ba7caf6d8788f",
        "summary_lang":
            "11fb037810ffc49a0fe1f5d02eed5acf54cbc0581f17bdb21b0d9fdaab39182d",
        "summary_pct":
            "6023ab247eff5e8b9eac5663b8ad05f2c93328f3e87006511ff8da0348a04ec2",
        "text_bytes":
            "210fdeebe221ef8b196e31a5d4dfc5dc757a8abd182fe1b477ce7405f593ed46",
    },
    "best_effort": {
        "is_reliable":
            "e29ff679cea0f93b718f9787d8106b7029f49b4d5636c32bef4f8f6eb9baed0e",
        "lang1":
            "c5a435c3da280d6de50c88dd7199e4521e643595d0ed9bbb9ec2cace19a3c3c0",
        "lang2":
            "10be401f805b73d42a73156b2b243f4801f452e4a80264fea19c8b3682b83a4c",
        "lang3":
            "a617447747fea723144e789bff91310fa1a65368d6cf26cec7c84c7f6872c8f0",
        "ns1":
            "a67a75650aae85c46ccc3b64f7396954169906264e39fcec7d953308b962ef4c",
        "ns2":
            "041f6cd3af97c60d3ff6a8eea500b199e1d61fd4c1e37bcf1e228e5d0f0e8f98",
        "ns3":
            "2a8644be9739b18b2b945438d0b5e63ab0a3c173321c629235b2d8f7a00534c7",
        "pct1":
            "ccc43ae02db321d32aef610096f39f46c9fc9d76d3f0efb396a9e3bb645968ff",
        "pct2":
            "05dbfb423f58facd42ce3b0a7e9f86a79620506cb66199e3ccf26db45acf2dd6",
        "pct3":
            "6d8a1dc5510b84691ea9cbde334d1cb1251422d611cf88d61dba9a50150859a6",
        "rel1":
            "e08c191dba762aa28326bb00e5879f7232b4797675415db420485d6fac9371e6",
        "summary_lang":
            "c5a435c3da280d6de50c88dd7199e4521e643595d0ed9bbb9ec2cace19a3c3c0",
        "summary_pct":
            "6ff83b846e0aeecaee26478badef4f286e53c03455c437003b52d9998bacc72a",
        "text_bytes":
            "210fdeebe221ef8b196e31a5d4dfc5dc757a8abd182fe1b477ce7405f593ed46",
    },
    "score_as_quads": {
        "is_reliable":
            "5a3d5e97321e1ee6d26b5fdc91343f49665c19a42bd4943029092bd7378166bb",
        "lang1":
            "4ec7d99d12793392f90894a8d22f114d116cfb23fa484c28ab0ef69edf46ecab",
        "lang2":
            "6e4d674bc94461093020fa3d68fcfa9155c82b8f674674dd172658097f435209",
        "lang3":
            "e7e1c4553ff518d83d5ae59f9ed0647f103b3299076ed3944e725abb1ae02c0b",
        "ns1":
            "cb469302654cd968c2cdbe3656f0d33e6dfb7696ffd66188a46e1c4151d13cba",
        "ns2":
            "f3d0bacaa0fc28d4519b2f65256111626767593932fd518b47ddda8b4121e858",
        "ns3":
            "c6f96d75fd1c52372c451cc975474e401c3e60792c844c62aa569c7c3144c56d",
        "pct1":
            "80dba719efbddb7a0500d3c8802f1a9d034a16ac5aff4f151c3daad565942b87",
        "pct2":
            "d54a41224242efd6d56baa7cbc02dfac0c4c31e2d93b553e6a0d1795803d646d",
        "pct3":
            "8d4285483a39a3c904bad013cc4b0ee63f0ce5f58449b0acb506aa71c91ae846",
        "rel1":
            "3b18d3fce200e3fea5a5754188fb9654adbc5d2b939548090a47645ce4531d52",
        "summary_lang":
            "31f8c1ea1483d26bdc52d41a4175f59a4de83981c5330741a8b56b152b3ec2cc",
        "summary_pct":
            "8ccb7f9f2c560b580232a941a6a17795d7e6017ecf3305b767c2914d6aaea274",
        "text_bytes":
            "475fd2e4e3c213bed7174cdcfb4fa5270494052fe6369d4ac8e627486950e364",
    },
    "return_spans": {
        "is_reliable":
            "f793299930ddad48a0d72218d624e1087e2f326a265c7e6495d5ac84d69318ef",
        "lang1":
            "a6727cf846b11ed386178d2eb3d31d374c3faa1b4058b54c623966e51735afac",
        "lang2":
            "31a7cc97ceb54fadef33594bbe6304efc17ae6d9020e3501c0d6141f29d31b1f",
        "lang3":
            "eb9479e494dcea7a03ac33074a4c2dd1836b32a74ee7b0c74cc6dd7420ee32e8",
        "ns1":
            "3be1c3ee0312d51a734ce9eefda256a60b81d56831b26b6bd0ebff9ff5a66553",
        "ns2":
            "1236818642055333a68067d34b5de62e1863c5cf6b99805d0f16455058ca0927",
        "ns3":
            "d00b5acc1affb1f2007c7e2e437c85041f96479931579093a3c89729c0e83dfe",
        "pct1":
            "a310e0fcf0499bb00776a193da15826c6a82a8cb8ce08f08a46b6c3c45f552a5",
        "pct2":
            "a0bf02231c1731816cefdc8f227c1c0d7e18041e2133486b6e1206e950bfa11b",
        "pct3":
            "41374f269bb93280fdb4675b096ed662842e2608baf5773ba65278500482aada",
        "rel1":
            "dbee3e67ac57800ffb233dbec5974dc18e8c42114e7ff3e80964d9fd1dcae54e",
        "span_lang":
            "548d471aace3c42505be0ead50f35e16827c589811ab502855890780cf1ba7d2",
        "span_len":
            "db8f27321b8360a369e9efc5e644c021fe6205d80e8703efb58e22528e12aec9",
        "span_len_b":
            "84527fe15e89a4b7d09d24308c51e9f4f05f3f186c389ecdac7a640c9b860d92",
        "span_off":
            "87f027335cab37ab9be06a792278bafbc6021a12c31ead4401ba7c3de9a01284",
        "span_off_b":
            "dbad5f2b8c96de9ba1da3b62c7c75262c9c4ec3a216a4ca8b994fbed5c65398d",
        "span_rid":
            "be5df1c91a56fbf25fed09cc3d9668644a94c8692e993ffc71159f8c6c670e1b",
        "summary_lang":
            "01ee79c44d34ec223ad5158c38dcfd9d5f6ca349787a0458e45208cdf65b3737",
        "summary_pct":
            "89df624764605f8e4f01c119f3c6a886203d317a19f4e82f713319c7b2bb8531",
        "text_bytes":
            "475fd2e4e3c213bed7174cdcfb4fa5270494052fe6369d4ac8e627486950e364",
    },
    "analyze": {
        "be_ok":
            "5d953d2921603e5cc4440152a418e07735a1cf49cf158f3cb578d7dec114bbd9",
        "ft_lang":
            "55d271c375ce53e8319e56592cfd05a3e910ae53dcafceda3b2327856f679058",
        "is_reliable":
            "d1c888893968c3b6eafe03ce943db9b9d7e11631f216f4e94c9e6d2f90869b6e",
        "lang1":
            "a6727cf846b11ed386178d2eb3d31d374c3faa1b4058b54c623966e51735afac",
        "lang2":
            "31a7cc97ceb54fadef33594bbe6304efc17ae6d9020e3501c0d6141f29d31b1f",
        "lang3":
            "eb9479e494dcea7a03ac33074a4c2dd1836b32a74ee7b0c74cc6dd7420ee32e8",
        "ns1":
            "20e07e5bf0a812a177787d2880ad8356f490f0664a9951418d3d10562b0ca8a2",
        "ns2":
            "8ff897b6e893ec73c1b719bffac460a99d709eb73bd86cd6a6096982970bf869",
        "ns3":
            "d00b5acc1affb1f2007c7e2e437c85041f96479931579093a3c89729c0e83dfe",
        "pct1":
            "691c5b812323e484e88c930bd9443c4529042374f9a2a0b82ca3aeb9e56e1ede",
        "pct2":
            "b8949dcfebea2d0cf3203fa984bf57242f18ee6edd91defa63354e01543f7b24",
        "pct3":
            "41374f269bb93280fdb4675b096ed662842e2608baf5773ba65278500482aada",
        "ppl":
            "dc64de2976595e69c3709d3ee17981eea7c42c72bd310bdf20d8e07650d6ecc6",
        "rel1":
            "cd7ead5720d97dafea6269ceee289dcde4505d06c908ec1f44da7ec48f29f44b",
        "summary_lang":
            "01ee79c44d34ec223ad5158c38dcfd9d5f6ca349787a0458e45208cdf65b3737",
        "summary_pct":
            "96f24d8ec9ee2a311e06f108d67dee3593b042aa2cdefa28496dc065e78a557c",
        "text_bytes":
            "475fd2e4e3c213bed7174cdcfb4fa5270494052fe6369d4ac8e627486950e364",
        "tri_grams":
            "6936fb01d2ed07afa7371bdf08f844a84010aa0d3cc0ad4b066037bcbef06653",
    },
}


@pytest.mark.parametrize("variant", [*DETECT_VARIANTS, "analyze"])
def test_kernel_outputs_pinned(variant):
    assert output_digests(variant) == OUTPUT_SHA256[variant]
