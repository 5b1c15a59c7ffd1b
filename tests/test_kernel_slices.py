"""Bounded kernel calls: the langid UDFs score each Arrow batch in row
slices of at most `analyze.KERNEL_SLICE_CHARS` codepoints.

Covers the slicer's contract, bit-identical output of the sliced Spark UDFs
against one unsliced in-process kernel call, and the per-batch peak memory
the slicing buys.
"""

import json
import random
import tracemalloc
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from cld2_spark.functions import langid as L
from cld2_spark.kernels import text as T
from cld2_spark.kernels.analyze import (
    KERNEL_SLICE_CHARS, analyze_batch, kernel_slices)
from cld2_spark.kernels.detect import detect_batch
from cld2_spark.kernels.model import default_model

CORPUS = Path(L.__file__).resolve().parent.parent / "model" / "corpus.jsonl"


def _turns(n: int, size: int) -> list[str]:
    """n turns of `size` chars cut at varied offsets from the multilingual
    training corpus (every script the model knows)."""
    text = " ".join(json.loads(line)["text"] for line in CORPUS.open())
    text = text * (size // len(text) + 2)
    span = len(text) - size
    return [text[i * 7919 % span:][:size] for i in range(n)]


def _check_slices(texts, slices):
    lens = [len(t) for t in texts]
    assert [i for s in slices for i in range(s.start, s.stop)] == \
        list(range(len(texts)))
    for s in slices:
        assert s.stop > s.start
        chars = sum(lens[s])
        assert chars <= KERNEL_SLICE_CHARS or s.stop - s.start == 1
    for i, n in enumerate(lens):
        if n > KERNEL_SLICE_CHARS:
            assert slice(i, i + 1) in slices


def test_slice_budget_covers_text_limit():
    assert KERNEL_SLICE_CHARS >= T.TEXT_LIMIT


def test_kernel_slices_empty_input():
    assert list(kernel_slices([])) == []


@pytest.mark.parametrize("seed", range(6))
def test_kernel_slices_order_budget_and_oversize_rows(seed):
    rng = random.Random(seed)
    big = KERNEL_SLICE_CHARS
    sizes = [rng.choice([0, 1, 50, 3000, 70000, big - 1, big, big + 1,
                         2 * big]) for _ in range(rng.randint(1, 60))]
    texts = ["x" * n for n in sizes]
    slices = list(kernel_slices(texts))
    _check_slices(texts, slices)
    # greedy: a slice stops only where the next row would overflow it
    for a, b in zip(slices, slices[1:]):
        assert sum(sizes[a]) + sizes[b.start] > KERNEL_SLICE_CHARS


def test_kernel_slices_whole_batch_under_budget_is_one_slice():
    texts = ["abc"] * 1000 + [""] * 10
    assert list(kernel_slices(texts)) == [slice(0, 1010)]


@pytest.fixture(scope="module")
def big_batch():
    """One partition (one Arrow batch) of >3 x KERNEL_SLICE_CHARS chars:
    1 KiB turns plus a NULL, empty and short rows, one row over the slice
    budget (scored alone, truncated to TEXT_LIMIT) and a hint column."""
    texts = _turns(900, 1024)
    texts[10] = None
    texts[11] = ""
    texts[12] = "ok"
    texts[400] = _turns(1, KERNEL_SLICE_CHARS + 5000)[0]
    langs = ["fr", None, "ja", "", "de"]
    hint = [langs[i % len(langs)] for i in range(len(texts))]
    pdf = pd.DataFrame({"id": np.arange(len(texts)), "text": texts,
                        "hint": hint})
    clean = [t or "" for t in texts]
    assert sum(map(len, clean)) > 3 * KERNEL_SLICE_CHARS
    assert len(list(kernel_slices(clean))) >= 4
    return pdf, clean


def test_sliced_udfs_equal_unsliced_kernels(spark, big_batch):
    pdf, texts = big_batch
    df = spark.createDataFrame(pdf).coalesce(1)
    model = default_model()

    got = (df.select("id", L.pipeline_udf("text").alias("r"))
           .select("id", "r.*").toPandas().sort_values("id"))
    want = L._frame(L.PIPELINE_SCHEMA, lang1="summary_lang")(
        analyze_batch(texts, model))
    pd.testing.assert_frame_equal(got.drop(columns="id").reset_index(drop=True),
                                  want, check_dtype=False, check_exact=True)

    got = (df.select("id", L.detect_summary_udf("text", "hint").alias("r"))
           .select("id", "r.*").toPandas().sort_values("id"))
    hints = L._hint_records([pdf["hint"]])
    want = L._frame(L.SUMMARY_SCHEMA)(detect_batch(texts, model, hints=hints))
    pd.testing.assert_frame_equal(got.drop(columns="id").reset_index(drop=True),
                                  want, check_dtype=False, check_exact=True)

    got = (df.select("id", L.detect_spans_udf("text").alias("r"))
           .toPandas().sort_values("id"))["r"]
    want = L._span_rows(detect_batch(texts, model, return_spans=True))
    assert len(got) == len(want)
    assert [list(g) for g in got] == want.tolist()


def test_langid_udf_batch_peak_memory_is_bounded():
    """The per-batch work of the langid UDF on 2,000 x 1 KiB turns (~2M
    chars, one Arrow batch) peaks under 64 MiB of traced allocations;
    one unsliced kernel call over the batch peaks several times higher."""
    batch = pd.Series(_turns(2000, 1024))
    run = L.pipeline_udf.func
    list(run(iter([batch.head(50)])))  # model load and lazy tables
    tracemalloc.start()
    try:
        frames = list(run(iter([batch])))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(frames) > 1
    assert sum(map(len, frames)) == len(batch)
    assert peak < 64 << 20, f"peak {peak / 2**20:.0f} MiB"
