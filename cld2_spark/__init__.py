"""cld2_spark: PySpark-native language-ID + quality-filter engine.

Public API surface (mirrors the reference's public/compact_lang_det.h entry
points, re-expressed for DataFrames -- SURVEY.md §2.10):

  kernels.detect.detect_batch       DetectLanguageSummary, vectorized
  functions.langid.detect_udf       DetectLanguage as a Column function
  functions.langid.detect_summary_udf
                                    ExtDetectLanguageSummary, 0-4 hint columns
  functions.langid.make_detect_summary_udf   the same with flag bits
  functions.langid.detect_spans_udf per-language spans (ResultChunkVector)
  functions.langid.pipeline_udf     summary answer + cross-check + perplexity
  pipeline.stages.run_pipeline      the full per-turn quality filter
  pipeline.run.run_resumable        bucketed, checkpoint-resumable job
  operators.*                       dedup / similarity / textstats / multimodal
"""

__version__ = "0.1.0"
