"""mpower_feature_analysis_spark — a PySpark-native feature-engineering engine.

A from-scratch re-expression (NOT a port) of the query & data-processing
capabilities of ``pranavanba/mpower-feature-analysis`` (R/tidyverse batch ETL,
see /root/reference) as an idiomatic Spark DataFrame engine:

* point-in-time / as-of joins with zero temporal leakage
  (reference: rowwise ``getBurstInfo`` loop, ``analysis/mPTS_record.R:23-35``)
* lag/lead, rolling windows, forward/backward fill, sessionization
  (reference: implicit in per-record loops, ``SURVEY.md §2.5``)
* group-wise Arrow-vectorized feature kernels (mean/median/IQR/entropy per
  window; reference: mhealthtools windowed summaries,
  ``feature_extraction/extract_mhealthtools_tremor_features_mpower1.R:135-174``)
* last-record-wins dedup (``utils/helper_utils.R:41-43``), interval joins,
  exact type-7 quantile user aggregation
  (``feature_processing/aggregate_users/aggregate_tapping_features.R:91-94``)
* training-data-pipeline extras: text dedup (exact/MinHash-LSH/SimHash),
  ANN similarity search, text quality/lang-id/fingerprinting, multimodal
  column plumbing.

Everything is built on public PySpark 4.x DataFrame/SQL APIs.
"""

__version__ = "0.1.0"

from . import _zipstamp

# Python workers import the package while unpickling their first engine
# kernel; from then on PySpark's per-task importlib.invalidate_caches()
# re-reads no unchanged zip archive (see _zipstamp).
_zipstamp.install()
