"""featuregenerator_spark — a PySpark-native feature-engineering engine.

A from-scratch reimplementation of the *semantics* of
alibaba/FeatureGenerator (``fg_lite``, C++ per-row feature kernels) as a
point-in-time-correct, declarative DataFrame/Arrow pipeline over
conversation-transcript tables:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Design (see SURVEY.md):
  - every kernel is a *Column expression builder* (JVM-side, codegen'd) —
    no per-row Python anywhere in the hot path;
  - the reference's per-batch "user history array + pvtime" timediff lookup
    is lifted to sort-merge as-of joins and range windows partitioned by
    ``hash(conv_id)``;
  - skew (mega-conversations) is handled by salted two-phase aggregation;
  - job runs are resumable: each unit commits as one snapshot of a
    snapshot table (sources/snapshots.py).

Public surface:
  featuregenerator_spark.spec        — JSON FeatureConfig -> typed specs
  featuregenerator_spark.functions   — formatters / normalizers / bucketize /
                                       combiners / time_diff_normal
  featuregenerator_spark.operators   — one module per reference feature_type
  featuregenerator_spark.plans       — temporal (as-of, lag/lead, rolling,
                                       sessionize, backfill), pipeline, skew
  featuregenerator_spark.sources     — transcript synthesizer + table readers
  featuregenerator_spark.streaming   — structured-streaming variants
"""

__version__ = "0.1.0"
