"""spark-asof-features: a PySpark-native point-in-time feature-engineering engine.

A brand-new engine with the feature-vector semantics of QCFE
(``AvatarTwi/query_cost_feature_engineering``) re-expressed Spark-first:

- image/caption featurization via Arrow-batched pandas UDFs
  (ref: dataset/postgres_tpch_dataset/tpch_utils_knob.py:60-210, the A4 featurizers)
- backward as-of joins via two strategies: a pure-DataFrame union+window plan
  and a hash-bucketed Arrow cogroup kernel (``applyInArrow``, SURVEY.md §2.B joins)
- lag/lead/backfill/rolling windows and gap sessionization via Window specs
- per-group linear "snapshot" fits via closed-form sufficient statistics
  (ref: snapshot/snapshot_linear.py:16-243)
- leakage-free deterministic splits + train-only normalization
  (ref: tpch_utils_knob.py:300-402)
- dedup / similarity / text-analysis operators for training-data pipelines
- pure-NumPy media codecs (JPEG baseline+progressive, PNG all shapes, GIF,
  BMP, WAV PCM/ADPCM/G.711, FLAC, AVI/MP4 containers, EXIF orientation) so
  the multimodal surface needs no external codec library

Everything here is built from public knowledge only: the Apache Spark API,
the reference repo's observable behavior, and published papers.
"""

__version__ = "0.1.0"
