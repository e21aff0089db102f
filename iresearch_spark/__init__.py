"""iresearch_spark — a PySpark-native full-text inverted-index + BM25 engine.

A from-scratch reimplementation of what arangodb/iresearch *computes*
(segment-based inverted index, BM25 top-k with block-max pruning,
hierarchical segment consolidation), re-expressed Spark-first:

- index build = one shuffle + grouped Arrow UDF per segment
  (cf. reference `core/index/segment_writer.cpp` flush pipeline)
- posting lists = bit-packed delta 128-doc blocks with block-max metadata
  (cf. `core/formats/formats_10.cpp:86-131`)
- query = driver-side stats prepare + per-segment vectorized score kernel
  (cf. `core/search/filter.hpp:38-99` prepare/execute lifecycle)
- consolidation = tier policy + groupBy(field, term) merge kernel
  (cf. `core/index/merge_writer.cpp`, `core/utils/index_utils.hpp:251-325`)

Nothing here is a translation of the reference's C++; the reference is used
only as the semantic specification (formulas, defaults, invariants).
"""

__version__ = "0.1.0"

from iresearch_spark.session import get_spark  # noqa: F401
