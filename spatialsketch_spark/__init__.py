"""spatialsketch_spark — a PySpark-native spatial-sketch + tiling engine.

A from-scratch rebuild of the *capabilities* of SpatialSketch
(Kiezebrink et al., "Synopses for Summarizing Spatial Data Streams";
reference C++ engine at /root/reference) as an idiomatic PySpark engine:

- dyadic 2-D range decomposition over a resolution-2^k grid
  (reference: repository/src/spatialsketch/SpatialSketch.cpp)
- per-cell mergeable synopses: Count-Min, FM, Bloom, ECM, dyadic-CM
  (reference: repository/src/spatialsketch/sketches/)
- rectilinear-polygon -> rectangle partitioning
  (reference: repository/src/spatialsketch/Partitioner.cpp)
- exact spatial joins (point-in-polygon, kNN, raster<->vector tiling)
- large-scale training-data pipeline ops (dedup + duplicate
  clustering, similarity search, text analysis, deterministic curation
  sampling, multimodal plumbing)

Architecture is Spark-first, NOT a port: sketch builds are one
map-side-combined shuffle (mapInArrow partials -> mapInArrow merge),
queries are broadcast joins of an O(log^2 N) dyadic cover against the
sketch table, and everything crossing the JVM/Python boundary moves in
Arrow batches (no per-row Python).
"""

import logging

__version__ = "0.2.0"

# the library logs through stdlib loggers under this package and prints
# nothing unless the application configures logging
logging.getLogger(__name__).addHandler(logging.NullHandler())

# Public API: the names a reference user drives the engine through.
# (Heavy imports stay lazy — pulling in pyspark at package import time
# would slow bare kernel/unit use.)
__all__ = [
    "SketchConfig", "get_spark",
    "SketchStore", "SpatialSketchEngine", "QuerySpec", "Shape",
    "build_sketch_df",
]


def __getattr__(name):
    if name in ("SketchConfig", "get_spark"):
        from . import config
        return getattr(config, name)
    if name in ("SketchStore", "build_sketch_df"):
        from .geo import build
        return getattr(build, name)
    if name in ("SpatialSketchEngine", "QuerySpec"):
        from .geo import query
        return getattr(query, name)
    if name == "Shape":
        from .core.partitioner import Shape
        return Shape
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
