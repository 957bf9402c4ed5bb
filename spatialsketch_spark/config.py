"""Engine configuration + SparkSession helpers.

Reference defaults: N=4096, eps=0.1, delta=0.05
(/root/reference/repository/src/main/experiments.cpp:29-47).

Two standard configs:

- ``realistic()`` — the reference's published parameters; estimates carry
  the usual CM/FM/BF error bounds (asserted statistically in tests).
- ``exact_mode(domain)`` — identity hashing with width >= item domain, so
  every synopsis is collision-free and therefore *exact*.  Used by the
  driver's DuckDB-oracle correctness gate: the whole pipeline
  (span extraction -> cell encode -> dyadic explode -> salted build ->
  cover -> probe) is exercised end-to-end and must match exact SQL
  bit-for-bit.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class SketchConfig:
    """Parameters of one SpatialSketch instance (one grid pyramid)."""

    n: int = 4096                 # grid resolution N = 2^k (experiments.cpp:29)
    eps: float = 0.1              # epsilon (experiments.cpp:31)
    delta: float = 0.05           # delta (experiments.cpp:32)
    seed: int = 7                 # our own seed; see SURVEY.md §7 "hash-seed parity"
    item_domain: int = 1 << 32    # item id domain (uint32, README.md:43)
    exact: bool = False           # identity-hash exact mode
    # ECM exponential-histogram capacity k = ceil(1/eps_ecm); exact mode
    # uses a capacity larger than any per-cell stream so buckets never merge.
    ecm_eps: float = 0.5
    # dyadic-CM: number of low levels kept exact (DyadCountMin.h:84 keeps 14
    # *top* levels exact out of 33; we keep the analogous knob).
    dcm_exact_levels: int = 8
    # DynSketch: dropped grid keys (levels pairs) — empty = full pyramid.
    dropped_grids: frozenset = field(default_factory=frozenset)

    @property
    def levels(self) -> int:
        """log2(N) + 1 dyadic levels per axis."""
        return int(math.log2(self.n)) + 1

    @property
    def cm_width(self) -> int:
        if self.exact:
            return int(self.item_domain)
        return math.ceil(math.e / self.eps)        # CountMin.cpp:34-46

    @property
    def cm_depth(self) -> int:
        if self.exact:
            return 1
        return max(1, math.ceil(math.log(1.0 / self.delta)))

    @property
    def ecm_k(self) -> int:
        if self.exact:
            return 1 << 62                          # never merge buckets
        return max(1, math.ceil(1.0 / self.ecm_eps))

    def grid_key(self, kx: int, ky: int) -> int:
        """DimToKey analogue (SpatialSketch.h:189-191) on level exponents."""
        return kx + ky * self.levels

    @staticmethod
    def exact_mode(item_domain: int, n: int = 4096, **kw) -> "SketchConfig":
        return SketchConfig(n=n, item_domain=item_domain, exact=True, **kw)

    @staticmethod
    def realistic(n: int = 4096, **kw) -> "SketchConfig":
        return SketchConfig(n=n, **kw)


def get_spark(app: str = "spatialsketch", cpus: int | None = None,
              shuffle_partitions: int | None = None):
    """Build the standard session. local[...] here; on a real cluster the
    same code ships via spark-submit --py-files (no local assumptions in
    the engine itself). Python workers fork from the engine's daemon
    (``spatialsketch_spark.daemon``), which stops every task from
    re-reading Spark's zip archives; SQL and RDD jobs share its
    workers."""
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "spatialsketch_spark.daemon")
        # SQL Python runners add this variable to the worker environment
        # and RDD runners do not; Spark keys its worker daemons by that
        # environment, so without it the first RDD job (a probe-index
        # batch) starts a second daemon: ~2 s, measured
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        .getOrCreate()
    )
