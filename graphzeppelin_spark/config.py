"""Unified engine configuration — the reference's CCAlgConfiguration /
DriverConfiguration surface (include/cc_alg_configuration.h,
include/driver_configuration.h) mapped onto this engine's knobs.

reference knob                      -> engine knob
----------------------------------- ------------------------------------
sketches_factor                        SketchConfig.samples_factor
CameoSketch / L0 compile switch        SketchConfig.variant
seed                                   SketchConfig.seed
gutter_sys / gutter_factor             SketchCC(num_partitions=...) (the
                                       guttering system IS the shuffle; its
                                       fan-out is the partition count)
worker_threads / batch_factor          DriverConfig.eager_batch_limit +
                                       Spark's own executor sizing (local[N])
backup_in_mem                          DriverConfig.checkpoint_dir (None =
                                       in-memory localCheckpoint lineage)
-                                      DRIVER_BYTES (driver-side finish
                                       budget of every operator; no
                                       reference analog — its query is
                                       always fully in-process)
"""

from __future__ import annotations

from dataclasses import dataclass

# The one driver byte budget: every driver-side finish (Boruvka tail, exact
# CC, label propagation, PageRank, triangles) and the distributed-CC remap
# collect to the driver only while their data provably fits this many bytes.
DRIVER_BYTES = 64 * 1024 * 1024


@dataclass(frozen=True)
class SketchConfig:
    seed: int = 42
    variant: str = "cameo"  # "cameo" (reference default) | "cubesketch" (l0)
    samples_factor: float = 1.0


@dataclass(frozen=True)
class DriverConfig:
    eager_batch_limit: int = 500_000
    checkpoint_dir: str | None = None
    eager: bool = True
    # cross-batch stream-contract validation (live-edge parity side-table,
    # one extra O(live edges) join+checkpoint per batch); the reference has
    # no analog — it trusts the producer. See streaming/driver.py.
    validate_stream: bool = False
