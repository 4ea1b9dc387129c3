"""Unified engine configuration — the reference's CCAlgConfiguration and
driver configuration surface (include/cc_alg_configuration.h,
include/driver_configuration.h) mapped onto this engine's knobs.

reference knob                      -> engine knob
----------------------------------- ------------------------------------
sketches_factor                        SketchConfig.samples_factor
CameoSketch / L0 compile switch        SketchConfig.variant
seed                                   SketchConfig.seed
gutter_sys / gutter_factor             SketchCC(num_partitions=...) (the
                                       guttering system IS the shuffle; its
                                       fan-out is the partition count)
worker_threads / batch_factor          Spark's own executor sizing (local[N])
backup_in_mem                          GraphStreamDriver(checkpoint_dir=...)
                                       (None = in-memory localCheckpoint
                                       lineage)
-                                      DRIVER_BYTES (driver-side finish
                                       budget of every operator; no
                                       reference analog — its query is
                                       always fully in-process)
"""

from __future__ import annotations

from dataclasses import dataclass

# The one driver byte budget: every driver-side finish (Boruvka tail, exact
# CC, label propagation, PageRank, triangles), the distributed-CC remap and
# the stream driver's eager-cache collect bring data to the driver, and the
# iterative operators broadcast a per-vertex table, only while it provably
# fits this many bytes.
DRIVER_BYTES = 64 * 1024 * 1024

# bytes of one skinny two-long row (an edge (src, dst), a (vertex, label)
# pair): the unit every row-counted driver gate sizes its collect in
DRIVER_ROW_BYTES = 16


def fits_driver(nbytes: int, budget: int) -> bool:
    """The one driver-fit check: may `nbytes` of data be collected to the
    driver under `budget`? A budget <= 0 disables every driver finish."""
    return budget > 0 and nbytes <= budget


@dataclass(frozen=True)
class SketchConfig:
    seed: int = 42
    variant: str = "cameo"  # "cameo" (reference default) | "cubesketch" (l0)
    samples_factor: float = 1.0
