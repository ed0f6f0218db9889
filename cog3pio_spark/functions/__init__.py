"""Column-level scalar functions: affine math, CRS mapping, cell udfs.

Everything here is either pure Catalyst column arithmetic (JVM-side,
whole-stage-codegen) or a vectorized ``arrow_udf`` (Arrow-batched numpy) —
never per-row Python (input_hint).
"""

from cog3pio_spark.functions.geo import (  # noqa: F401
    affine_world_x,
    affine_world_y,
    world_to_lat,
    world_to_lng,
    x_coords_expr,
    y_coords_expr,
)
from cog3pio_spark.functions.cells import (  # noqa: F401
    h3x_cell,
    h3x_kring,
    h3x_multi_res,
    h3x_parent,
    s2_cell,
    s2_parent,
    s2_range_max,
    s2_range_min,
)
