from rosreestr_xml_to_gis_converter_spark.index.grid import (
    MAX_RES,
    cell_col,
    cell_id,
    cell_parent,
    cell_parent_col,
    cell_res,
    cell_to_bounds,
    cell_to_center,
    grid_disk,
    latlng_to_cell,
    polygon_to_cells,
)

__all__ = [
    "MAX_RES",
    "cell_col",
    "cell_id",
    "cell_parent",
    "cell_parent_col",
    "cell_res",
    "cell_to_bounds",
    "cell_to_center",
    "grid_disk",
    "latlng_to_cell",
    "polygon_to_cells",
]
