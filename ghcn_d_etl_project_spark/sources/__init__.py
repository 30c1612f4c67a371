from .readers import ColSpec, load_table, read_fixed_width
from .writers import write_partitioned

__all__ = [
    "ColSpec",
    "load_table",
    "read_fixed_width",
    "write_partitioned",
]
