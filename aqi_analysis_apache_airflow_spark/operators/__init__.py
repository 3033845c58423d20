from .dedupe import distinct_on, keep_first
from .filters import anti_join, cdc_window, not_in, null_normalize
from .joins import dim_join, full_outer_union_keys
from .merge import merge_upsert
from .project import (
    derive_measured_date,
    rename_columns,
    with_audit_columns,
    with_source_id,
)
from .skew import salted_join
from .surrogate import assign_missing_keys

__all__ = [
    "anti_join",
    "assign_missing_keys",
    "cdc_window",
    "derive_measured_date",
    "dim_join",
    "distinct_on",
    "full_outer_union_keys",
    "keep_first",
    "merge_upsert",
    "not_in",
    "null_normalize",
    "rename_columns",
    "salted_join",
    "with_audit_columns",
    "with_source_id",
]
