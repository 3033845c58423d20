from .dedupe import keep_first
from .filters import anti_join, cdc_window, not_in
from .merge import merge_upsert
from .skew import salted_join
from .surrogate import assign_missing_keys

__all__ = [
    "anti_join",
    "assign_missing_keys",
    "cdc_window",
    "keep_first",
    "merge_upsert",
    "not_in",
    "salted_join",
]
