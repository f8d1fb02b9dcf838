from .latest import latest_per_key, topk_per_key
from .merge import merge_insert_missing, delete_insert

__all__ = [
    "latest_per_key",
    "topk_per_key",
    "merge_insert_missing",
    "delete_insert",
]
