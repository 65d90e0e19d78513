"""Relational + vector operators (SURVEY §2)."""

from .knn import knn_join, knn_single, radius_join  # noqa: F401
from .sample import stratified_sample  # noqa: F401
from .spill import materialize_and_release, spill_dir  # noqa: F401
