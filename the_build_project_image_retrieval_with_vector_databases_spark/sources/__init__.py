"""Sources & sinks (SURVEY §2.1)."""

from .tables import TABLES, load_table  # noqa: F401
from .manifest import read_manifest  # noqa: F401
