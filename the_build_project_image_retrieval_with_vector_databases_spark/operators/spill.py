"""Process-temp parquet spill — deterministic cache-lifetime management.

Operators that reuse an expensive intermediate across several joins must
``persist()`` it, but a *query wrapper* returning a lazy DataFrame has no
post-materialization hook to unpersist — every call would leak cached
blocks into the executor storage pool for the session lifetime. The fix
used across the engine: materialize the (small) final result to a
process-temp parquet spill, release every persisted intermediate
immediately, and hand back a plain file-scan DataFrame — zero cached
blocks outlive the call, and the spill dirs are removed at process exit.

At 100 TB this is also the honest shape: the reusable intermediates are
corpus-sized (persist → memory/disk, bounded by the storage pool), while
the materialized results (near-dup pairs, cluster manifests) are the
small end products a pipeline would write to a table anyway.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

_SPILL_DIRS: list[str] = []


def spill_dir(prefix: str) -> str:
    """A fresh process-temp dir, registered for removal at exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    if not _SPILL_DIRS:
        atexit.register(lambda: [shutil.rmtree(p, True) for p in _SPILL_DIRS])
    _SPILL_DIRS.append(d)
    return d


def materialize_and_release(
    df: DataFrame, cache_handles: list, prefix: str
) -> DataFrame:
    """Run ``df`` to a parquet spill, unpersist every handle, return the
    file-scan re-read. The write is the materializing action, so the
    persisted intermediates are live exactly while they are useful."""
    path = spill_dir(prefix)
    df.write.mode("overwrite").parquet(path)
    for h in cache_handles:
        h.unpersist()
    cache_handles.clear()
    # read back with the writer's own schema — the schema is known
    # statically, so the footer-sniffing pass (a measured ~0.1-0.2 s
    # fixed job per spill consumer) is pure waste.
    return df.sparkSession.read.schema(df.schema).parquet(path)
