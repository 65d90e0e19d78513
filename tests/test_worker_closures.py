"""Python-worker closures ship by value.

A Python worker need not have the package on its path: cloudpickle ships
a closure's code with it, but a function it calls from a module that is
not registered for by-value pickling goes by reference, and unpickling it
imports the package. Each closure below is pickled in the driver and
loaded in a fresh interpreter that cannot import the package.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark import cloudpickle

from the_build_project_image_retrieval_with_vector_databases_spark import (
    queries_pipeline,
)
from the_build_project_image_retrieval_with_vector_databases_spark.sources import (
    images,
    media,
)

_PKG = "the_build_project_image_retrieval_with_vector_databases_spark"

# Loads a pickled closure from stdin. A broadcast variable unpickles to
# None: the worker's broadcast registry is not what this checks.
_LOAD = f"""
import importlib.util, pickle, sys
if importlib.util.find_spec({_PKG!r}) is not None:
    sys.exit("the package is importable here")
import pyspark.broadcast
pyspark.broadcast._from_id = lambda bid: None
pickle.loads(sys.stdin.buffer.read())
"""


class _Captured(Exception):
    pass


def _closure(monkeypatch, df_type, build):
    """The function ``build()`` hands to ``mapInPandas``."""
    got = []

    def capture(self, func, schema, *args, **kwargs):
        got.append(func)
        raise _Captured

    monkeypatch.setattr(df_type, "mapInPandas", capture)
    with pytest.raises(_Captured):
        build()
    return got[0]


_BUILDERS = {
    "decode_images": lambda spark, df: images.decode_images(df, decoder="auto"),
    "embed_images_pure": lambda spark, df: images.embed_images_pure(df),
    "embed_images_int": lambda spark, df: images.embed_images_int(df),
    "sample_frames": lambda spark, df: media.sample_frames(df),
    "resize_images": lambda spark, df: media.resize_images(df, 8, 8),
    "audio_chunks": lambda spark, df: media.audio_chunks(df),
    "_decode_rows_query": lambda spark, df: queries_pipeline._decode_rows_query(
        spark, queries_pipeline.PPM_ROOT, "*.ppm", with_md5=True
    ),
}


@pytest.mark.parametrize("name", sorted(_BUILDERS))
def test_closure_loads_without_the_package(spark, monkeypatch, tmp_path, name):
    df = spark.range(1).selectExpr(
        "'a/b.ppm' AS path", "CAST(0 AS BIGINT) AS length", "X'00' AS content"
    )
    fn = _closure(monkeypatch, type(df), lambda: _BUILDERS[name](spark, df))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", _LOAD],
        input=cloudpickle.dumps(fn),
        cwd=tmp_path,
        env=env,
        capture_output=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr.decode()[-2000:]
