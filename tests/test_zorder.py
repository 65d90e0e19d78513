"""Z-order key: the Morton interleave is bit-exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.plans.zorder import (
    z_interleave,
)


def test_z_interleave_bit_exact(spark):
    rows = (
        spark.range(1)
        .select(
            z_interleave(F.lit(0b1010), F.lit(0b0110), bits=4).alias("z"),
            z_interleave(F.lit(0), F.lit(0), bits=4).alias("z0"),
            z_interleave(F.lit(15), F.lit(15), bits=4).alias("zf"),
        )
        .first()
    )
    # a=1010, b=0110 -> bits: pos0=a0=0, pos1=b0=0, pos2=a1=1, pos3=b1=1,
    # pos4=a2=0, pos5=b2=1, pos6=a3=1, pos7=b3=0  -> 0b01101100 = 108
    assert rows.z == 0b01101100 == 108
    assert rows.z0 == 0
    assert rows.zf == 255
