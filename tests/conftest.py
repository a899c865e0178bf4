import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The library's default heap is half of physical memory (up to 64g), but the
# suite's JVM heap, its Python workers and a tmpfs shuffle directory all
# share one small host's RAM; G1 expands the heap long before it collects,
# so an uncapped session-scoped JVM can push the host out of memory
# mid-suite. Cap the test JVM unless the caller chose a size.
os.environ.setdefault("DITTO_SPARK_DRIVER_MEM", "4g")

from ditto_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ditto_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    from ditto_spark.synth import generate_transcripts

    df = generate_transcripts(spark, n_base=50, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def small_transcripts(spark):
    from ditto_spark.synth import generate_transcripts

    df = generate_transcripts(spark, n_base=300, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def arrow_frame(spark):
    """`arrow_frame(rows, ddl)`: the frame of `rows` under the DDL schema,
    built through Arrow from pandas, so its scan runs in the JVM. A frame
    from `spark.createDataFrame(<list>)` is a Python RDD scan instead, and
    every task of a plan over it starts Python evaluation."""
    import pandas as pd
    from pyspark.sql.types import StructType

    def build(rows, ddl):
        names = StructType.fromDDL(ddl).names
        return spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)

    return build
