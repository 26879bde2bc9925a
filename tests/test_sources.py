"""Source-table dispatch (sources/reader.py): the north-rule input can be
named as a catalog table (Iceberg on a real cluster) or a parquet path;
and the local session (sources/session.py) runs UDFs from any directory."""

import os
import subprocess
import sys

from palladian_spark.sources.reader import read_source_table


def test_parquet_path_dispatch(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    out = os.path.join(str(tmp_path), "t.parquet")
    df.write.parquet(out)
    got = read_source_table(spark, out)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]


def test_catalog_table_dispatch(spark):
    """spark.read.table resolves any catalog-visible relation; a temp view
    exercises the same code path the Iceberg catalog serves on a cluster."""
    df = spark.createDataFrame([(3, "c")], ["doc_id", "text"])
    df.createOrReplaceTempView("src_tbl_dispatch")
    got = read_source_table(spark, "table:src_tbl_dispatch")
    assert [r["doc_id"] for r in got.collect()] == [3]


_UDF_FROM_ELSEWHERE = """
import sys
sys.path.insert(0, sys.argv[1])
from palladian_spark.operators.mentions import detect_mentions
from palladian_spark.sources.session import get_spark

spark = get_spark("udf-cwd", master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame(
    [(1, "Barack Obama met Angela Merkel."), (2, "no match"), (3, "")],
    "doc_id long, content string",
)
print("ROWS", len(detect_mentions(df).collect()))
"""


def test_local_session_runs_udfs_from_any_directory(tmp_path):
    """A tool started outside the checkout puts the package on the
    driver's sys.path only; the local session must hand it to the Python
    workers too, or every pandas UDF fails with ModuleNotFoundError."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _UDF_FROM_ELSEWHERE, root],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0
