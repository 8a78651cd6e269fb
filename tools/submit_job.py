"""spark-submit entry point — the north rule's deployment shape.

Run as:

    spark-submit --master "local[$(nproc)]" \
        --py-files /tmp/gis_shapefile_spark_pyfiles.zip \
        tools/submit_job.py

The script imports ``gis_shapefile_spark`` from the ``--py-files`` zip
(NOT from a checkout on sys.path — the test runs it from a neutral cwd
to prove that), drives a point-in-polygon join, a kNN join, and the PII
scrubber end-to-end, and prints ONE JSON line of result counts. This is
the packaging/depoyment path a real multi-executor cluster uses; the
in-process sessions used by tests get the identical zip through
``session.get_spark``'s addPyFile.
"""

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    # spark-submit provides master/conf; --py-files is already on the
    # driver's sys.path and shipped to every executor.
    spark = (
        SparkSession.builder.appName("gis_shapefile_spark_submit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    import pandas as pd

    from gis_shapefile_spark.functions import text_analysis as TA
    from gis_shapefile_spark.operators import spatial_join as SJ
    from gis_shapefile_spark.sources import fixtures as FX

    feats = FX.make_features()
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": range(6),
                "lng": [-100.0, -90.0, -80.0, -74.0, -120.0, -95.5],
                "lat": [40.0, 35.0, 33.0, 40.7, 47.0, 29.5],
            }
        )
    )
    idx = SJ.PolygonIndex(spark, feats, res=10)
    n_pip = SJ.point_in_polygon_join(
        spark, pts, idx, res=10, point_id_col="point_id"
    ).count()
    n_knn = SJ.knn_join(
        spark, pts, feats, k=3, res=6, point_id_col="point_id"
    ).count()

    docs = spark.createDataFrame(
        [(0, "mail me a@b.co or call +1 (555) 010-1234")],
        "doc_id long, text string",
    )
    scrubbed = docs.select(TA.pii_scrub_col("text").alias("s")).first().s

    print(
        json.dumps(
            {
                "pip_rows": n_pip,
                "knn_rows": n_knn,
                "scrubbed": scrubbed,
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
