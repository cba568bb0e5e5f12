"""etl_ch_destination_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
``bngreen/etl-ch-destination`` (an ETL pipeline with a ClickHouse
destination; reference snapshot at /root/reference contains only its
Apache-2.0 LICENSE — see SURVEY.md §0 for evidence policy).

Architecture: declarative DataFrame/SQL plans executed by Catalyst +
Tungsten; custom library operators only where Spark lacks a primitive
(ASOF join, ReplacingMergeTree-style dedup, MinHash near-dedup, vector
similarity). Designed for 100 TB scale: broadcast dims, partial aggs,
AQE, salting helpers, partitioned columnar sinks.

Every module of the package ships BY VALUE inside pickled Python-worker
closures (mapInPandas, applyInPandas, pandas UDFs). Local-mode workers
put the driver's cwd on sys.path, and the driver contract imports this
package from an arbitrary cwd, so a closure that named engine code by
module reference would fail to import on the worker. cloudpickle treats
every submodule of a registered package as registered, so the one
registration below covers the whole engine.
"""

import sys

from pyspark import cloudpickle

from etl_ch_destination_spark.session import get_spark
from etl_ch_destination_spark.catalog import load_table, load_all, register_views

__all__ = ["get_spark", "load_table", "load_all", "register_views"]
__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
