from nyc_taxi_pyspark_spark.functions.exact import dsum, davg
from nyc_taxi_pyspark_spark.functions import scalar

__all__ = ["dsum", "davg", "scalar"]
