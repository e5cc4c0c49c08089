"""StructTypes of the reference record types read off the wire (SURVEY §1.2
schema catalog).

The reference decodes GSON JSON leniently (unknown fields ignored, missing →
null) with all-String numerics parsed ad hoc; here numerics are cast once at
ingest (``cast_statewise`` etc.) to LONG/DOUBLE/TIMESTAMP — SURVEY §1.2
"type-system facts to preserve".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_s = T.StringType()


def _struct(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, _s, True) for n in names])


# covid19-models/.../StatewiseStats.java:14-22 (all String at wire)
STATEWISE_STATS = _struct(
    "state", "statecode", "active", "confirmed", "deaths", "recovered", "lastupdatedtime"
)

# UserRequest.java:14-17 — the ``user-request`` topic value
USER_REQUEST = _struct("chatId", "state")

TS_FMT = "d/MM/yyyy HH:mm:ss"  # Utils.java:32


def cast_statewise(df: DataFrame) -> DataFrame:
    """String wire types → engine types, once at ingest (SURVEY §1.2)."""
    return df.select(
        "state",
        "statecode",
        F.col("active").cast("long").alias("active"),
        F.col("confirmed").cast("long").alias("confirmed"),
        F.col("deaths").cast("long").alias("deaths"),
        F.col("recovered").cast("long").alias("recovered"),
        F.to_timestamp("lastupdatedtime", TS_FMT).alias("last_updated"),
    )
