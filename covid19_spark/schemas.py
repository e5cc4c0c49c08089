"""StructTypes for every reference record type (SURVEY §1.2 schema catalog).

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

# StatewiseDelta.java:12-21 (Longs at wire)
STATEWISE_DELTA = T.StructType(
    [
        T.StructField("state", _s),
        T.StructField("deltaRecovered", T.LongType()),
        T.StructField("deltaDeaths", T.LongType()),
        T.StructField("deltaConfirmed", T.LongType()),
        T.StructField("currentRecovered", T.LongType()),
        T.StructField("currentDeaths", T.LongType()),
        T.StructField("currentConfirmed", T.LongType()),
        T.StructField("lastUpdatedTime", _s),
    ]
)

# district/DistrictwiseData.java:12-23
DISTRICTWISE_DATA = _struct(
    "state", "district", "confirmed", "active", "recovered", "deceased",
    "deltaConfirmed", "deltaRecovered", "deltaDeceased", "notes",
)

# StatewiseTestData.java:14-34 (19 String fields)
STATEWISE_TEST_DATA = _struct(
    "negative", "numcallsstatehelpline", "numicubeds", "numisolationbeds",
    "numventilators", "positive", "source", "source1", "source2", "state",
    "testpositivityrate", "testsperthousand", "totalpeopleinquarantine",
    "totalpeoplereleasedfromquarantine", "totaltested", "unconfirmed",
    "updatedon", "testreportedtoday", "positivereportedtoday",
)

# PatientInfo.java:10-30 (18 String fields)
PATIENT_INFO = _struct(
    "patientnumber", "statepatientnumber", "dateannounced", "agebracket",
    "gender", "detectedcity", "detecteddistrict", "detectedstate",
    "currentstatus", "statuschangedate", "nationality", "notes",
    "backupnotes", "contractedfromwhichpatientsuspected", "estimatedonsetdate",
    "source1", "source2", "source3",
)

# UserPrefs.java:14-24
USER_PREFS = T.StructType(
    [
        T.StructField("userId", _s),
        T.StructField("myStates", T.ArrayType(_s)),
        T.StructField("subscribed", T.BooleanType()),
    ]
)

# UserRequest.java:14-17 / location/UserLocation.java:12-15
USER_REQUEST = _struct("chatId", "state")
USER_LOCATION = _struct("latitude", "longitude")

TS_FMT = "d/MM/yyyy HH:mm:ss"  # Utils.java:32
DATE_FMT = "dd/MM/yyyy"  # Covid19Stats.java:70


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
