"""Explicit schemas for the engine.

- ``LISTINGS_SCHEMA``: the reference's 27-field property-listings
  StructType (reference: src/inference/predict.py:31-59; cast list at
  notebooks/00_prepare_data.py:65-87). Explicit schemas replace
  ``inferSchema=True`` in production paths: at 100 TB a schema-inference
  pass is a full extra read of the data.
- ``CAST_PLAN``: the 21-column cast-normalization applied right after
  raw CSV load (reference: notebooks/00_prepare_data.py:65-87).
- Testdata schemas for the driver's TPC-H-ish tables (FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference domain: real-estate listings
# ---------------------------------------------------------------------------

_NUMERIC_INT = [
    "id_annonce",
    "postal_code",
    "floor",
    "nb_rooms",
    "nb_bedrooms",
    "nb_bathrooms",
    "nb_parking_places",
    "nb_boxes",
    "nb_photos",
]
_CATEGORICAL = [
    "property_type",
    "city",
    "energy_performance_category",
    "ghg_category",
    "exposition",
]

LISTINGS_SCHEMA = T.StructType(
    [T.StructField("id_annonce", T.IntegerType(), True)]
    + [T.StructField(c, T.StringType(), True) for c in _CATEGORICAL[:1]]
    + [
        T.StructField("approximate_latitude", T.DoubleType(), True),
        T.StructField("approximate_longitude", T.DoubleType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("postal_code", T.IntegerType(), True),
        T.StructField("size", T.DoubleType(), True),
        T.StructField("floor", T.IntegerType(), True),
        T.StructField("land_size", T.DoubleType(), True),
        T.StructField("energy_performance_value", T.DoubleType(), True),
        T.StructField("energy_performance_category", T.StringType(), True),
        T.StructField("ghg_value", T.DoubleType(), True),
        T.StructField("ghg_category", T.StringType(), True),
        T.StructField("exposition", T.StringType(), True),
        T.StructField("nb_rooms", T.IntegerType(), True),
        T.StructField("nb_bedrooms", T.IntegerType(), True),
        T.StructField("nb_bathrooms", T.IntegerType(), True),
        T.StructField("nb_parking_places", T.IntegerType(), True),
        T.StructField("nb_boxes", T.IntegerType(), True),
        T.StructField("nb_photos", T.IntegerType(), True),
        T.StructField("has_a_balcony", T.DoubleType(), True),
        T.StructField("nb_terraces", T.DoubleType(), True),
        T.StructField("has_a_cellar", T.DoubleType(), True),
        T.StructField("has_a_garage", T.DoubleType(), True),
        T.StructField("has_air_conditioning", T.DoubleType(), True),
        T.StructField("last_floor", T.DoubleType(), True),
        T.StructField("upper_floors", T.DoubleType(), True),
    ]
)

PRICES_SCHEMA = T.StructType(
    [
        T.StructField("id_annonce", T.IntegerType(), True),
        T.StructField("price", T.DoubleType(), True),
    ]
)

# 21-column cast plan (column -> Spark type name) mirroring
# notebooks/00_prepare_data.py:65-87.
CAST_PLAN: dict[str, str] = {
    **{c: "int" for c in _NUMERIC_INT},
    **{
        c: "double"
        for c in [
            "approximate_latitude",
            "approximate_longitude",
            "size",
            "land_size",
            "energy_performance_value",
            "ghg_value",
        ]
    },
    **{c: "string" for c in _CATEGORICAL},
    "price": "double",
}

# ---------------------------------------------------------------------------
# Driver testdata (FIXTURES.md §B) — explicit schemas so production reads
# never rely on inference.
# ---------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampType(), True),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}
