"""Feature engineering unit tests (reference semantics:
src/features/feature_engineering.py — see SURVEY.md §2.9)."""

from __future__ import annotations

import math

import pytest

from pyspark.ml.feature import OneHotEncoderModel, StringIndexerModel, VectorAssembler

from realestate_engine.features import (
    CAPPED_COLUMNS,
    DERIVED_FEATURES,
    FeatureEngineering,
    add_derived_features,
    add_price_per_m2,
)
from realestate_engine.schemas import LISTINGS_SCHEMA, PRICES_SCHEMA


def _listing(**over):
    base = {f.name: None for f in LISTINGS_SCHEMA.fields}
    base.update(
        id_annonce=1,
        property_type="appartement",
        approximate_latitude=48.8584,
        approximate_longitude=2.2945,
        city="paris",
        postal_code=75001,
        size=50.0,
        nb_rooms=2,
        land_size=100.0,
        nb_photos=5,
    )
    base.update(over)
    return base


def _df(spark, rows):
    return spark.createDataFrame(
        [tuple(r.get(f.name) for f in LISTINGS_SCHEMA.fields) for r in rows], LISTINGS_SCHEMA
    )


def test_derived_features_at_eiffel(spark):
    row = add_derived_features(_df(spark, [_listing()])).first()
    assert row.distance_to_eiffel == pytest.approx(0.0, abs=1e-9)
    assert row.rooms_per_m2 == pytest.approx(2 / 50.0)
    assert row.is_house == 0.0
    assert row.log_size == pytest.approx(math.log(50.0))
    assert row.log_land_size == pytest.approx(math.log(100.0))


def test_derived_features_guards(spark):
    # size<=0 and null lat/lon must hit the guard paths, not NaN/error
    # (reference guards: src/features/feature_engineering.py:94-137)
    rows = [
        _listing(id_annonce=2, size=0.0, land_size=0.0),
        _listing(id_annonce=3, approximate_latitude=None, approximate_longitude=None),
        _listing(id_annonce=4, property_type="house"),
    ]
    out = {r.id_annonce: r for r in add_derived_features(_df(spark, rows)).collect()}
    assert out[2].log_size == 0.0 and out[2].rooms_per_m2 == 0.0 and out[2].log_land_size == 0.0
    assert out[3].distance_to_eiffel == 0.0
    assert out[4].is_house == 1.0


def test_haversine_known_distance(spark):
    # Paris Notre-Dame (48.8530, 2.3499) is ~4.1 km from the Eiffel Tower
    row = add_derived_features(
        _df(spark, [_listing(approximate_latitude=48.8530, approximate_longitude=2.3499)])
    ).first()
    assert 3.5 < row.distance_to_eiffel < 4.8


def test_deviation_b3_is_house_includes_maison(spark):
    # Deviation B3 (features.py module docstring): 'maison' counts as a
    # house alongside the reference's {'house', 'villa'} — pinned so a
    # silent regression back to the reference set fails loudly.
    rows = [
        _listing(id_annonce=10, property_type="maison"),
        _listing(id_annonce=11, property_type="villa"),
        _listing(id_annonce=12, property_type="apartment"),
    ]
    out = {r.id_annonce: r.is_house for r in add_derived_features(_df(spark, rows)).collect()}
    assert out == {10: 1.0, 11: 1.0, 12: 0.0}


def test_deviation_b4_categorical_fill_is_missing():
    # Deviation B4: the categorical sentinel is 'missing' (reference
    # uses 'unknown'); pinned here because transform correctness
    # depends on fit/transform agreeing on one constant.
    from realestate_engine.features import _CATEGORICAL_FILL, _NUMERIC_FILL

    assert _CATEGORICAL_FILL == "missing"
    assert _NUMERIC_FILL == 0.0


def test_price_per_m2_deviation_b2(spark):
    df = _df(spark, [_listing()]).withColumn("price", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(500000.0))
    row = add_price_per_m2(df).first()
    assert row.price_per_m2 == pytest.approx(10000.0)


def _varied_listings(n: int) -> list[dict]:
    return [
        _listing(id_annonce=i, size=30.0 + i, nb_rooms=1 + i % 4,
                 property_type=["appartement", "maison", "villa"][i % 3],
                 energy_performance_category="ABCDEFG"[i % 7],
                 ghg_category="ABCDEFG"[i % 5],
                 exposition=["Nord", "Sud", "Est", "Ouest"][i % 4])
        for i in range(n)
    ]


def test_fit_transform_and_persistence_roundtrip(spark, tmp_path):
    rows = _varied_listings(30)
    fe = FeatureEngineering(strict_mode=True)
    out = fe.fit_transform(_df(spark, rows))
    assert out.count() == 30
    assert "features" in out.columns
    for c in DERIVED_FEATURES:
        assert c in out.columns
    assert set(fe.capping_values) <= set(CAPPED_COLUMNS)

    fe.save(str(tmp_path / "fe"))
    fe2 = FeatureEngineering.load(str(tmp_path / "fe"))
    assert fe2.capping_values == fe.capping_values
    out2 = fe2.transform(_df(spark, rows))
    assert out2.count() == 30


def test_permissive_mode_keeps_unseen_categories(spark):
    train_rows = [_listing(id_annonce=i, property_type="appartement") for i in range(10)]
    fe = FeatureEngineering(strict_mode=False)
    fe.fit_transform(_df(spark, train_rows))
    unseen = [_listing(id_annonce=99, property_type="chateau")]
    assert fe.transform(_df(spark, unseen)).count() == 1  # kept, not dropped


def test_capping_is_single_job_and_clamps(spark):
    rows = [_listing(id_annonce=i, size=float(i)) for i in range(1, 101)]
    fe = FeatureEngineering()
    df = fe.impute(add_derived_features(_df(spark, rows)))
    fe.fit_capping(df, ["size"])
    lo, hi = fe.capping_values["size"]
    capped = fe.apply_capping(df)
    mn, mx = capped.agg({"size": "min"}).first()[0], capped.agg({"size": "max"}).first()[0]
    assert mn >= lo and mx <= hi


def test_encoder_is_three_stages_fitted_in_five_jobs(spark):
    """The encoder is one multi-column StringIndexer, one multi-column
    OneHotEncoder and the assembler, and fit_transform launches 5 Spark
    jobs: 2 for the capping quantiles and 3 for the one indexer's label
    counts (an adaptive-execution aggregate). The per-categorical layout
    (9 stages) launched 14, 3 per StringIndexer."""
    df = _df(spark, _varied_listings(30))
    sc = spark.sparkContext
    tag = "test.features.fit_transform"
    sc.setJobGroup(tag, "fit_transform")
    try:
        fe = FeatureEngineering(strict_mode=True)
        fe.fit_transform(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [type(s) for s in fe.pipeline_model.stages] == [StringIndexerModel, OneHotEncoderModel, VectorAssembler]
    assert len(sc.statusTracker().getJobIdsForGroup(tag)) == 5
