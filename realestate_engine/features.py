"""Feature engineering for the real-estate domain (SURVEY.md §2.9 M1-M5,
§2.8 F1-F8; reference: src/features/feature_engineering.py).

Semantics reproduced, scale bugs fixed:

- strict/permissive imputation defaults (reference :49-67,83-91);
- haversine distance-to-Eiffel, guarded rooms_per_m2, is_house flag,
  log features (reference :94-148);
- quantile capping — ONE multi-column approxQuantile call instead of
  the reference's 11 sequential per-column jobs (:217-220);
- capping clamp via least/greatest instead of a when-chain (:171-180);
- one multi-column StringIndexer → one multi-column OneHotEncoder →
  VectorAssembler: 3 stages where the reference fits an indexer and an
  encoder per categorical (:226-268), so the fit runs one indexer
  aggregate, not four, and save/load handle 3 stages, not 9;
  artifacts saved in the per-categorical layout still serve
  (``fitted_labels``);
- each row-wise step (impute, derive, cap) as one projection;
- fit-state persistence as JSON + Spark ML pipeline save/load
  (:295-340).

Deviation B2 (SURVEY §8): ``price_per_m2`` is added as an explicit
train-only analytics column (the reference checks for it but never
builds it).

Deviation B3 (documented, intentional): ``is_house`` counts
``property_type`` in {'house', 'villa', 'maison'} — the reference
(src/features/feature_engineering.py:125) uses only {'house',
'villa'}. The synthetic and the reference's French-market data both
carry 'maison' rows; the reference flags them 0.0, which its own
notebook (notebooks/02) treats as a data-quality wart. We keep the
broader set and pin it in tests/test_features.py.

Deviation B4 (documented, intentional): categorical nulls fill with
'missing' — the reference (:91) fills 'unknown'. A constant sentinel
is semantically equivalent through StringIndexer/OneHotEncoder (it
becomes one category either way); 'missing' is kept because it cannot
collide with a real 'unknown' category value in the wild. Pinned in
tests/test_features.py.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import (
    OneHotEncoder,
    OneHotEncoderModel,
    StringIndexer,
    StringIndexerModel,
    VectorAssembler,
)
from pyspark.ml.linalg import Vector, Vectors

from realestate_engine.queries_functions import EARTH_RADIUS_KM, EIFFEL_LAT, EIFFEL_LON, haversine_km

CATEGORICAL_FEATURES = ["property_type", "energy_performance_category", "ghg_category", "exposition"]
NUMERIC_FEATURES = [
    "approximate_latitude",
    "approximate_longitude",
    "size",
    "floor",
    "land_size",
    "energy_performance_value",
    "ghg_value",
    "nb_rooms",
    "nb_bedrooms",
    "nb_bathrooms",
    "nb_parking_places",
    "nb_boxes",
    "nb_photos",
]
DERIVED_FEATURES = ["distance_to_eiffel", "rooms_per_m2", "is_house", "log_size", "log_land_size"]
CAPPED_COLUMNS = ["size", "land_size", "nb_rooms", "nb_bedrooms", "nb_bathrooms", "floor", "nb_photos"]

# Imputation defaults (reference :49-67), the same in both modes:
# numerics fill with 0 and categoricals with 'missing'.
_NUMERIC_FILL = 0.0
_CATEGORICAL_FILL = "missing"


def add_derived_features(df: DataFrame) -> DataFrame:
    """All derived columns as native expressions in one projection."""
    size_ok = F.col("size").isNotNull() & (F.col("size") > 0)
    land_ok = F.col("land_size").isNotNull() & (F.col("land_size") > 0)
    return df.withColumns({
        "distance_to_eiffel": F.when(
            F.col("approximate_latitude").isNotNull() & F.col("approximate_longitude").isNotNull(),
            haversine_km(F.col("approximate_latitude"), F.col("approximate_longitude"), EIFFEL_LAT, EIFFEL_LON),
        ).otherwise(F.lit(0.0)),
        "rooms_per_m2": F.when(
            size_ok & F.col("nb_rooms").isNotNull(), F.col("nb_rooms") / F.col("size")
        ).otherwise(F.lit(0.0)),
        "is_house": F.when(F.col("property_type").isin("house", "villa", "maison"), 1.0).otherwise(0.0),
        "log_size": F.when(size_ok, F.log(F.col("size"))).otherwise(F.lit(0.0)),
        "log_land_size": F.when(land_ok, F.log(F.col("land_size"))).otherwise(F.lit(0.0)),
    })


def derived_row(r: dict[str, Any]) -> dict[str, float]:
    """``add_derived_features`` for one imputed row in plain Python: the
    same expressions in the same order. NumPy's sin/cos/sqrt/arcsin give
    NaN where Spark's do (infinite or out-of-range coordinates); ``math``'s
    would raise."""
    lat, lon = r["approximate_latitude"], r["approximate_longitude"]
    size, land = r["size"], r["land_size"]
    dlat = np.radians(EIFFEL_LAT - lat)
    dlon = np.radians(EIFFEL_LON - lon)
    with np.errstate(invalid="ignore"):
        a = (
            np.sin(dlat / 2) ** 2
            + np.cos(np.radians(lat)) * np.cos(np.radians(EIFFEL_LAT)) * np.sin(dlon / 2) ** 2
        )
        distance = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
    return {
        "distance_to_eiffel": float(distance),
        "rooms_per_m2": r["nb_rooms"] / size if size > 0 else 0.0,
        "is_house": 1.0 if r["property_type"] in ("house", "villa", "maison") else 0.0,
        "log_size": float(np.log(size)) if size > 0 else 0.0,
        "log_land_size": float(np.log(land)) if land > 0 else 0.0,
    }


def add_price_per_m2(df: DataFrame) -> DataFrame:
    """Train-only analytics column (deviation B2 — intended but never
    built in the reference, notebooks/02:111)."""
    ok = F.col("size").isNotNull() & (F.col("size") > 0) & F.col("price").isNotNull()
    return df.withColumn("price_per_m2", F.when(ok, F.col("price") / F.col("size")).otherwise(F.lit(None)))


def fitted_labels(model: PipelineModel) -> list[tuple[str, str, list[str]]]:
    """(categorical, indexed column, fitted labels) per categorical, read
    from a multi-column StringIndexerModel or from the one single-column
    model per categorical that artifacts saved before the encoder became
    multi-column hold (those have no ``inputCols`` set)."""
    out = []
    for s in model.stages:
        if isinstance(s, StringIndexerModel):
            if s.isSet("inputCols"):
                out += zip(s.getInputCols(), s.getOutputCols(), s.labelsArray)
            else:
                out.append((s.getInputCol(), s.getOutputCol(), s.labelsArray[0]))
    return out


class FeatureEngineering:
    """Fit/transform feature pipeline with persisted fit state.

    strict_mode=True  → training: the StringIndexer skips (drops) rows
    with an unseen category.
    strict_mode=False → inference (reference src/models/train.py:210
    reconstructs in permissive mode). A pipeline fitted here would keep
    unseen categories as an extra index, but served artifacts are fitted
    strict and keep their 'skip' stages; ``PredictionService`` clamps
    unseen and null categories to the fitted labels before this runs
    (serving.py, ``_clamp_unseen``).
    """

    def __init__(self, strict_mode: bool = True):
        self.strict_mode = strict_mode
        self.capping_values: dict[str, tuple[float, float]] = {}
        self.pipeline_model: PipelineModel | None = None

    # -- imputation (reference :83-91) ------------------------------------
    def impute(self, df: DataFrame) -> DataFrame:
        fills = {c: _NUMERIC_FILL for c in NUMERIC_FEATURES} | {c: _CATEGORICAL_FILL for c in CATEGORICAL_FEATURES}
        return df.na.fill({c: v for c, v in fills.items() if c in df.columns})

    # -- capping (reference :152-180; fixed to ONE quantile job) ----------
    def fit_capping(self, df: DataFrame, cols: list[str] | None = None) -> None:
        cols = [c for c in (cols or CAPPED_COLUMNS) if c in df.columns]
        # one multi-column GK-sketch job, not len(cols) sequential jobs
        quantiles = df.approxQuantile(cols, [0.01, 0.99], 0.01)
        self.capping_values = {c: (q[0], q[1]) for c, q in zip(cols, quantiles)}

    def apply_capping(self, df: DataFrame) -> DataFrame:
        return df.withColumns({
            c: F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
            for c, (lo, hi) in self.capping_values.items()
            if c in df.columns
        })

    # -- encoder pipeline (reference :226-268) -----------------------------
    def _build_pipeline(self, df: DataFrame) -> Pipeline:
        cats = [c for c in CATEGORICAL_FEATURES if c in df.columns]
        indexed = [f"{c}_indexed" for c in cats]
        encoded = [f"{c}_encoded" for c in cats]
        feature_cols = (
            [c for c in NUMERIC_FEATURES if c in df.columns]
            + [c for c in DERIVED_FEATURES if c in df.columns]
            + encoded
        )
        return Pipeline(stages=[
            StringIndexer(
                inputCols=cats, outputCols=indexed, handleInvalid="skip" if self.strict_mode else "keep"
            ),
            OneHotEncoder(
                inputCols=indexed,
                outputCols=encoded,
                dropLast=True,
                handleInvalid="error" if self.strict_mode else "keep",
            ),
            VectorAssembler(inputCols=feature_cols, outputCol="features", handleInvalid="keep"),
        ])

    def fit_transform(self, df: DataFrame) -> DataFrame:
        df = self.impute(df)
        df = add_derived_features(df)
        self.fit_capping(df)
        df = self.apply_capping(df)
        self.pipeline_model = self._build_pipeline(df).fit(df)
        return self.pipeline_model.transform(df)

    def transform(self, df: DataFrame) -> DataFrame:
        if self.pipeline_model is None:
            raise RuntimeError("FeatureEngineering is not fitted; call fit_transform first")
        df = self.impute(df)
        df = add_derived_features(df)
        df = self.apply_capping(df)
        return self.pipeline_model.transform(df)

    def row_encoder(self) -> Callable[[dict[str, Any]], Vector]:
        """``transform`` for one record on the driver, in plain Python:
        impute → derive (on the uncapped values) → cap, then each input of
        the fitted VectorAssembler in its order, a categorical as its
        StringIndexer index one-hot encoded the way its OneHotEncoder
        does, and the vector in the assembler's dense or sparse form
        (Spark's ``Vector.compressed``), so a model sees the same bits on
        both paths. The encoder raises ValueError on a category its
        indexer has not seen, where the Spark path's 'skip' drops the row.
        Pinned to ``transform`` by tests/test_serving.py."""
        if self.pipeline_model is None:
            raise RuntimeError("FeatureEngineering is not fitted; call fit_transform first")
        stages = self.pipeline_model.stages
        index = {  # indexed column -> (categorical, {label: index})
            dst: (src, {label: i for i, label in enumerate(labels)})
            for src, dst, labels in fitted_labels(self.pipeline_model)
        }
        onehot = {}  # encoded column -> (categorical, {label: index}, width)
        for s in stages:
            if isinstance(s, OneHotEncoderModel):
                extra = (s.getHandleInvalid() == "keep") - s.getDropLast()
                for src, dst, n in zip(s.getInputCols(), s.getOutputCols(), s.categorySizes):
                    onehot[dst] = (*index[src], n + extra)
        assembled = next(s for s in stages if isinstance(s, VectorAssembler)).getInputCols()
        caps = self.capping_values

        def encode(rec: dict[str, Any]) -> Vector:
            r = {}
            for c in NUMERIC_FEATURES:
                v = rec.get(c)
                r[c] = _NUMERIC_FILL if v is None or v != v else v  # na.fill also fills NaN
            for c in CATEGORICAL_FEATURES:
                r[c] = _CATEGORICAL_FILL if rec.get(c) is None else rec[c]
            r.update(derived_row(r))
            for c, (lo, hi) in caps.items():
                r[c] = min(max(r[c], lo), hi)
            vec = []
            for c in assembled:
                if c not in onehot:
                    vec.append(float(r[c]))
                    continue
                src, labels, width = onehot[c]
                i = labels.get(r[src])
                if i is None:
                    raise ValueError(f"unseen {src} category {r[src]!r}")
                vec.extend(1.0 if j == i else 0.0 for j in range(width))
            nonzero = {i: v for i, v in enumerate(vec) if v != 0.0}
            if 1.5 * (len(nonzero) + 1.0) < len(vec):
                return Vectors.sparse(len(vec), nonzero)
            return Vectors.dense(vec)

        return encode

    # -- persistence (reference :295-340) ----------------------------------
    def save(self, path: str) -> None:
        if self.pipeline_model is None:
            raise RuntimeError("nothing to save: not fitted")
        self.pipeline_model.write().overwrite().save(os.path.join(path, "pipeline"))
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump(
                {
                    "strict_mode": self.strict_mode,
                    "capping_values": {c: list(v) for c, v in self.capping_values.items()},
                },
                f,
                indent=2,
            )

    @classmethod
    def load(cls, path: str) -> "FeatureEngineering":
        with open(os.path.join(path, "params.json")) as f:
            params = json.load(f)
        fe = cls(strict_mode=params["strict_mode"])
        fe.capping_values = {c: (v[0], v[1]) for c, v in params["capping_values"].items()}
        fe.pipeline_model = PipelineModel.load(os.path.join(path, "pipeline"))
        return fe
