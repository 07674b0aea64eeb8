"""Batch inference (SURVEY.md §2.9 M13; reference:
src/inference/predict.py:14-62, src/webapp/app.py:68-112).

Composition: FeatureEngineering.transform (permissive mode) → model
transform → smearing inverse → (id, predicted price).

Single-record prediction does not build a 1-row DataFrame (the
reference's src/inference/predict.py:62 shape, two Spark jobs per
record): ``PredictionService.single`` (serving.py) scores on the driver
with the row scorer, i.e. ``FeatureEngineering.row_encoder``, one
``model.predict`` call and ``TargetTransformer.inverse_value``. That is
a second code path; ``test_single_matches_batch_path`` in
tests/test_serving.py pins it to this one to the cent for rf, lr and
gbt, on generated listings and on null, unseen, zero, NaN and
out-of-range inputs."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realestate_engine.features import FeatureEngineering
from realestate_engine.target import TargetTransformer
from realestate_engine.train import ModelTrainer


def predict_batch(
    df: DataFrame,
    fe: FeatureEngineering,
    trainer: ModelTrainer,
    tt: TargetTransformer,
    id_col: str = "id_annonce",
) -> DataFrame:
    """df(listings) → (id, predicted_price). Fully lazy: one plan, no
    intermediate actions (the reference ran 4 audit count() jobs per
    upload, src/webapp/app.py:74-101)."""
    feats = fe.transform(df)
    preds = trainer.predict(feats)
    out = tt.inverse_transform(preds, prediction_col="prediction")
    return out.select(F.col(id_col), F.col("prediction_price").alias("predicted_price"))

