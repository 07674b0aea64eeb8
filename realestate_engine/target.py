"""Log-price target transform with bias-corrected inverse (SURVEY.md
§2.9 M6-M8; reference: src/features/target_transformer.py:24-87).

fit      → count/mean/std of price and of log(price), ONE aggregate job
           (the reference runs two summary().collect() jobs, :34,43).
transform→ adds log_price = ln(price).
inverse  → pred_price = exp(pred) · exp(σ_log²/2)  (log-normal smearing
           correction, :82-87).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class TargetTransformer:
    def __init__(self, target_col: str = "price", transformed_col: str = "log_price"):
        self.target_col = target_col
        self.transformed_col = transformed_col
        self.stats: dict[str, float] | None = None

    def fit(self, df: DataFrame) -> "TargetTransformer":
        if self.target_col not in df.columns:
            raise ValueError(f"missing target column {self.target_col!r}")
        row = df.agg(
            F.count(self.target_col).alias("original_count"),
            F.avg(self.target_col).alias("original_mean"),
            F.stddev_samp(self.target_col).alias("original_std"),
            F.avg(F.log(self.target_col)).alias("log_mean"),
            F.stddev_samp(F.log(self.target_col)).alias("log_std"),
        ).first()
        self.stats = {k: float(row[k]) for k in row.asDict()}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.stats is None:
            raise RuntimeError("TargetTransformer is not fitted")
        if self.target_col not in df.columns:
            raise ValueError(f"missing target column {self.target_col!r}")
        return df.withColumn(self.transformed_col, F.log(F.col(self.target_col)))

    def inverse_transform(self, df: DataFrame, prediction_col: str = "prediction") -> DataFrame:
        """exp(pred) with the smearing factor exp(σ²/2): E[price] for a
        log-normal, not just the median."""
        return df.withColumn(
            f"{prediction_col}_price", F.exp(F.col(prediction_col)) * F.exp(F.lit(self._correction()))
        )

    def inverse_value(self, prediction: float) -> float:
        """``inverse_transform`` of one prediction on the driver. NumPy's
        exp overflows to inf as Spark's does; ``math.exp`` would raise."""
        with np.errstate(over="ignore"):
            return float(np.exp(prediction) * np.exp(self._correction()))

    def _correction(self) -> float:
        if self.stats is None:
            raise RuntimeError("TargetTransformer is not fitted")
        return float(self.stats["log_std"]) ** 2 / 2.0

    def save(self, path: str) -> None:
        if self.stats is None:
            raise RuntimeError("nothing to save: not fitted")
        with open(path, "w") as f:
            json.dump(
                {"target_col": self.target_col, "transformed_col": self.transformed_col, "stats": self.stats},
                f,
                indent=2,
            )

    @classmethod
    def load(cls, path: str) -> "TargetTransformer":
        with open(path) as f:
            data = json.load(f)
        tt = cls(target_col=data["target_col"], transformed_col=data["transformed_col"])
        tt.stats = data["stats"]
        return tt
