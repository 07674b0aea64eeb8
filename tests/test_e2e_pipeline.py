"""End-to-end reproduction of the reference's three entry points
(SURVEY.md §3 EP1-EP3) on synthetic listings: ETL join → feature
engineering fit → log-target train → persist everything → reload →
batch + single-row inference with smearing-corrected prices."""

from __future__ import annotations

import math
import random

import pytest

from pyspark.sql import functions as F

from realestate_engine.features import FeatureEngineering, add_price_per_m2
from realestate_engine.predict import predict_batch
from realestate_engine.schemas import LISTINGS_SCHEMA
from realestate_engine.serving import PredictionService
from realestate_engine.target import TargetTransformer
from realestate_engine.train import ModelTrainer

_TYPES = ["apartment", "house", "villa", "land"]
_CATS = ["A", "B", "C", "D"]
_EXPO = ["north", "south", "east", "west"]


def _listing(i: int, rng: random.Random) -> tuple:
    rec = {
        "id_annonce": i,
        "property_type": _TYPES[i % 4],
        "approximate_latitude": 48.0 + rng.random(),
        "approximate_longitude": 2.0 + rng.random(),
        "city": f"city{i % 10}",
        "postal_code": 75000 + i % 100,
        "size": 20.0 + 200.0 * rng.random(),
        "floor": i % 6,
        "land_size": 500.0 * rng.random() if i % 4 in (1, 2) else None,
        "energy_performance_value": 50.0 + 300.0 * rng.random(),
        "energy_performance_category": _CATS[i % 4],
        "ghg_value": 5.0 + 50.0 * rng.random(),
        "ghg_category": _CATS[(i + 1) % 4],
        "exposition": _EXPO[i % 4],
        "nb_rooms": 1 + i % 7,
        "nb_bedrooms": i % 4,
        "nb_bathrooms": i % 3,
        "nb_parking_places": i % 2,
        "nb_boxes": i % 2,
        "nb_photos": i % 12,
        "has_a_balcony": float(i % 2),
        "nb_terraces": float(i % 3),
        "has_a_cellar": float(i % 2),
        "has_a_garage": float((i + 1) % 2),
        "has_air_conditioning": float(i % 5 == 0),
        "last_floor": float(i % 6 == 5),
        "upper_floors": float(i % 6),
    }
    return tuple(rec.get(f.name) for f in LISTINGS_SCHEMA.fields)


@pytest.fixture(scope="module")
def listings_and_prices(spark):
    rng = random.Random(7)
    x = spark.createDataFrame([_listing(i, rng) for i in range(400)], LISTINGS_SCHEMA)
    # price correlated with size + rooms so the model has signal
    y = x.select(
        "id_annonce",
        (
            F.col("size") * 3000.0
            + F.col("nb_rooms") * 20000.0
            + F.when(F.col("property_type").isin("house", "villa"), 150000.0).otherwise(0.0)
            + 50000.0
        ).alias("price"),
    )
    return x, y


def test_ep1_etl_join_and_audit(listings_and_prices):
    x, y = listings_and_prices
    joined = x.join(y, "id_annonce")  # EP1: X ⋈ y on id_annonce
    assert joined.count() == 400
    orphans = x.join(y, "id_annonce", "left_anti")  # J2 integrity audit
    assert orphans.count() == 0
    with_ppm2 = add_price_per_m2(joined)
    assert with_ppm2.filter(F.col("price_per_m2").isNull()).count() == 0


def test_ep2_ep3_train_persist_reload_predict(listings_and_prices, tmp_path):
    x, y = listings_and_prices
    joined = x.join(y, "id_annonce")

    # EP2: fit features + target, train on log_price (B1 fixed)
    fe = FeatureEngineering(strict_mode=True)
    feats = fe.fit_transform(joined)
    tt = TargetTransformer().fit(feats)
    train_df = tt.transform(feats)
    trainer = ModelTrainer(model_type="rf", label_col="log_price").train(train_df)
    metrics = trainer.evaluate(train_df)
    assert all(math.isfinite(v) for v in metrics.values())
    assert metrics["r2"] > 0.5  # the synthetic signal is learnable

    # persist all three artifacts (S8/S9), reload into a fresh composition
    fe.save(str(tmp_path / "fe"))
    tt.save(str(tmp_path / "tt.json"))
    trainer.save(str(tmp_path / "model"))
    fe2 = FeatureEngineering.load(str(tmp_path / "fe"))
    tt2 = TargetTransformer.load(str(tmp_path / "tt.json"))
    trainer2 = ModelTrainer.load(str(tmp_path / "model"))

    # EP3 batch: prices come back in euro space (smearing-inverted),
    # no inf/NaN (the reference's B1 bug shipped inf predictions)
    preds = predict_batch(x, fe2, trainer2, tt2).collect()
    assert len(preds) == 400
    assert all(p.predicted_price is not None and math.isfinite(p.predicted_price) for p in preds)
    assert all(50000.0 < p.predicted_price < 5e6 for p in preds)

    # EP3 single-row: scored on the driver, the batch row's price to the cent
    rng = random.Random(7)
    rec = {f.name: v for f, v in zip(LISTINGS_SCHEMA.fields, _listing(0, rng))}
    single = PredictionService(x.sparkSession, fe2, trainer2, tt2).single(rec)
    batch_row = next(p for p in preds if p.id_annonce == 0)
    assert single["predicted_price"] == round(batch_row.predicted_price, 2)


def test_model_quality_story_heldout_and_stability(listings_and_prices):
    """The model-quality story vs BASELINE.md, stated as a test: the
    reference's headline RF numbers (rmse 403416.58 / r2 0.6033,
    models/model_comparison.csv:2-4) are computed on its private
    X_train.csv, which is a missing large blob upstream
    (data/raw/.MISSING_LARGE_BLOBS:1) — raw-data parity is
    unreproducible IN PRINCIPLE. What the repo asserts instead: on the
    seeded synthetic listings, a deterministic 80/20 split trains an
    RF whose HELD-OUT metrics are finite, clear r2 > 0.5, and are
    bit-stable across identically-seeded runs."""
    x, y = listings_and_prices
    joined = x.join(y, "id_annonce")
    is_test = F.pmod(F.xxhash64("id_annonce"), F.lit(5)) == 0
    train, heldout = joined.filter(~is_test), joined.filter(is_test)
    assert 0 < heldout.count() < 150

    def run() -> dict[str, float]:
        fe = FeatureEngineering(strict_mode=True)
        feats = fe.fit_transform(train)
        tt = TargetTransformer().fit(feats)
        trainer = ModelTrainer(model_type="rf", label_col="log_price").train(tt.transform(feats))
        return trainer.evaluate(tt.transform(fe.transform(heldout)))

    m1, m2 = run(), run()
    assert all(math.isfinite(v) for v in m1.values())
    assert m1["r2"] > 0.5  # learnable signal survives the split
    for k in m1:  # fixed SEED + same data → same model, same metrics
        assert m1[k] == pytest.approx(m2[k], rel=1e-9)


def test_cli_prepare_train_predict_roundtrip(listings_and_prices, tmp_path, capsys):
    """The three reference entry points as CLI commands: prepare → train
    → predict over CSV, artifacts on disk between steps."""
    import json

    from realestate_engine import cli

    x, y = listings_and_prices
    x_csv = str(tmp_path / "x_csv")
    y_csv = str(tmp_path / "y_csv")
    x.write.option("header", True).csv(x_csv)
    y.write.option("header", True).csv(y_csv)

    data = str(tmp_path / "data.parquet")
    cli.main(["prepare", "--x", x_csv, "--y", y_csv, "--out", data])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_written"] == 400 and out["x_rows_without_price"] == 0

    model_dir = str(tmp_path / "artifacts")
    cli.main(["train", "--data", data, "--model-dir", model_dir, "--model", "lr"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(v == v and v is not None for v in out["metrics"].values())  # finite

    preds_csv = str(tmp_path / "preds")
    cli.main(["predict", "--data", x_csv, "--model-dir", model_dir, "--out", preds_csv])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["predictions"] == 400 and out["invalid"] == 0


def test_cli_corpus_dedup_roundtrip(tmp_path, capsys):
    """EP4: the corpus command drops exactly the non-canonical cluster
    members and writes the kept documents as parquet."""
    import json

    from realestate_engine import cli
    from tests.conftest import SF_DIR

    out = str(tmp_path / "corpus_out")
    cli.main(["corpus", "--sf-dir", SF_DIR, "--out", out])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 500
    assert 0 < stats["docs_kept"] < stats["docs_in"]
    assert stats["near_dups_dropped"] > 0


def test_cli_compare_three_models(listings_and_prices, tmp_path, capsys):
    """EP2b: one `compare` invocation reproduces the reference's
    side-by-side rmse/r2/mae table (notebooks/03_model_training.py:
    93-110,199-227; models/model_comparison.csv layout) and persists
    the best-by-RMSE model's artifacts ready for `predict`."""
    import json

    from realestate_engine import cli

    x, y = listings_and_prices
    data = str(tmp_path / "data.parquet")
    x.join(y, "id_annonce").write.parquet(data)

    model_dir = str(tmp_path / "cmp_artifacts")
    cli.main(["compare", "--data", data, "--model-dir", model_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert set(out["results"]) == {"rf", "lr", "gbt"}
    for mt, metrics in out["results"].items():
        assert set(metrics) == {"rmse", "r2", "mae"}
        assert all(v == v and v is not None for v in metrics.values())
    assert out["best_model"] == min(out["results"], key=lambda mt: out["results"][mt]["rmse"])

    # the CSV matches the reference artifact's layout exactly
    with open(out["comparison_csv"]) as f:
        lines = [line.strip() for line in f]
    assert lines[0] == ",rf,lr,gbt"
    assert [line.split(",")[0] for line in lines[1:]] == ["rmse", "r2", "mae"]
    for line in lines[1:]:
        vals = [float(v) for v in line.split(",")[1:]]
        assert len(vals) == 3

    # the persisted best model serves batch predictions end-to-end
    from realestate_engine.features import FeatureEngineering
    from realestate_engine.predict import predict_batch
    from realestate_engine.target import TargetTransformer
    from realestate_engine.train import ModelTrainer

    import os

    fe = FeatureEngineering.load(os.path.join(model_dir, "fe"))
    fe.strict_mode = False
    tt = TargetTransformer.load(os.path.join(model_dir, "tt.json"))
    trainer = ModelTrainer.load(os.path.join(model_dir, "model"))
    assert trainer.model_type == out["best_model"]
    preds = predict_batch(x, fe, trainer, tt)
    assert preds.count() == 400
    assert preds.filter(preds.predicted_price.isNull()).count() == 0


def test_cli_full_chain_prepare_compare_predict(listings_and_prices, tmp_path, capsys):
    """EP parity audit (VERDICT r11 #8): the reference's three entry
    points compose end-to-end through ONE artifact directory —
    EP1 `prepare` (CSV join → typed parquet) → EP2b `compare` (3-model
    side-by-side, best-by-RMSE persisted) → EP3 `predict` (reload the
    winning artifacts, batch CSV inference). Each step consumes only
    the previous step's on-disk output, exactly as a reference user
    would chain them (SURVEY §3)."""
    import json

    from realestate_engine import cli

    x, y = listings_and_prices
    x_csv = str(tmp_path / "x_csv")
    y_csv = str(tmp_path / "y_csv")
    x.write.option("header", True).csv(x_csv)
    y.write.option("header", True).csv(y_csv)

    # EP1: prepare
    data = str(tmp_path / "chain_data.parquet")
    cli.main(["prepare", "--x", x_csv, "--y", y_csv, "--out", data])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_written"] == 400

    # EP2b: compare (trains rf/lr/gbt, persists the best)
    model_dir = str(tmp_path / "chain_artifacts")
    cli.main(["compare", "--data", data, "--model-dir", model_dir])
    cmp_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(cmp_out["results"]) == {"rf", "lr", "gbt"}
    assert cmp_out["best_model"] == min(
        cmp_out["results"], key=lambda mt: cmp_out["results"][mt]["rmse"]
    )

    # EP3: predict with the artifacts `compare` persisted
    preds_csv = str(tmp_path / "chain_preds")
    cli.main(["predict", "--data", x_csv, "--model-dir", model_dir, "--out", preds_csv])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["predictions"] == 400 and out["invalid"] == 0
