"""The webapp-analogue serving surface (serving.py): artifact load →
single + batch prediction over a stdlib HTTP JSON API. The driver-side
single-listing scorer is asserted against the Spark batch path, to
the cent, so the served numbers cannot drift."""

from __future__ import annotations

import json
import math
import random
import socket
import sys
import threading
import urllib.error
import urllib.request

import pytest

from pyspark.ml import Pipeline
from pyspark.ml.feature import OneHotEncoder, StringIndexer, StringIndexerModel
from pyspark.sql import functions as F

from realestate_engine.features import CATEGORICAL_FEATURES, FeatureEngineering, add_derived_features, fitted_labels
from realestate_engine.schemas import LISTINGS_SCHEMA
from realestate_engine.serving import PredictionService, RouteStats, serve
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


def _train_service(spark, root, model_type: str, fit=FeatureEngineering.fit_transform):
    """Fit features (with ``fit``), target and a ``model_type`` model on
    300 generated listings, save the artifacts under ``root`` and load
    them back."""
    rng = random.Random(11)
    x = spark.createDataFrame([_listing(i, rng) for i in range(300)], LISTINGS_SCHEMA)
    y = x.select(
        "id_annonce",
        (F.col("size") * 3000.0 + F.col("nb_rooms") * 20000.0 + 50000.0).alias("price"),
    )
    joined = x.join(y, "id_annonce")
    fe = FeatureEngineering(strict_mode=True)
    feats = fit(fe, joined)
    tt = TargetTransformer().fit(feats)
    trainer = ModelTrainer(model_type=model_type, label_col="log_price").train(tt.transform(feats))
    fe.save(str(root / "fe"))
    tt.save(str(root / "tt.json"))
    trainer.save(str(root / "model"))
    return PredictionService.load(spark, str(root)), x


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    return _train_service(spark, tmp_path_factory.mktemp("artifacts"), "rf")


def _fit_per_categorical(fe: FeatureEngineering, df):
    """``fit_transform`` with the encoder layout artifacts were saved in
    before it became multi-column: one single-column StringIndexer and
    one OneHotEncoder per categorical, then the same assembler (9
    stages)."""
    df = add_derived_features(fe.impute(df))
    fe.fit_capping(df)
    df = fe.apply_capping(df)
    stages = []
    for c in CATEGORICAL_FEATURES:
        stages.append(StringIndexer(inputCol=c, outputCol=f"{c}_indexed", handleInvalid="skip"))
        stages.append(OneHotEncoder(
            inputCols=[f"{c}_indexed"], outputCols=[f"{c}_encoded"], dropLast=True, handleInvalid="error"
        ))
    stages.append(fe._build_pipeline(df).getStages()[-1])
    fe.pipeline_model = Pipeline(stages=stages).fit(df)
    return fe.pipeline_model.transform(df)


@pytest.fixture(scope="module")
def per_categorical_service(spark, tmp_path_factory):
    return _train_service(spark, tmp_path_factory.mktemp("per_categorical"), "rf", fit=_fit_per_categorical)


@pytest.fixture(scope="module", params=["rf", "lr", "gbt", "per_categorical"])
def model_service(request, spark, tmp_path_factory):
    if request.param == "per_categorical":
        return request.getfixturevalue("per_categorical_service")
    return _train_service(spark, tmp_path_factory.mktemp(request.param), request.param)


def _edge_cases(rng: random.Random) -> list[dict]:
    """Listings that exercise every fill, clamp and guard of the feature
    path: null and unseen categoricals, size 0 or NaN, null land_size,
    null coordinates and rooms, and coordinates or values whose derived
    features or prediction are NaN or infinite on the Spark side."""
    changes = [
        {"property_type": None},
        {"exposition": "Nord", "energy_performance_category": "Unknown"},
        {"property_type": "maison", "ghg_category": None},
        {"size": 0.0},
        {"size": float("nan")},
        {"land_size": None},
        {"approximate_latitude": None, "approximate_longitude": None},
        {"nb_rooms": None},
        {"approximate_latitude": 130.0, "approximate_longitude": -177.7},
        {"approximate_latitude": float("inf")},
        {"energy_performance_value": 1e300},
    ]
    base = [dict(zip(LISTINGS_SCHEMA.fieldNames(), _listing(i, rng))) for i in range(len(changes))]
    return [{**rec, **change, "id_annonce": -1 - i} for i, (rec, change) in enumerate(zip(base, changes))]


def _cents(price: float):
    return "nan" if math.isnan(price) else round(price, 2)


def test_single_matches_batch_path(model_service):
    """The drift guard for the driver-side scorer: every single() price
    equals batch_df's on the same listing, to the cent, on 240
    unseen generated listings and on every edge case."""
    svc, _x = model_service
    rng = random.Random(23)
    recs = [dict(zip(LISTINGS_SCHEMA.fieldNames(), _listing(i, rng))) for i in range(1000, 1240)]
    recs += _edge_cases(rng)
    df = svc.spark.createDataFrame(
        [tuple(r[f] for f in LISTINGS_SCHEMA.fieldNames()) for r in recs], LISTINGS_SCHEMA
    )
    want = {r["id_annonce"]: _cents(r["predicted_price"]) for r in svc.batch_df(df).collect()}
    got = {}
    for rec in recs:
        out = svc.single(rec)
        got[out["id_annonce"]] = _cents(out["predicted_price"])
    assert len(want) == len(recs)
    assert got == want


def test_per_categorical_artifacts_still_serve(per_categorical_service, service):
    """Artifacts saved with one single-column StringIndexerModel per
    categorical (no ``inputCols`` set) load with the same labels as the
    multi-column fit on the same rows; test_single_matches_batch_path
    checks that they serve."""
    model = per_categorical_service[0].fe.pipeline_model
    assert len(model.stages) == 9
    assert not any(s.isSet("inputCols") for s in model.stages if isinstance(s, StringIndexerModel))
    assert fitted_labels(model) == fitted_labels(service[0].fe.pipeline_model)


def test_single_launches_no_spark_job(service):
    svc, _x = service
    sc = svc.spark.sparkContext
    rng = random.Random(5)
    tag = "test.single.no_job"
    sc.setJobGroup(tag, "single() on the driver")
    try:
        for i in range(5):
            svc.single(dict(zip(LISTINGS_SCHEMA.fieldNames(), _listing(2000 + i, rng))))
        svc.single(_edge_cases(rng)[0])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(tag)) == []


def test_batch_audit_single_pass(service):
    svc, x = service
    audit = svc.batch_audit(x)
    assert audit["n_rows"] == 300
    # land_size is null for half the generator's rows; non-null cols absent
    assert audit["null_counts"].get("land_size", 0) == 150
    assert "size" not in audit["null_counts"]


def test_http_api_end_to_end(service, tmp_path):
    svc, x = service
    server = serve(svc, port=0)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/health", timeout=30) as r:
            assert json.load(r)["status"] == "ok"

        rng = random.Random(11)
        rec = {f.name: v for f, v in zip(LISTINGS_SCHEMA.fields, _listing(0, rng))}
        req = urllib.request.Request(
            f"{base}/predict",
            data=json.dumps(rec).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            single = json.load(r)
        assert single["id_annonce"] == 0 and single["predicted_price"] > 0

        # batch: round-trip 20 listings through CSV text
        sub = x.filter(F.col("id_annonce") < 20)
        csv_dir = tmp_path / "csv"
        sub.coalesce(1).write.option("header", "true").mode("overwrite").csv(str(csv_dir))
        csv_text = next(csv_dir.glob("part-*.csv")).read_text()
        req = urllib.request.Request(f"{base}/predict_batch", data=csv_text.encode())
        with urllib.request.urlopen(req, timeout=120) as r:
            batch = json.load(r)
        assert batch["audit"]["n_rows"] == 20
        assert len(batch["predictions"]) == 20
        assert {p["id_annonce"] for p in batch["predictions"]} == set(range(20))
        assert all(p["predicted_price"] > 0 for p in batch["predictions"])

        # malformed request, or a value the listing schema does not accept
        # → HTTP 400, server stays alive
        bad_bodies = [b"not json", b"[1, 2]"] + [
            json.dumps({**rec, **change}).encode()
            for change in (
                {"floor": 2.5},
                {"size": "abc"},
                {"nb_rooms": True},
                {"size": True},
                {"id_annonce": 2**31},
            )
        ]
        for body in bad_bodies:
            bad = urllib.request.Request(f"{base}/predict", data=body)
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(bad, timeout=30)
            assert ei.value.code == 400, body
        # a Content-Length that is no length (urllib always sends a
        # valid one, so these go over a raw socket, with no body)
        for length in (b"abc", b"-1"):
            with socket.create_connection(("127.0.0.1", port), timeout=30) as sock:
                sock.sendall(b"POST /predict HTTP/1.0\r\nContent-Length: " + length + b"\r\n\r\n")
                reply = b""
                while chunk := sock.recv(4096):
                    reply += chunk
            assert reply.split(b" ", 2)[1:2] == [b"400"], (length, reply)
        with urllib.request.urlopen(f"{base}/health", timeout=30) as r:
            assert json.load(r)["status"] == "ok"
    finally:
        server.shutdown()
        server.server_close()


def _js_json(payload: dict) -> bytes:
    """``JSON.stringify`` of ``payload``: a whole-number float such as
    50.0 goes over the wire as ``50``."""
    return json.dumps(
        {k: int(v) if isinstance(v, float) and v.is_integer() else v for k, v in payload.items()}
    ).encode()


def test_form_page_serves_and_default_submission_predicts(service):
    """GET / returns the interactive form with the reference webapp's
    exact fields and option lists; POSTing the form's default payload,
    serialized as the inline JS serializes it, yields a prediction."""
    from realestate_engine.serving import _CATS, _NUMS, render_form_page

    svc, _x = service
    server = serve(svc, port=0)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/", timeout=30) as r:
            assert r.headers["Content-Type"].startswith("text/html")
            html = r.read().decode()
        assert html == render_form_page()
        for name in list(_CATS) + [n for n, *_ in _NUMS]:
            assert f'name="{name}"' in html
        for opt in _CATS["exposition"]:
            assert f"<option>{opt}</option>" in html
        # the payload the page's JS builds from untouched defaults
        payload = {
            "energy_performance_value": None, "ghg_value": None,
            "nb_parking_places": 0, "nb_boxes": 0, "nb_photos": 0,
            "property_type": "maison", "energy_performance_category": "A",
            "ghg_category": "A", "exposition": "Nord",
        }
        for name, _label, default, _step in _NUMS:
            payload[name] = default
        body = _js_json(payload)
        assert b'"size": 50,' in body and b'"land_size": 0,' in body
        req = urllib.request.Request(f"{base}/predict", data=body)
        with urllib.request.urlopen(req, timeout=120) as r:
            out = json.load(r)
        assert out["predicted_price"] > 0
        assert out == svc.single(payload)
    finally:
        server.shutdown()
        server.server_close()


def test_health_reports_per_route_counts(service):
    """GET /health reports each route's request count, error count and
    total seconds since the server started."""
    svc, _x = service
    server = serve(svc, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}"
        rng = random.Random(3)
        for i in range(3):
            rec = dict(zip(LISTINGS_SCHEMA.fieldNames(), _listing(i, rng)))
            with urllib.request.urlopen(
                urllib.request.Request(f"{base}/predict", data=json.dumps(rec).encode()), timeout=30
            ):
                pass
        for url, data in ((f"{base}/predict", b"{\"floor\": 2.5}"), (f"{base}/nowhere", None)):
            with pytest.raises(urllib.error.HTTPError):
                urllib.request.urlopen(urllib.request.Request(url, data=data), timeout=30)
        with urllib.request.urlopen(f"{base}/health", timeout=30) as r:
            health = json.load(r)
    finally:
        server.shutdown()
        server.server_close()
    assert health["status"] == "ok"
    routes = health["routes"]
    assert set(routes) == {"/predict", "other"}
    assert routes["/predict"]["requests"] == 4 and routes["/predict"]["errors"] == 1
    assert routes["other"]["requests"] == 1 and routes["other"]["errors"] == 1
    assert 0 < routes["/predict"]["seconds"] < 30


def test_route_stats_counts_every_concurrent_request():
    """16 threads recording at once lose no update."""
    stats = RouteStats()

    def hammer() -> None:
        for i in range(2000):
            stats.record("/predict", 400 if i % 4 == 0 else 200, 0.5)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert stats.snapshot() == {"/predict": {"requests": 32000, "errors": 8000, "seconds": 16000.0}}


def test_eda_report_distributed_figures(service, tmp_path):
    """The notebook-01 EDA set: every figure is a distributed aggregate
    rendered to well-formed SVG; histogram bar count matches the
    aggregate; output is deterministic."""
    from xml.etree import ElementTree

    from realestate_engine.plotting import eda_report

    _svc, x = service
    df = x.withColumn("price", F.col("size") * 3000.0 + F.col("nb_rooms") * 20000.0 + 50000.0)
    out1 = tmp_path / "eda1"
    paths = eda_report(df, str(out1))
    names = {p.rsplit("/", 1)[-1] for p in paths}
    assert {
        "missing_values.svg", "price_distribution.svg", "price_distribution_log.svg",
        "geographic_distribution.svg", "correlation_matrix.svg",
        "distribution_property_type.svg", "avg_price_by_property_type.svg",
    } <= names
    for p in paths:
        root = ElementTree.parse(p).getroot()
        assert root.tag.endswith("svg")
    # histogram carries one rect per bin + the surface rect
    hist = ElementTree.parse(str(out1 / "price_distribution.svg")).getroot()
    rects = [e for e in hist.iter() if e.tag.endswith("rect")]
    assert len(rects) == 51
    # correlation heatmap: (1 + numerics)^2 annotated cells, values in [-1, 1]
    heat = ElementTree.parse(str(out1 / "correlation_matrix.svg")).getroot()
    cells = [e for e in heat.iter() if e.tag.endswith("rect")][1:]
    texts = [e.text for e in heat.iter() if e.tag.endswith("text") and e.text and "." in e.text]
    assert len(cells) == 49
    assert all(-1.0 <= float(t) <= 1.0 for t in texts if t.replace("-", "").replace(".", "").isdigit())
    # determinism: a second run renders byte-identical SVGs
    out2 = tmp_path / "eda2"
    eda_report(df, str(out2))
    assert (out1 / "correlation_matrix.svg").read_text() == (out2 / "correlation_matrix.svg").read_text()
