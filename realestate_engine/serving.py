"""Interactive prediction surface — the engine-side analogue of the
reference's Streamlit webapp (src/webapp/app.py:1-308), re-expressed
as a dependency-free service layer + stdlib HTTP JSON API + an
interactive HTML form page (GET /) with the same fields, option
lists, and defaults as the Streamlit form.

The reference ships a Streamlit UI with two modes: single prediction
(form → dict → price) and batch prediction (CSV upload → a
per-column null audit + (id_annonce, prediction_price) CSV). This
module provides the same two operations behind:

- ``PredictionService`` — artifact loading + request handling, usable
  from any UI or notebook;
- ``serve()`` — a zero-dependency ``http.server`` JSON API
  (GET /health, POST /predict, POST /predict_batch) for the
  container-without-streamlit case. The SparkSession, fitted features,
  target stats and model are loaded once per process, exactly like the
  reference's ``@st.cache_resource`` ``init_resources`` (app.py:28-45).

Two paths, one answer:
- POST /predict scores its one listing on the driver and launches no
  Spark job: the type check ``createDataFrame`` would run, then the
  fitted features as plain Python (``FeatureEngineering.row_encoder``),
  one py4j ``model.predict`` call and the smearing inverse. The
  reference built a 1-row DataFrame per request (src/webapp/app.py:51),
  which cost two Spark jobs per listing.
- POST /predict_batch and ``batch_df`` stay one lazy DataFrame plan
  (the 100 TB shape), and they are the reference the driver path is
  held to: tests/test_serving.py::test_single_matches_batch_path
  checks ``single()`` against ``batch_df`` to the cent, for rf, lr and
  gbt, on generated listings and on null, unseen and out-of-range
  inputs.

Fidelity notes vs the reference webapp:
- the batch-mode data-quality report (app.py:74-101) ran ONE count()
  job per column in a Python loop; ``batch_audit`` computes the same
  numbers in a single aggregate pass (the 100 TB shape);
- predictions come back smearing-corrected in price space, as from the
  CLI/batch entry points.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, _make_type_verifier

from realestate_engine.features import _CATEGORICAL_FILL, FeatureEngineering, fitted_labels
from realestate_engine.predict import predict_batch
from realestate_engine.schemas import LISTINGS_SCHEMA
from realestate_engine.target import TargetTransformer
from realestate_engine.train import ModelTrainer

_DOUBLE_FIELDS = {f.name for f in LISTINGS_SCHEMA.fields if isinstance(f.dataType, DoubleType)}


class PredictionService:
    """Loaded-once inference resources + the two webapp operations.

    ``artifact_dir`` layout is the one ``cli.py train`` writes:
    ``fe/`` (feature pipeline + params), ``tt.json`` (target stats),
    ``model/`` (Spark ML model). Features load in PERMISSIVE mode:
    unseen or null categories at serve time are clamped to the fitted
    vocabulary (see _clamp_unseen) so every request yields a
    prediction instead of a silently dropped row (reference app.py
    loads permissively via ModelTrainer.load_model)."""

    def __init__(
        self,
        spark: SparkSession,
        fe: FeatureEngineering,
        trainer: ModelTrainer,
        tt: TargetTransformer,
    ):
        self.spark = spark
        self.fe = fe
        self.trainer = trainer
        self.tt = tt
        # Everything the driver-side scorer reads, built here once: the
        # HTTP handlers call single() from concurrent threads.
        self._verify = _make_type_verifier(LISTINGS_SCHEMA)  # createDataFrame's check
        self._encode = fe.row_encoder()
        # categorical -> (fitted labels, the label unseen and null values
        # are served as); both paths clamp with it. Empty in strict mode.
        self._vocab = {}
        if not fe.strict_mode:
            for col, _indexed, labels in fitted_labels(fe.pipeline_model):
                self._vocab[col] = (labels, _CATEGORICAL_FILL if _CATEGORICAL_FILL in labels else labels[0])

    @classmethod
    def load(cls, spark: SparkSession, artifact_dir: str) -> "PredictionService":
        fe = FeatureEngineering.load(os.path.join(artifact_dir, "fe"))
        fe.strict_mode = False  # permissive at serve time
        tt = TargetTransformer.load(os.path.join(artifact_dir, "tt.json"))
        trainer = ModelTrainer.load(os.path.join(artifact_dir, "model"))
        return cls(spark, fe, trainer, tt)

    # -- serve-time category clamp ---------------------------------------

    def _clamp_unseen(self, df: DataFrame) -> DataFrame:
        """Clamp each categorical to its fitted labels, in one projection:
        an unseen or null value becomes the imputation fill if it was
        fitted, else the most frequent label (index 0). The fitted
        StringIndexer keeps handleInvalid='skip' from strict training and
        would drop such a row, so a request would get no price; 'keep'
        would widen the one-hot past what the model was trained on. With
        the clamp every request gets a prediction, as in the reference
        webapp."""
        return df.withColumns({
            col: F.when(F.col(col).isin(labels), F.col(col)).otherwise(F.lit(fallback))
            for col, (labels, fallback) in self._vocab.items()
            if col in df.columns
        })

    # -- single prediction (app.py predict_single, :52-66) --------------

    def single(self, record: dict[str, Any]) -> dict[str, Any]:
        """One listing, scored on the driver with no Spark job. It accepts
        and rejects what ``createDataFrame(..., LISTINGS_SCHEMA)`` would,
        except that a JSON integer in a double field is taken as a float
        (browsers send ``JSON.stringify(50.0)`` as ``50``)."""
        rec = {f.name: record.get(f.name) for f in LISTINGS_SCHEMA.fields}
        for name in _DOUBLE_FIELDS:
            if type(rec[name]) is int:  # not bool, which the verifier rejects
                rec[name] = float(rec[name])
        self._verify(tuple(rec.values()))
        for col, (labels, fallback) in self._vocab.items():
            if rec[col] not in labels:
                rec[col] = fallback
        prediction = self.trainer.model.predict(self._encode(rec))
        return {
            "id_annonce": rec["id_annonce"],
            "predicted_price": round(self.tt.inverse_value(prediction), 2),
        }

    # -- batch prediction + audit (app.py predict_batch, :68-112) -------

    def batch_df(self, listings: DataFrame) -> DataFrame:
        return predict_batch(self._clamp_unseen(listings), self.fe, self.trainer, self.tt)

    def batch_audit(self, listings: DataFrame) -> dict[str, Any]:
        """The webapp's data-quality report as ONE aggregate job:
        row count + per-column null counts (the reference looped a
        count() job per column, app.py:89-92)."""
        aggs = [F.count(F.lit(1)).alias("_rows")] + [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(c)
            for c in listings.columns
        ]
        row = listings.agg(*aggs).first().asDict()
        n = row.pop("_rows")
        return {"n_rows": n, "null_counts": {c: v for c, v in row.items() if v}}

    def batch_csv(self, csv_path: str) -> tuple[list[dict[str, Any]], dict[str, Any]]:
        """CSV in → (predictions, audit), the full upload flow."""
        listings = self.spark.read.schema(LISTINGS_SCHEMA).option("header", "true").csv(csv_path)
        audit = self.batch_audit(listings)
        preds = [
            {"id_annonce": r["id_annonce"], "predicted_price": round(float(r["predicted_price"]), 2)}
            for r in self.batch_df(listings).collect()
        ]
        return preds, audit


class RouteStats:
    """Per-route request count, error count (status >= 400) and total
    handler seconds, updated by concurrent handler threads under one
    lock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._routes: dict[str, dict[str, float]] = {}

    def record(self, route: str, status: int, seconds: float) -> None:
        with self._lock:
            r = self._routes.setdefault(route, {"requests": 0, "errors": 0, "seconds": 0.0})
            r["requests"] += 1
            r["errors"] += status >= 400
            r["seconds"] += seconds

    def snapshot(self) -> dict[str, dict[str, float]]:
        with self._lock:
            return {route: dict(r) for route, r in self._routes.items()}


_ROUTES = {"/", "/form", "/health", "/predict", "/predict_batch"}


def serve(service: PredictionService, host: str = "127.0.0.1", port: int = 0):
    """Zero-dependency HTTP JSON API over a PredictionService.

    Routes:
    - ``GET  /`` (or /form)    → the interactive HTML form UI
    - ``GET  /health``         → {"status": "ok", "routes": {route:
      {"requests", "errors", "seconds"}}}, counted since the server
      started (unknown paths count under "other")
    - ``POST /predict``        → body: one listing as a JSON object
    - ``POST /predict_batch``  → body: CSV text (same columns as
      X_test.csv, header row required) → {"predictions": [...],
      "audit": {...}}

    Returns the (not yet started) ``ThreadingHTTPServer``; call
    ``serve_forever()`` (or run it in a thread, as the tests do). Port
    0 binds an ephemeral port — read it from ``server.server_address``.
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    stats = RouteStats()

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            self._reply(code, "application/json", json.dumps(payload).encode())

        def _reply(self, code: int, content_type: str, body: bytes) -> None:
            self._status = code
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:  # quiet test logs
            pass

        def _timed(self, handle) -> None:
            self._status = 500  # unless a reply is sent
            t0 = time.perf_counter()
            try:
                handle()
            finally:
                route = self.path if self.path in _ROUTES else "other"
                stats.record(route, self._status, time.perf_counter() - t0)

        def do_GET(self) -> None:
            self._timed(self._get)

        def do_POST(self) -> None:
            self._timed(self._post)

        def _get(self) -> None:
            if self.path == "/health":
                self._send(200, {"status": "ok", "routes": stats.snapshot()})
            elif self.path in ("/", "/form"):
                self._reply(200, "text/html; charset=utf-8", render_form_page().encode())
            else:
                self._send(404, {"error": f"no route {self.path}"})

        def _post(self) -> None:
            try:
                length = int(self.headers.get("Content-Length", 0))
                if length < 0:
                    raise ValueError(f"negative Content-Length {length}")
                raw = self.rfile.read(length)
                if self.path == "/predict":
                    self._send(200, service.single(json.loads(raw)))
                elif self.path == "/predict_batch":
                    with tempfile.NamedTemporaryFile(
                        suffix=".csv", delete=False, mode="wb"
                    ) as f:
                        f.write(raw)
                        tmp = f.name
                    try:
                        preds, audit = service.batch_csv(tmp)
                    finally:
                        os.unlink(tmp)
                    self._send(200, {"predictions": preds, "audit": audit})
                else:
                    self._send(404, {"error": f"no route {self.path}"})
            except Exception as e:  # noqa: BLE001 - surface as HTTP 400, don't kill the server
                self._send(400, {"error": str(e)})

    return ThreadingHTTPServer((host, port), Handler)


# --- Interactive form UI (the reference webapp's single+batch modes) ---------

_CATS = {
    "property_type": ["maison", "appartement"],
    "energy_performance_category": ["A", "B", "C", "D", "E", "F", "G", "Unknown"],
    "ghg_category": ["A", "B", "C", "D", "E", "F", "G", "Unknown"],
    "exposition": [
        "Nord", "Sud", "Est", "Ouest", "Nord-Est", "Nord-Ouest",
        "Sud-Est", "Sud-Ouest", "Unknown",
    ],
}
# (field, label, default, step) — the reference form's numeric inputs
# with its defaults (app.py:187-265)
_NUMS = [
    ("size", "Surface (m²)", 50.0, "0.1"),
    ("nb_rooms", "Nombre de pièces", 2, "1"),
    ("nb_bedrooms", "Nombre de chambres", 1, "1"),
    ("floor", "Étage", 0, "1"),
    ("land_size", "Surface du terrain (m²)", 0.0, "0.1"),
    ("nb_bathrooms", "Nombre de salles de bain", 1, "1"),
    ("approximate_latitude", "Latitude", 48.8566, "0.0001"),
    ("approximate_longitude", "Longitude", 2.3522, "0.0001"),
]
_INT_FIELDS = {"floor", "nb_rooms", "nb_bedrooms", "nb_bathrooms", "nb_parking_places", "nb_boxes", "nb_photos"}


def render_form_page() -> str:
    """The single+batch prediction form as one dependency-free HTML
    page — the engine-side stand-in for the reference's Streamlit UI
    (app.py:175-300): same fields, same option lists, same defaults,
    same hidden defaults for the untyped extras; submits JSON to
    /predict and CSV text to /predict_batch with inline fetch()."""
    selects = "".join(
        f'<label>{name}<select name="{name}">'
        + "".join(f"<option>{o}</option>" for o in opts)
        + "</select></label>"
        for name, opts in _CATS.items()
    )
    nums = "".join(
        f'<label>{label}<input type="number" name="{name}" value="{default}" step="{step}"></label>'
        for name, label, default, step in _NUMS
    )
    int_fields = json.dumps(sorted(_INT_FIELDS))
    return f"""<!doctype html><html><head><meta charset="utf-8">
<title>realestate_engine — estimation</title>
<style>body{{font-family:sans-serif;max-width:42rem;margin:2rem auto}}
label{{display:block;margin:.4rem 0}}select,input,textarea{{margin-left:.5rem}}
#out,#bout{{font-weight:bold;margin-top:1rem;white-space:pre-wrap}}</style></head><body>
<h1>Estimation du prix</h1>
<form id="f" onsubmit="return false">{selects}{nums}
<button id="go">Calculer l'estimation</button></form><div id="out"></div>
<h2>Prédiction par lot (CSV)</h2>
<textarea id="csv" rows="6" cols="70" placeholder="colonnes de X_test.csv, en-tête requis"></textarea>
<br><button id="bgo">Prédire le lot</button><div id="bout"></div>
<script>
const INT_FIELDS = new Set({int_fields});
const EXTRA_DEFAULTS = {{energy_performance_value: null, ghg_value: null,
  nb_parking_places: 0, nb_boxes: 0, nb_photos: 0}};
document.getElementById("go").onclick = async () => {{
  const data = {{...EXTRA_DEFAULTS}};
  for (const el of document.getElementById("f").elements) {{
    if (!el.name) continue;
    data[el.name] = el.type === "number"
      ? (INT_FIELDS.has(el.name) ? parseInt(el.value) : parseFloat(el.value))
      : el.value;
  }}
  const r = await fetch("/predict", {{method: "POST", body: JSON.stringify(data)}});
  const j = await r.json();
  document.getElementById("out").textContent = r.ok
    ? `Prix estimé : ${{j.predicted_price.toLocaleString()}} €` : `Erreur : ${{j.error}}`;
}};
document.getElementById("bgo").onclick = async () => {{
  const r = await fetch("/predict_batch", {{method: "POST",
    body: document.getElementById("csv").value}});
  const j = await r.json();
  document.getElementById("bout").textContent = r.ok
    ? JSON.stringify(j, null, 2) : `Erreur : ${{j.error}}`;
}};
</script></body></html>"""
