"""Model persistence with a pointer file (SURVEY.md §2.10 D7, §2.9 T7).

Reproduces the reference's save/load protocol — versioned model dirs plus
a ``latest_model.txt`` pointer (reference:
Deliverable_3/NEW_train_offset_3_10min.py:153-173) and the model-type tag
file (reference: Deliverable_4/stream_and_historical_model.py:96-151) —
with three fixes:

- the pointer is written atomically (tmp + rename), so a concurrent
  reader never sees a torn path;
- ``current()`` caches the loaded model and re-reads from disk only when
  the pointer content changes, replacing the reference's unconditional
  per-micro-batch ``load_model()`` (reference: :237), which added disk
  IO to every 1-second predictor trigger;
- the streaming trainer publishes its linear fit as data, not as a
  Spark ML artifact: a ``LinearCoefficients`` document (feature names,
  coefficients and intercept as JSON, written tmp + rename inside the
  ``model_<v>`` dir). Spark ML's writer and reader fire 2 and 3 Spark
  jobs to persist and load 5 coefficients and an intercept; the
  document fires none, and it scores as one Catalyst expression
  (``LinearCoefficients.prediction``). The tournament's models and
  ``deploy_gate`` keep their Spark ML artifacts.

Upgrade note: a pointer written before the document existed names a
Spark ML ``LinearRegression`` dir. It keeps loading (and the predictor
keeps scoring it, aligned by position); the trainer's next publish
writes the document.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce
from operator import add
from typing import ClassVar

from pyspark.ml.regression import (
    GBTRegressionModel,
    LinearRegressionModel,
    RandomForestRegressionModel,
)
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class LinearCoefficients:
    """A fitted linear model as data: ``intercept + Σ wᵢ·fᵢ`` over the
    named feature columns."""

    features: tuple[str, ...]
    coefficients: tuple[float, ...]
    intercept: float

    FILE: ClassVar[str] = "coefficients.json"

    @classmethod
    def of(cls, model, features: list[str]) -> "LinearCoefficients":
        """The coefficients of a Spark ML ``LinearRegressionModel``, named
        by ``features`` in the order the model was assembled with."""
        if not isinstance(model, LinearRegressionModel):
            raise TypeError(f"not a linear model: {type(model).__name__}")
        weights = tuple(float(w) for w in model.coefficients.toArray())
        if len(weights) != len(features):
            raise ValueError(
                f"model has {len(weights)} coefficients for "
                f"{len(features)} features {list(features)}"
            )
        return cls(tuple(features), weights, float(model.intercept))

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        target = os.path.join(path, self.FILE)
        with open(target + ".tmp", "w") as f:
            json.dump(
                {
                    "features": list(self.features),
                    "coefficients": list(self.coefficients),
                    "intercept": self.intercept,
                },
                f,
            )
        os.replace(target + ".tmp", target)

    @classmethod
    def load(cls, path: str) -> "LinearCoefficients":
        with open(os.path.join(path, cls.FILE)) as f:
            doc = json.load(f)
        return cls(
            tuple(doc["features"]), tuple(doc["coefficients"]), doc["intercept"]
        )

    def prediction(self, features: list[str]) -> Column:
        """``intercept + Σ wᵢ·fᵢ`` over the columns ``features`` — Spark
        ML's ``dot(features, coefficients) + intercept`` in the same
        order, as one expression instead of an assembled vector and a
        ``transform``. Raises ValueError when ``features`` are not the
        names the model was fitted on: scoring misaligned columns would
        return plausible numbers that mean nothing."""
        if list(features) != list(self.features):
            raise ValueError(
                f"model fitted on {list(self.features)}, asked to score "
                f"{list(features)}"
            )
        terms = [
            F.col(f) * w for f, w in zip(features, self.coefficients, strict=True)
        ]
        return reduce(add, terms) + F.lit(self.intercept)


# Model-type tag -> loader class (the reference's SELECTED_MODEL.txt).
MODEL_CLASSES = {
    "LinearRegression": LinearRegressionModel,
    "RandomForestRegressor": RandomForestRegressionModel,
    "GBTRegressor": GBTRegressionModel,
    "LinearCoefficients": LinearCoefficients,
}


class ModelStore:
    """Versioned model directory with an atomically-updated pointer."""

    POINTER = "latest_model.txt"

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._cached_pointer: str | None = None
        self._cached_model = None

    # -- paths -----------------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.base_dir, self.POINTER)

    def _read_pointer(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                content = f.read().strip()
            return content or None
        except FileNotFoundError:
            return None

    # -- write side --------------------------------------------------------
    def save(self, model, model_type: str = "LinearRegression") -> str:
        """Persist ``model`` to a fresh versioned dir and repoint the
        pointer (atomic tmp+rename; readers never see a torn write). A
        ``LinearCoefficients`` document is written as JSON, any other
        model through Spark ML's writer."""
        if model_type not in MODEL_CLASSES:
            raise ValueError(f"unknown model_type {model_type!r}")
        if isinstance(model, LinearCoefficients) != (model_type == "LinearCoefficients"):
            raise ValueError(
                f"model_type {model_type!r} does not tag a {type(model).__name__}"
            )
        version = self._next_version()
        model_path = os.path.join(self.base_dir, f"model_{version:06d}")
        if isinstance(model, LinearCoefficients):
            model.save(model_path)
        else:
            model.write().overwrite().save(model_path)
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{model_path}\n{model_type}")
        os.replace(tmp, self._pointer_path())
        return model_path

    def _next_version(self) -> int:
        existing = [
            int(d.split("_")[1])
            for d in os.listdir(self.base_dir)
            if d.startswith("model_") and d.split("_")[1].isdigit()
        ]
        return (max(existing) + 1) if existing else 1

    # -- read side ---------------------------------------------------------
    def load(self):
        """Load the currently-pointed model from disk (always re-reads)."""
        content = self._read_pointer()
        if content is None:
            return None
        lines = content.splitlines()
        model_path = lines[0]
        model_type = lines[1] if len(lines) > 1 else "LinearRegression"
        return MODEL_CLASSES[model_type].load(model_path)

    def current(self):
        """The pointed model, cached: disk is touched only to re-read the
        tiny pointer file; the model itself reloads only on change."""
        content = self._read_pointer()
        if content is None:
            return None
        if content != self._cached_pointer:
            self._cached_model = self.load()
            self._cached_pointer = content
        return self._cached_model
