"""A small sklearn-shaped model for the inference layer.

``LogisticModel.predict_proba`` takes a pandas batch with the feature
columns (extra columns are ignored) and returns an ``(n, 2)`` array, as a
fitted sklearn classifier does. The score of a row depends only on that
row, evaluated term by term in a fixed order, so the numpy reference and
the Spark workers compute bit-identical values whatever the batch size.

Each call records its own duration; in traced passes the inference
layer's post-processing hands it to a Spark accumulator (see
``take_predict_seconds``).
"""

from __future__ import annotations

import time
from typing import Sequence

import numpy as np

#: seconds the last predict_proba call in this process took
_PREDICT_S = [0.0]


def take_predict_seconds() -> float:
    """Return and reset the duration of this process's last
    ``predict_proba`` call; read right after the call it times."""
    s, _PREDICT_S[0] = _PREDICT_S[0], 0.0
    return s


class LogisticModel:
    def __init__(self, features: Sequence[str], weights: Sequence[float], bias: float):
        self.features = list(features)
        self.weights = [float(w) for w in weights]
        self.bias = float(bias)

    def scores(self, columns) -> np.ndarray:
        """P(label = 1) for each row; ``columns[name]`` is array-like."""
        z = np.full(len(columns[self.features[0]]), self.bias, dtype=np.float64)
        for name, w in zip(self.features, self.weights):
            z = z + np.asarray(columns[name], dtype=np.float64) * w
        return 1.0 / (1.0 + np.exp(-z))

    def predict_proba(self, pdf) -> np.ndarray:
        t0 = time.perf_counter()
        p = self.scores(pdf)
        out = np.column_stack([1.0 - p, p])
        _PREDICT_S[0] = time.perf_counter() - t0
        return out


def load_model(features: Sequence[str], seed: int) -> LogisticModel:
    """The artifact loader shipped to workers: rebuilds the same model
    from ``(features, seed)``."""
    rng = np.random.default_rng(seed + 7919)
    return LogisticModel(features, rng.normal(0.0, 0.6, len(features)), -0.4)
