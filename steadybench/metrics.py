"""The benchmark's metric names, units and directions, in one place.

``BENCHMARK.json`` at the root of the repository lists the same metrics;
``tests/test_steadybench.py`` checks that the two agree.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from steadybench.pipelines import LAYERS
from steadybench.trace import SPAN_FIGURES

WORKLOADS = tuple(LAYERS)

#: name -> (unit, better, bound)
END_TO_END: Dict[str, Tuple[str, str, float]] = {
    "pass_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

_SPAN_UNITS = {"wall_s": "s", "jobs": "count", "gap_s": "s", "shuffle_mb": "MB"}

#: layer-specific figures beyond the four per-span ones: name -> (unit, better)
SPECIFIC: Dict[str, Tuple[str, str]] = {
    "operators.inference.with_sklearn_inference_column.model_s": ("s", "lower"),
    "sources.tfrecords.write_tfrecords.bytes_per_row": ("B/row", "lower"),
    "operators.simhash_fp.simhash_near_dup_pairs.pairs": ("count", "higher"),
    "operators.simhash_fp.simhash_near_dup_pairs.planted_recall": ("frac", "higher"),
    "operators.simhash_fp.simhash_near_dup_pairs.task_skew": ("ratio", "lower"),
    "operators.dedup.keep_best_per_cluster.cc_rounds": ("count", "lower"),
    "operators.wordpiece.wordpiece_learn.jobs_per_merge": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.triggers": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "common.session_start_s": ("s", "lower"),
    "common.cold_pass_s": ("s", "lower"),
    "common.python_workers_peak_mb": ("MB", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
    "trace.residual_s": ("s", "lower"),
}


def span_names() -> List[str]:
    return [s for layers in LAYERS.values() for s in layers]


def per_layer() -> Dict[str, Tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better)."""
    out: Dict[str, Tuple[str, str]] = {}
    for span in span_names():
        for fig in SPAN_FIGURES:
            out[f"{span}.{fig}"] = (_SPAN_UNITS[fig], "lower")
    for name, spec in SPECIFIC.items():
        out.setdefault(name, spec)
    return out
