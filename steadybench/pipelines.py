"""One timed pass per workload, through the package's public functions.

``PASSES[workload](ctx)`` reads the generated input, runs the workload's
layers in order (each inside a tracer span named after the layer's
public function) and returns the pass result: order-independent digests
computed by Spark, so no large result reaches the driver, plus a few
small collected results. A workload is two parts (feature pipeline and
token training, or near-dup curation and stream drain), run one after
the other. Traced passes also fill ``ctx.extras`` with layer-specific
figures.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List

from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.common.artifacts import SerializableObj
from ml_hadoop_experiment_spark.functions.text import quality_score
from ml_hadoop_experiment_spark.operators import dedup
from ml_hadoop_experiment_spark.operators.dedup import dedup_exact, keep_best_per_cluster
from ml_hadoop_experiment_spark.operators.hll import estimate_from_register_rows
from ml_hadoop_experiment_spark.operators.inference import with_sklearn_inference_column
from ml_hadoop_experiment_spark.operators.sampling import sample_with_predicate
from ml_hadoop_experiment_spark.operators.simhash_fp import simhash_near_dup_pairs
from ml_hadoop_experiment_spark.operators.stats import equi_depth_histogram
from ml_hadoop_experiment_spark.operators.vocabulary import (
    build_vocabulary,
    encode_tokens_to_ids,
    vocab_id_table,
    vocabulary_dataframe,
)
from ml_hadoop_experiment_spark.operators.wordpiece import wordpiece_encode, wordpiece_learn
from ml_hadoop_experiment_spark.schema.feature_spec import FixedLenFeature
from ml_hadoop_experiment_spark.sources.tfrecords import read_tfrecords, write_tfrecords
from ml_hadoop_experiment_spark.streaming.sketches import stateful_hll_distinct
from ml_hadoop_experiment_spark.streaming.stateful import stateful_dedup

from steadybench import gen
from steadybench.digest import spark_digest
from steadybench.model import load_model, take_predict_seconds

# --- workload parameters (shared with reference.py) -----------------------

SAMPLING = (0.6, 1.0, 0.4)  # global, positive, negative
VOCAB_COLUMNS = ["cat_a", "cat_b"]
VOCAB_THRESHOLD = 25
HIST_BINS = 16
MODEL_FEATURES = list(gen.DENSE) + ["cat_a_id", "cat_b_id", "f0_bin"]
TFR_INT = ["imp_id", "label", "cat_a_id", "cat_b_id", "f0_bin"]
TFR_FLOAT = ["weight", "score"]
TFR_SPECS = {
    **{c: FixedLenFeature((), "int64") for c in TFR_INT},
    **{c: FixedLenFeature((), "float32") for c in TFR_FLOAT},
}
TFR_FILES = 4

QUALITY_MIN = 0.6
SIMHASH_BITS = 32
SIMHASH_RADIUS = 2

WORDPIECE_MERGES = 2
WORDPIECE_MAX_PIECE = 6

HLL_P = 8
FILES_PER_TRIGGER = 2
DRAIN_TIMEOUT_S = 120

LAYERS = {
    "feature_and_token_train": [
        "operators.sampling.sample_with_predicate",
        "operators.vocabulary.build_vocabulary",
        "operators.stats.equi_depth_histogram",
        "operators.inference.with_sklearn_inference_column",
        "sources.tfrecords.write_tfrecords",
        "sources.tfrecords.read_tfrecords",
        "operators.wordpiece.wordpiece_learn",
        "operators.wordpiece.wordpiece_encode",
        "operators.vocabulary.vocab_id_table",
        "operators.vocabulary.encode_tokens_to_ids",
    ],
    "near_dup_and_stream_drain": [
        "functions.text.quality_score",
        "operators.dedup.dedup_exact",
        "operators.simhash_fp.simhash_near_dup_pairs",
        "operators.dedup.keep_best_per_cluster",
        "streaming.stateful.stateful_dedup",
        "streaming.sketches.stateful_hll_distinct",
        "operators.hll.estimate_from_register_rows",
    ],
}


@dataclass
class PassContext:
    spark: Any
    inputs: gen.Inputs
    seed: int
    out_dir: str  # fresh, empty directory for this pass's sinks and checkpoints
    tracer: Any
    extras: Dict[str, float] = field(default_factory=dict)


# --- feature_pipeline ------------------------------------------------------


def vocab_ids(vocab: Dict[str, List[str]]) -> Dict[str, Dict[str, int]]:
    """Dense 1-based ids per vocabulary key, in value order; 0 is OOV."""
    return {k: {v: i + 1 for i, v in enumerate(sorted(vals))} for k, vals in vocab.items()}


def _feature_pipeline(ctx: PassContext) -> Dict[str, Any]:
    spark, tr = ctx.spark, ctx.tracer
    df = spark.read.parquet(os.path.join(ctx.inputs.path, "impressions"))
    g, p, n = SAMPLING
    with tr.span("operators.sampling.sample_with_predicate"):
        sampled = sample_with_predicate(
            df, g, p, n, F.col("label") == 1,
            columns_for_sample=["imp_id"], seed=ctx.seed, portable=True,
        ).drop("sampling_hash")
        sampled = tr.materialise(sampled)
    with tr.span("operators.vocabulary.build_vocabulary"):
        vocab = build_vocabulary(sampled, VOCAB_COLUMNS, threshold=VOCAB_THRESHOLD)
    with tr.span("operators.stats.equi_depth_histogram"):
        hist = equi_depth_histogram(sampled, "f0", HIST_BINS).collect()
    edges = [r["hi"] for r in sorted(hist, key=lambda r: r["bin"])][:-1]

    ids = vocab_ids(vocab)
    feats = sampled
    for c in VOCAB_COLUMNS:
        mapping = F.create_map(*[F.lit(x) for kv in ids.get(c, {}).items() for x in kv])
        feats = feats.withColumn(f"{c}_id", F.coalesce(mapping[F.col(c)], F.lit(0)).cast("bigint"))
    f0_bin = sum((F.col("f0") > F.lit(e)).cast("bigint") for e in edges) if edges else F.lit(0)
    feats = feats.withColumn("f0_bin", f0_bin.cast("bigint")).drop(*VOCAB_COLUMNS)

    acc = spark.sparkContext.accumulator(0.0) if tr.enabled else None

    def positive_class(proba):
        if acc is not None:
            acc.add(take_predict_seconds())
        return proba[:, 1]

    model = SerializableObj(spark, load_model, MODEL_FEATURES, ctx.seed)
    try:
        with tr.span("operators.inference.with_sklearn_inference_column"):
            scored = with_sklearn_inference_column(
                feats, model, output_col="score", postprocessing_fn=positive_class
            )
            scored = tr.materialise(scored)
        path = os.path.join(ctx.out_dir, "tfrecords")
        with tr.span("sources.tfrecords.write_tfrecords"):
            written = write_tfrecords(scored, TFR_SPECS, path, shuffle_seed=ctx.seed,
                                      num_files=TFR_FILES)
        with tr.span("sources.tfrecords.read_tfrecords"):
            back = tr.materialise(read_tfrecords(spark, path, TFR_SPECS))
        result = {
            "vocab": sorted((k, v) for k, vals in vocab.items() for v in vals),
            "hist": sorted((r["bin"], r["n_rows"], r["lo"], r["hi"]) for r in hist),
            "written": sum(c for _, c in written),
            "rows": spark_digest(back, TFR_INT, (), TFR_FLOAT),
        }
    finally:
        model.destroy()
    if tr.enabled:
        n_rows = max(1, result["written"])
        ctx.extras["operators.inference.with_sklearn_inference_column.model_s"] = acc.value
        ctx.extras["sources.tfrecords.write_tfrecords.bytes_per_row"] = (
            sum(os.path.getsize(f) for f, _ in written) / n_rows
        )
    return result


# --- near_dup_curation -----------------------------------------------------


def _near_dup_curation(ctx: PassContext) -> Dict[str, Any]:
    spark, tr = ctx.spark, ctx.tracer
    df = spark.read.parquet(os.path.join(ctx.inputs.path, "crawl")).select("doc_id", "text")
    with tr.span("functions.text.quality_score"):
        scored = df.withColumn("q", quality_score(F.col("text")))
        good = tr.materialise(scored.where(F.col("q") >= QUALITY_MIN))
    with tr.span("operators.dedup.dedup_exact"):
        unique = tr.materialise(dedup_exact(good, ["text"], "doc_id"))
    with tr.span("operators.simhash_fp.simhash_near_dup_pairs"):
        pairs = simhash_near_dup_pairs(unique, "doc_id", "text", bits=SIMHASH_BITS,
                                       max_hamming=SIMHASH_RADIUS)
        pairs = tr.materialise(pairs)
    with tr.span("operators.dedup.keep_best_per_cluster"):
        kept = tr.materialise(keep_best_per_cluster(unique, pairs, "doc_id", "q"))
    result = {"kept": spark_digest(kept, ["doc_id", "cluster"], (), ["q"])}
    if tr.enabled:
        planted = spark.createDataFrame(ctx.inputs.planted_pairs, "id_a long, id_b long")
        live = unique.select(F.col("doc_id").alias("id"))
        reachable = (
            planted.join(live.withColumnRenamed("id", "id_a"), "id_a")
            .join(live.withColumnRenamed("id", "id_b"), "id_b")
        )
        n_reach = reachable.count()
        found = reachable.join(pairs.select("id_a", "id_b"), ["id_a", "id_b"]).count()
        prefix = "operators.simhash_fp.simhash_near_dup_pairs"
        ctx.extras[f"{prefix}.pairs"] = pairs.count()
        ctx.extras[f"{prefix}.planted_recall"] = found / n_reach if n_reach else 0.0
        ctx.extras["operators.dedup.keep_best_per_cluster.cc_rounds"] = getattr(
            dedup, "LAST_CC_STATS", {}
        ).get("rounds", 0)
    return result


# --- token_train -----------------------------------------------------------


def _token_train(ctx: PassContext) -> Dict[str, Any]:
    spark, tr = ctx.spark, ctx.tracer
    df = spark.read.parquet(os.path.join(ctx.inputs.path, "corpus"))
    with tr.span("operators.wordpiece.wordpiece_learn"):
        seg_vocab, _ = wordpiece_learn(df, "text", WORDPIECE_MERGES)
        seg_vocab = tr.materialise(seg_vocab)
    with tr.span("operators.wordpiece.wordpiece_encode"):
        pieces = tr.materialise(
            wordpiece_encode(df, "doc_id", "text", seg_vocab, max_piece_len=WORDPIECE_MAX_PIECE)
        )
    with tr.span("operators.vocabulary.vocab_id_table"):
        words = df.select(F.split("text", " ").alias("words"))
        ids = tr.materialise(vocab_id_table(vocabulary_dataframe(words, ["words"])))
    with tr.span("operators.vocabulary.encode_tokens_to_ids"):
        encoded = tr.materialise(encode_tokens_to_ids(df, "doc_id", "text", ids))
    return {
        "segmentation": spark_digest(seg_vocab, ["word_count"], ["word", "segmentation"]),
        "pieces": spark_digest(pieces, ["id", "n_tokens"], ["tokens"]),
        "ids": spark_digest(
            encoded.withColumn("ids", F.array_join("ids", ",")), ["doc_id", "n_tokens"], ["ids"]
        ),
    }


# --- stream_drain ----------------------------------------------------------

STREAM_SCHEMA = "digest string, host string, url string"


def _drain(query, timeout_s: float) -> List[dict]:
    """Wait for an availableNow query to finish; raise on timeout or on a
    failed query. Returns its progress reports."""
    try:
        if not query.awaitTermination(timeout_s):
            raise TimeoutError(f"stream {query.name or query.id} did not drain in {timeout_s}s")
        return [dict(p) for p in query.recentProgress]
    finally:
        query.stop()


def _stream_drain(ctx: PassContext) -> Dict[str, Any]:
    spark, tr = ctx.spark, ctx.tracer
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(os.path.join(ctx.inputs.path, "backlog"))
    )
    progress: List[dict] = []

    def start(frame, name):
        return (
            frame.writeStream.format("parquet")
            .option("path", os.path.join(ctx.out_dir, name))
            .option("checkpointLocation", os.path.join(ctx.out_dir, f"{name}-checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    with tr.span("streaming.stateful.stateful_dedup") as sp:
        q = start(stateful_dedup(stream, ["digest"]), "dedup")
        sp.groups.append(str(q.runId))
        progress += _drain(q, DRAIN_TIMEOUT_S)
    with tr.span("streaming.sketches.stateful_hll_distinct") as sp:
        q = start(stateful_hll_distinct(stream, ["host"], "url", p=HLL_P), "hll")
        sp.groups.append(str(q.runId))
        progress += _drain(q, DRAIN_TIMEOUT_S)
    with tr.span("operators.hll.estimate_from_register_rows"):
        regs = (
            spark.read.parquet(os.path.join(ctx.out_dir, "hll"))
            .groupBy("host", "register")
            .agg(F.max("M").alias("M"))
        )
        est = estimate_from_register_rows(regs, HLL_P, ["host"]).collect()
    result = {
        "dedup": spark_digest(spark.read.parquet(os.path.join(ctx.out_dir, "dedup")),
                              (), ["digest", "host", "url"]),
        "hll": sorted((r["host"], r["n_est"]) for r in est),
    }
    if tr.enabled:
        ctx.extras.update(stream_figures(progress))
    return result


def stream_figures(progress: List[dict]) -> Dict[str, float]:
    """Per-trigger figures from the drained queries' progress reports."""
    triggers = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in triggers]
    last: Dict[str, dict] = {}
    for p in progress:
        last[p["id"]] = p  # last report per query holds the final state size
    ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    return {
        "streaming.trigger_s": statistics.median(d.get("triggerExecution", 0) for d in dur) / 1e3
        if dur else 0.0,
        "streaming.add_batch_ms": statistics.median(d.get("addBatch", 0) for d in dur)
        if dur else 0.0,
        "streaming.triggers": len(triggers),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "streaming.state_mb": sum(op.get("memoryUsedBytes", 0) for op in ops) / 1e6,
    }


PASSES: Dict[str, Callable[[PassContext], Dict[str, Any]]] = {
    "feature_and_token_train": lambda ctx: {**_feature_pipeline(ctx), **_token_train(ctx)},
    "near_dup_and_stream_drain": lambda ctx: {**_near_dup_curation(ctx), **_stream_drain(ctx)},
}
