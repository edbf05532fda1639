"""Independent reference results, computed once per seed and never timed.

Each reference runs the workload with DuckDB over the package's SQL
twins, numpy for the model scores and plain Python (union-find, id
assignment) where the package has no SQL twin, and returns a result of
the same shape as ``pipelines.run_pass``, so a pass is correct exactly
when its result equals the reference.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from typing import Any, Dict, List, Tuple

import duckdb
import numpy as np

from ml_hadoop_experiment_spark.functions.hashing import portable_unit_hash_sql
from ml_hadoop_experiment_spark.functions.text import quality_score_sql
from ml_hadoop_experiment_spark.operators.dedup import simhash_blocks_sql, simhash_sql
from ml_hadoop_experiment_spark.operators.hll import hll_keyed_estimate_sql
from ml_hadoop_experiment_spark.operators.stats import equi_depth_histogram_sql
from ml_hadoop_experiment_spark.operators.wordpiece import (
    wordpiece_encode_sql,
    wordpiece_learn_sql,
)

from steadybench import gen
from steadybench import pipelines as P
from steadybench.digest import python_digest
from steadybench.model import load_model


def _connect(path: str, work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def _feature_pipeline(path: str, seed: int, work_dir: str) -> Dict[str, Any]:
    con = _connect(path, work_dir)
    g, p, n = P.SAMPLING
    gp, gn = g * p, g * n
    m = max(gp, gn)
    h = portable_unit_hash_sql("imp_id", salt=seed)
    con.execute(
        f"""CREATE TABLE s AS SELECT *,
              CASE WHEN label = 1 THEN {1.0 * m / gp!r} ELSE {1.0 * m / gn!r} END AS weight
            FROM src
            WHERE (label = 1 AND {h} < {gp!r}) OR (label <> 1 AND {h} < {gn!r})"""
    )
    vocab: Dict[str, List[str]] = {}
    for c in P.VOCAB_COLUMNS:
        rows = con.execute(
            f"SELECT {c} FROM s GROUP BY {c} HAVING count(*) >= {P.VOCAB_THRESHOLD}"
        ).fetchall()
        vocab[c] = [r[0] for r in rows]
    hist = sorted(
        tuple(r) for r in con.execute(equi_depth_histogram_sql("s", "f0", P.HIST_BINS)).fetchall()
    )
    edges = np.array([r[3] for r in hist][:-1])

    cols = con.execute("SELECT * FROM s").fetchnumpy()
    con.close()
    ids = P.vocab_ids(vocab)
    for c in P.VOCAB_COLUMNS:
        cols[f"{c}_id"] = np.array([ids[c].get(v, 0) for v in cols[c]], dtype=np.int64)
    f0 = np.asarray(cols["f0"], dtype=np.float64)
    cols["f0_bin"] = (f0[:, None] > edges[None, :]).sum(axis=1).astype(np.int64)
    cols["score"] = load_model(P.MODEL_FEATURES, seed).scores(cols)
    # the TFRecord specs carry floats as float32
    floats = [np.asarray(cols[c], dtype=np.float64).astype(np.float32) for c in P.TFR_FLOAT]
    ints = [np.asarray(cols[c], dtype=np.int64) for c in P.TFR_INT]
    rows = zip(*(a.tolist() for a in ints + floats))
    return {
        "vocab": sorted((k, v) for k, vals in vocab.items() for v in vals),
        "hist": hist,
        "written": len(f0),
        "rows": python_digest(rows, len(P.TFR_INT), 0, len(P.TFR_FLOAT)),
    }


def _components(pairs: List[Tuple[int, int]]) -> Dict[int, int]:
    """Union-find over undirected pairs: node -> smallest node in its component."""
    parent: Dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _near_dup_curation(path: str, work_dir: str) -> Dict[str, Any]:
    con = _connect(path, work_dir)
    con.execute(
        f"""CREATE TABLE good AS SELECT doc_id, text, q FROM
              (SELECT doc_id, text, {quality_score_sql('text')} AS q FROM src)
            WHERE q >= {P.QUALITY_MIN!r}"""
    )
    con.execute(
        """CREATE TABLE uniq AS SELECT doc_id, text, q FROM
             (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM good)
           WHERE rn = 1"""
    )
    # simhash_sql over whole documents re-hashes every token once per bit;
    # the same fingerprint is the vote over per-token bit vectors, and a
    # one-token document's simhash_sql fingerprint is exactly its token's
    # bit vector, so each distinct token is hashed once through the twin
    split = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    con.execute(f"CREATE TABLE toks AS SELECT doc_id, unnest({split}) AS tok FROM uniq")
    con.execute(
        f"CREATE TABLE tokbits AS SELECT tok, {simhash_sql('tok', P.SIMHASH_BITS)} AS h "
        "FROM (SELECT DISTINCT tok FROM toks)"
    )
    votes = ", ".join(
        f"sum((h >> {b}) & 1) AS v{b}" for b in range(P.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} * 2 > n THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(P.SIMHASH_BITS)
    )
    con.execute(
        f"""CREATE TABLE fps AS SELECT id, {fp} AS fp FROM
              (SELECT doc_id AS id, count(*) AS n, {votes}
               FROM toks JOIN tokbits USING (tok) GROUP BY doc_id)"""
    )
    pairs = con.execute(
        f"""WITH blocks AS ({simhash_blocks_sql(P.SIMHASH_BITS, P.SIMHASH_RADIUS)})
            SELECT DISTINCT a.id, b.id FROM blocks a JOIN blocks b
              ON a.part = b.part AND a.block = b.block AND a.id < b.id
            WHERE bit_count(xor(a.fp, b.fp)) <= {P.SIMHASH_RADIUS}"""
    ).fetchall()
    docs = con.execute("SELECT doc_id, q FROM uniq").fetchall()
    con.close()
    comp = _components(pairs)
    best: Dict[int, Tuple[float, int]] = {}
    for doc_id, q in docs:
        c = comp.get(doc_id, doc_id)
        cur = best.get(c)
        if cur is None or (q, -doc_id) > (cur[0], -cur[1]):
            best[c] = (q, doc_id)
    rows = ((doc_id, c, q) for c, (q, doc_id) in best.items())
    return {"kept": python_digest(rows, 2, 0, 1)}


def _materialized(sql: str) -> str:
    """Mark every ``name AS (SELECT`` CTE head MATERIALIZED. DuckDB
    otherwise inlines a CTE once per reference, and each unrolled merge
    round of the WordPiece twins reads the previous round three times,
    so the rounds cost grows as 3**merges. Results are unchanged."""
    return re.sub(r"(\b[A-Za-z_]\w* AS) \(SELECT", r"\1 MATERIALIZED (SELECT", sql)


def _token_train(path: str, work_dir: str) -> Dict[str, Any]:
    con = _connect(path, work_dir)
    seg = con.execute(
        _materialized(wordpiece_learn_sql("src", "text", P.WORDPIECE_MERGES))
    ).fetchall()
    pieces = con.execute(_materialized(
        wordpiece_encode_sql("src", "doc_id", "text", P.WORDPIECE_MERGES, P.WORDPIECE_MAX_PIECE)
    )).fetchall()
    docs = con.execute("SELECT doc_id, text FROM src").fetchall()
    con.close()
    counts = Counter(w for _, text in docs for w in text.split(" "))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    ids = {w: i + 1 for i, (w, _) in enumerate(ranked)}
    encoded = []
    for doc_id, text in docs:
        toks = text.split(" ")
        encoded.append((doc_id, len(toks), ",".join(str(ids[t]) for t in toks)))
    return {
        "segmentation": python_digest(((c, w, s) for w, s, c in seg), 1, 2),
        "pieces": python_digest(((i, n, t) for i, n, t in pieces), 2, 1),
        "ids": python_digest(encoded, 2, 1),
    }


def _stream_drain(path: str, work_dir: str) -> Dict[str, Any]:
    con = _connect(path, work_dir)
    dedup = con.execute("SELECT DISTINCT digest, host, url FROM src").fetchall()
    hll = con.execute(
        hll_keyed_estimate_sql("src", "host", "url", p=P.HLL_P, out_key="host")
    ).fetchall()
    con.close()
    return {"dedup": python_digest(dedup, 0, 3), "hll": sorted(tuple(r) for r in hll)}


def feature_and_token_train(inputs: gen.Inputs, seed: int, work_dir: str) -> Dict[str, Any]:
    return {
        **_feature_pipeline(os.path.join(inputs.path, "impressions"), seed, work_dir),
        **_token_train(os.path.join(inputs.path, "corpus"), work_dir),
    }


def near_dup_and_stream_drain(inputs: gen.Inputs, seed: int, work_dir: str) -> Dict[str, Any]:
    return {
        **_near_dup_curation(os.path.join(inputs.path, "crawl"), work_dir),
        **_stream_drain(os.path.join(inputs.path, "backlog"), work_dir),
    }


REFERENCES = {
    "feature_and_token_train": feature_and_token_train,
    "near_dup_and_stream_drain": near_dup_and_stream_drain,
}
