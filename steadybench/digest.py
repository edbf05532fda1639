"""Order-independent digests of a result set, computed identically on the
Spark side (as one aggregation, so no large result reaches the driver)
and on the reference side (in Python over the reference rows).

A row becomes one canonical string: integers and strings as their
decimal/plain text, floats quantized to ``floor(x * 10**6 + 0.5)``, all
joined by ``SEP``. The digest of a set of rows is ``(count, sum of the
first 32 md5 bits, sum of the next 32 md5 bits)``; one changed row moves
both sums except with probability about 2**-64.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterable, Sequence, Tuple

SEP = "|"
FLOAT_SCALE = 1e6

Digest = Tuple[int, int, int]


def spark_digest(df, int_cols: Sequence[str] = (), str_cols: Sequence[str] = (),
                 float_cols: Sequence[str] = ()) -> Digest:
    """Digest of ``df`` over the given columns, computed by Spark."""
    from pyspark.sql import functions as F

    parts = []
    for c in int_cols:
        parts.append(F.col(c).cast("bigint").cast("string"))
    for c in str_cols:
        parts.append(F.col(c).cast("string"))
    for c in float_cols:
        parts.append(
            F.floor(F.col(c).cast("double") * F.lit(FLOAT_SCALE) + F.lit(0.5))
            .cast("bigint").cast("string")
        )
    h = F.md5(F.concat_ws(SEP, *parts))
    row = df.select(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("h2"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h1").alias("s1"), F.sum("h2").alias("s2"))
    r = row.collect()[0]
    return (int(r["n"]), int(r["s1"] or 0), int(r["s2"] or 0))


def _canon_float(x: float) -> str:
    return str(math.floor(float(x) * FLOAT_SCALE + 0.5))


def python_digest(rows: Iterable[Tuple], n_int: int = 0, n_str: int = 0,
                  n_float: int = 0) -> Digest:
    """Digest of ``rows`` whose fields are ``n_int`` integers, then
    ``n_str`` strings, then ``n_float`` floats, in that order."""
    n = s1 = s2 = 0
    for r in rows:
        fields = [str(int(v)) for v in r[:n_int]]
        fields += [str(v) for v in r[n_int:n_int + n_str]]
        fields += [_canon_float(v) for v in r[n_int + n_str:n_int + n_str + n_float]]
        d = hashlib.md5(SEP.join(fields).encode("utf-8")).hexdigest()
        n += 1
        s1 += int(d[:8], 16)
        s2 += int(d[8:16], 16)
    return (n, s1, s2)
