"""Cross-engine deterministic primitives for the training-data pipeline.

Every pipeline operator (dedup, search, text analysis) is built on
hash functions whose output is *bit-identical* in Spark SQL and in the
DuckDB oracle, so the driver's value-hash correctness gate can verify the
full algorithm (not just row counts):

- ``md5(string)`` produces the same 32-char hex in both engines.
- ``h60``: the first 15 hex chars of md5 parsed as a base-16 integer is a
  deterministic, uniformly-distributed 60-bit non-negative int in both
  engines (Spark ``conv(substring(md5(x),1,15),16,10)``; DuckDB
  ``('0x' || substr(md5(x),1,15))::BIGINT``). 60 bits keeps it inside a
  signed int64 in both.
- Double-precision folds (``aggregate`` in Spark, ``list_dot_product`` in
  DuckDB) were measured bit-exact for identical operand order.

All expressions here are pure Column expressions (JVM-side, whole-stage
codegen) — no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_RE = "[a-z0-9]+"

#: number of minhash permutations and LSH banding layout (k = bands*rows)
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4


def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    Heavy per-row projections (shingling, hashing, cosine folds) must not
    inherit their parallelism from the input file-split count: a small or
    poorly-split Parquet source otherwise pins the whole operator to a
    handful of tasks. One cheap round-robin exchange of the (projected)
    input lets every core work; at real scale the source has thousands of
    splits and the caller can pass ``parts=0`` semantics by skipping it,
    but the exchange is still tiny relative to the per-row compute it
    unlocks.
    """
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)



def h60(col) -> Column:
    """60-bit deterministic hash: int of the first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(_col(col)), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """DuckDB SQL producing the identical 60-bit hash."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def tokens(col) -> Column:
    """Lowercase alphanumeric tokens (the shared pipeline tokenizer)."""
    return F.regexp_extract_all(F.lower(_col(col)), F.lit(TOKEN_RE), F.lit(0))


def tokens_sql(expr: str) -> str:
    return f"regexp_extract_all(lower({expr}), '{TOKEN_RE}')"


def word_shingles(col, k: int = 3) -> Column:
    """Word k-gram shingles joined by a single space.

    Documents with fewer than ``k`` tokens yield an empty array (matched
    exactly by the oracle: DuckDB ``range(1, len-k+2)`` is empty then).

    The token array is BOUND as a lambda variable (single-element-array
    ``transform`` wrapper) before the per-shingle lambda slices it.
    Referencing the ``tokens()`` expression directly inside the lambda
    re-evaluates the regex extraction per shingle index (Spark does not
    CSE across lambda scopes) — measured ~2× slower for the whole
    minhash hot path at sf0.1; per-shingle work must only touch bound
    attributes."""

    def _grams(t: Column) -> Column:
        n = F.size(t)
        g = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
        return F.when(n >= k, g).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), _grams), 1)


def word_shingles_sql(expr: str, k: int = 3) -> str:
    t = tokens_sql(expr)
    return (
        f"CASE WHEN len({t}) >= {k} THEN "
        f"[array_to_string(({t})[i:i+{k - 1}], ' ') "
        f"FOR i IN range(1, len({t}) - {k - 1} + 1)] "
        f"ELSE [] END"
    )


#: affine-permutation minhash parameters: mh_i = min((A[i]*h32 + B[i]) % P).
#: One md5 per shingle (reduced to 32 bits) + k multiply-adds replaces k
#: full md5 passes — 16× less hashing on the hot path. P is the Mersenne
#: prime 2^31-1; A[i] < 2^30 keeps A[i]*h32 < 2^62 (no int64 overflow in
#: either engine); fixed odd multipliers make the signature deterministic.
MINHASH_P = 2_147_483_647


def _mh_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    out = []
    for i in range(k):
        a = ((i + 1) * 2_654_435_761) % (1 << 30) | 1
        b = ((i + 1) * 40_503 * 65_537) % MINHASH_P
        out.append((a, b))
    return out




def shingle_hashes(shingles: Column) -> Column:
    """Shingle strings -> 60-bit md5 hashes (the shared pre-hash of every
    minhash path)."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )


def minhash_from_hashes(hashed: Column, k: int = MINHASH_K) -> list[Column]:
    """k minhash values over affine permutations of pre-hashed shingles
    (classic (a*h+b) mod p universal-hash minhash; the top 32 bits of h
    keep a*h inside int64). The single definition both
    :func:`minhash_signature` and the LSH pipeline consume — a change to
    the permutation scheme lands everywhere at once."""

    def _perm(a: int, b: int):
        return lambda h: (F.shiftright(h, 28) * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)

    return [
        F.array_min(F.transform(hashed, _perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(_mh_params(k))
    ]


def minhash_signature(shingles: Column, k: int = MINHASH_K) -> list[Column]:
    """k minhash values straight from shingle strings. The shared
    ``hashed`` subtree is a plain (non-lambda) argument, so
    projection-level subexpression elimination evaluates it once per row
    across all k branches."""
    return minhash_from_hashes(shingle_hashes(shingles), k)


#: random-hyperplane LSH defaults: 60 sign bits (inside signed int64, same
#: convention as h60/simhash), banded 10×6 for candidate generation.
#: Components are quantized to ``floor(v * 2^20)`` int64 before the dot so
#: the sign computation is EXACT integer arithmetic — order-independent and
#: therefore bit-identical across numpy (int matmul), Spark, and DuckDB.
HYPERPLANE_N = 60
HYPERPLANE_DIM = 64
HYPERPLANE_BAND_BITS = 6
HYPERPLANE_SCALE = 1 << 20


def plane_matrix(n_planes: int = HYPERPLANE_N, dim: int = HYPERPLANE_DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix: component (p, d) is +1 iff bit 0
    of the 60-bit md5 hash of ``"p:d"`` is set — the same derivation both
    engines use for ``h60``, but evaluated ONCE on the driver. The matrix
    is a constant of (n_planes, dim); shipping it as a constant removes
    n_planes×dim md5 calls from every row's hot path."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16) & 1 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_sig_batch(n_planes: int = HYPERPLANE_N, dim: int = HYPERPLANE_DIM):
    """Vectorized signature kernel: Series of float vectors → int64 numpy.

    Dense sign-projection is linear algebra, not relational work — an
    Arrow-batched numpy int64 matmul is ~1000× faster than interpreted
    per-row higher-order-function folds and is the honest 100 TB shape
    (BLAS per batch, zero shuffle). Quantization makes it reproducible:
    ``q = floor(v·2^20)`` exactly (float32→float64 and ·2^20 are exact),
    then ``sign(q @ planes.T)`` is pure int64 arithmetic.
    """
    import numpy as np

    planes = np.array(plane_matrix(n_planes, dim), dtype=np.int64)  # (P, D)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit p -> 2^p

    def kernel(vecs) -> "np.ndarray":
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        q = np.floor(x * HYPERPLANE_SCALE).astype(np.int64)  # (N, D) exact
        bits = (q @ planes.T) > 0  # (N, P) exact int dots
        return bits @ weights

    return kernel


def hyperplane_sig_pd(
    vec_col, n_planes: int = HYPERPLANE_N, dim: int = HYPERPLANE_DIM
) -> Column:
    """``hyperplane_sig_batch`` as an Arrow-batched pandas UDF column."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    kernel = hyperplane_sig_batch(n_planes, dim)

    def _sig(v):
        return pd.Series(kernel(v.to_numpy()))

    # concrete class annotations (not strings) drive scalar-UDF inference
    _sig.__annotations__ = {"v": pd.Series, "return": pd.Series}
    sig = pandas_udf(_sig, "long")
    return sig(_col(vec_col))


def hyperplane_q_sql(expr: str) -> str:
    """DuckDB SQL quantizing a float vector to the exact int64 component
    list (compute once in a CTE, then feed ``hyperplane_sig_from_q_sql``)."""
    return (
        f"[CAST(floor(CAST(e AS DOUBLE) * {HYPERPLANE_SCALE}) AS BIGINT) "
        f"FOR e IN {expr}]"
    )


def hyperplane_sig_from_q_sql(
    q: str = "q", n_planes: int = HYPERPLANE_N, dim: int = HYPERPLANE_DIM
) -> str:
    """DuckDB SQL producing the bit-identical signature from a quantized
    component list: since plane entries are ±1, plane p's dot is
    ``2·Σ_{d: +1} q[d] − Σ q[d]`` — a static expression tree of list
    indexes that DuckDB evaluates vectorized (no per-row lambda loops),
    and exact int64 arithmetic, so fold order cannot matter."""
    planes = plane_matrix(n_planes, dim)
    t = f"list_sum({q})"
    terms = []
    for p, plane in enumerate(planes):
        pos = " + ".join(f"{q}[{d + 1}]" for d in range(dim) if plane[d] == 1)
        terms.append(f"(CASE WHEN 2 * ({pos}) - {t} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns.

    Sequential left-to-right double fold — bit-exact vs DuckDB's
    ``list_dot_product`` on the same operand order.
    """
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    # try_divide: a zero-norm vector yields NULL (not an ANSI
    # DIVIDE_BY_ZERO abort) — exactly DuckDB's x/0.0 semantics, so
    # threshold filters treat zero vectors as similar-to-nothing in
    # both engines
    return F.try_divide(dot, na * nb)


def cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )
