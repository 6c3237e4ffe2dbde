"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of each variant at 100 TB):

- ``exact_dedup``: one hash-shuffle on md5(text) — the cheapest possible
  grouping; AQE handles skew (identical boilerplate docs hash to one key
  but the aggregation is partial/final so the map side pre-combines).
- ``minhash_lsh_pairs``: the linear-scale near-dup path. Signatures are a
  per-row projection (no shuffle); the only shuffle is the band-bucket
  self-join, whose key (band_idx, band_hash) is high-cardinality by
  construction, so candidate pairs ≪ n². Exact Jaccard verification then
  touches only candidates.
- ``ngram_jaccard_pairs``: exact all-pairs via a shingle equi-join —
  quadratic in the worst case; intended for verification / small slices.
  Use the LSH variant as the scale path.
- ``simhash64``: per-row projection to a 60-bit fingerprint; near-dup =
  small Hamming distance, found by banding the fingerprint into 4
  15-bit keys (any pair with Hamming ≤ 3 shares ≥ 1 band).
- ``embedding_dup_pairs``: brute cosine is O(n²) (verification baseline);
  the scale path buckets by random-hyperplane signs first.

Every hash is md5-derived (see ``core``) so the DuckDB oracle reproduces
candidate sets and scores bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from . import core
from .core import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    MINHASH_P,
    _mh_params,
    cosine_sql,
    h60,
    h60_sql,
    spread,
    word_shingles,
    word_shingles_sql,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5; keep the lowest id as canonical.

    Returns (content_hash, keeper, n_dups). One shuffle, map-side combined.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    return (
        f"SELECT md5({text_col}) AS content_hash, min({id_col}) AS keeper, "
        f"count(*) AS n_dups FROM {table} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _distinct_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Distinct (id, shingle-hash) pairs. Shingles are reduced to 60-bit
    md5 hashes before the distinct: the shuffle moves int64s instead of
    ~40-char strings (~10× less shuffle bytes) and the equi-joins compare
    longs. Collision odds within one doc pair are ~S²/2^61 — vanishing —
    and the oracle hashes identically, so results still match bit-exactly.
    """
    return (
        spread(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(word_shingles(text_col, k)).alias("_s"),
        )
        .select(F.col(id_col), h60("_s").alias("s"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding + exact
    Jaccard verification of candidates only.

    MINHASH_K=16 string-minhashes, banded 4x4: a pair with Jaccard j
    collides with probability 1-(1-j^4)^4 (≈0.9996 at j=0.8). Candidates
    are then verified with exact Jaccard over distinct shingle sets and
    filtered to ``threshold``. Returns (id_a, id_b, inter_n, union_n, jaccard).
    """
    # One md5 per shingle, materialized once (cache): the signature path
    # reads the 60-bit hash array per row, the verification path explodes
    # the same array. Signatures use the top 32 bits (h >> 28) under k
    # affine permutations — multiply-adds, not k fresh hash passes.
    hl = (
        spread(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            core.shingle_hashes(word_shingles(text_col, shingle_k)).alias("hl"),
        )
        .filter(F.size("hl") > 0)
        # localCheckpoint, not cache: blocks are freed by the
        # ContextCleaner when the caller drops the result (cache()
        # would pin the CacheManager entry forever)
        .localCheckpoint(eager=False)
    )

    sigs = hl.select(
        F.col(id_col), *core.minhash_from_hashes(F.col("hl"), MINHASH_K)
    )

    band_cols = []
    for b in range(LSH_BANDS):
        parts = [F.col(f"mh{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws(",", *parts).alias("key"))
        )
    # materialized: the self-join would otherwise recompute the
    # permutations once per branch. Bands are 4 short rows per doc —
    # tiny relative to the corpus, safe to pin at any scale (and freed
    # on GC, unlike a cache() pin).
    bands = (
        sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk"))
        .select(id_col, "bk.band", "bk.key")
        .localCheckpoint(eager=False)
    )

    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )

    # pinned: reused by both sides of the verification join and the size
    # aggregate (3 plan branches). Int64 shingle hashes, not strings.
    sh = (
        hl.select(F.col(id_col), F.explode("hl").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sz = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sh.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(
            sh.alias("sb"),
            (F.col("id_b") == F.col(f"sb.{id_col}")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    out = (
        inter.join(sz.alias("za"), F.col("id_a") == F.col(f"za.{id_col}"))
        .join(sz.alias("zb"), F.col("id_b") == F.col(f"zb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            "inter_n",
            (F.col("za.n") + F.col("zb.n") - F.col("inter_n")).alias("union_n"),
        )
        .withColumn("jaccard", F.col("inter_n").cast("double") / F.col("union_n").cast("double"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_lsh_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> str:
    """DuckDB replica of the full LSH protocol (identical candidate set)."""
    sh_expr = word_shingles_sql(text_col, shingle_k)
    sig_exprs = ", ".join(
        f"list_min(list_transform(hl, h -> ((h >> 28) * {a} + {b}) % {MINHASH_P}))"
        for a, b in _mh_params(MINHASH_K)
    )
    band_exprs = ", ".join(
        f"array_to_string(sigs[{b * LSH_ROWS + 1}:{b * LSH_ROWS + LSH_ROWS}], ',') AS k{b}"
        for b in range(LSH_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, k{b} AS key FROM sig" for b in range(LSH_BANDS)
    )
    return f"""
    WITH base AS (SELECT {id_col}, {sh_expr} AS sl FROM {table}),
    hashed AS (
      SELECT {id_col}, list_transform(sl, s -> {h60_sql('s')}) AS hl
      FROM base WHERE len(sl) > 0
    ),
    sig AS (
      SELECT {id_col}, {band_exprs}
      FROM (SELECT {id_col}, [{sig_exprs}] AS sigs FROM hashed)
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.{id_col} AS id_a, y.{id_col} AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.{id_col} < y.{id_col}
    ),
    sh AS (
      SELECT {id_col}, s FROM (SELECT {id_col}, unnest(hl) AS s FROM hashed)
      GROUP BY 1, 2
    ),
    sz AS (SELECT {id_col}, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter_n
      FROM cand c
      JOIN sh sa ON sa.{id_col} = c.id_a
      JOIN sh sb ON sb.{id_col} = c.id_b AND sa.s = sb.s
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter_n,
           (za.n + zb.n - inter_n) AS union_n,
           CAST(inter_n AS DOUBLE) / CAST(za.n + zb.n - inter_n AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz za ON za.{id_col} = id_a
    JOIN sz zb ON zb.{id_col} = id_b
    WHERE CAST(inter_n AS DOUBLE) / CAST(za.n + zb.n - inter_n AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact all-pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard pairs via a shingle equi-join (no LSH prefilter).

    Quadratic worst case — the verification baseline; use
    ``minhash_lsh_pairs`` at scale. Returns the same shape as LSH so the
    two can be diffed."""
    sh = _distinct_shingles(df, text_col, id_col, shingle_k).localCheckpoint(
        eager=False
    )
    sz = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .groupBy(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    return (
        inter.join(sz.alias("za"), F.col("id_a") == F.col(f"za.{id_col}"))
        .join(sz.alias("zb"), F.col("id_b") == F.col(f"zb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            "inter_n",
            (F.col("za.n") + F.col("zb.n") - F.col("inter_n")).alias("union_n"),
        )
        .withColumn("jaccard", F.col("inter_n").cast("double") / F.col("union_n").cast("double"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> str:
    sh_expr = word_shingles_sql(text_col, shingle_k)
    hs = h60_sql("_s")
    return f"""
    WITH sh AS (
      SELECT {id_col}, {hs} AS s
      FROM (SELECT {id_col}, unnest({sh_expr}) AS _s FROM {table})
      GROUP BY 1, 2
    ),
    sz AS (SELECT {id_col}, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT x.{id_col} AS id_a, y.{id_col} AS id_b, count(*) AS inter_n
      FROM sh x JOIN sh y ON x.s = y.s AND x.{id_col} < y.{id_col}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter_n,
           (za.n + zb.n - inter_n) AS union_n,
           CAST(inter_n AS DOUBLE) / CAST(za.n + zb.n - inter_n AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz za ON za.{id_col} = id_a
    JOIN sz zb ON zb.{id_col} = id_b
    WHERE CAST(inter_n AS DOUBLE) / CAST(za.n + zb.n - inter_n AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash fingerprint per document (term-frequency weighted).

    Bit j of the fingerprint is 1 iff the sum over token occurrences of
    ±1 (by bit j of the token's 60-bit md5 hash) is positive.

    Shape: explode tokens → one hash per token → 60 flat SUM aggregates →
    fingerprint assembly. One shuffle on the doc id (map-side combined),
    but each expression is trivial — unlike a 60-way nested fold, which
    whole-stage codegen compiles for tens of seconds. Tokenless docs come
    back via the left join with fingerprint 0 (matches the oracle).

    The 60 aggregates and the 60-term assembly are built as SQL strings
    (one ``F.expr`` each / one for the whole assembly): hand-composing
    them from Column operators cost ~0.9s of pure py4j round trips per
    call — more than the job itself at micro-batch sizes (measured in
    the r16 optimization round; the parsed expression trees, and hence
    the results, are identical).
    """
    tok = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("w"),
    )
    h = tok.select(
        F.col(id_col),
        F.expr(
            "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"
        ).alias("hv"),
    )
    sums = h.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(cast((shiftright(hv, {j}) & 1) * 2 - 1 as bigint))"
                f" as b{j}"
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    fp_sql = " + ".join(
        f"(case when b{j} > 0 then cast({1 << j} as bigint)"
        f" else cast(0 as bigint) end)"
        for j in range(SIMHASH_BITS)
    )
    fp = sums.select(
        F.col(id_col),
        F.expr(f"cast(({fp_sql}) as bigint)").alias("simhash"),
    )
    return (
        df.select(F.col(id_col))
        .join(fp, id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def simhash64_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    hv = h60_sql("w")
    return f"""
    WITH tok AS (
      SELECT {id_col},
             unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS w
      FROM {table}
    ),
    h AS (SELECT {id_col}, {hv} AS hv FROM tok),
    bits AS (
      SELECT {id_col}, j,
             sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT {id_col},
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY 1
    )
    SELECT d.{id_col}, coalesce(fp.simhash, 0) AS simhash
    FROM {table} d LEFT JOIN fp ON d.{id_col} = fp.{id_col}
    """


def _band_key(src: Column, lo: int, width: int) -> Column:
    """Bits ``[lo, lo+width)`` of ``src`` as a non-negative long.
    Arithmetic shiftright + mask extracts the same bits as a logical
    shift for every lo >= 1 (sign extension only touches above-mask
    bits); width >= 63 falls back to the raw value (the mask literal
    would not fit a signed long, and a full-width band IS the hash)."""
    if width >= 63:
        return src
    shifted = F.shiftright(src, lo) if lo else src
    return shifted.bitwiseAND(F.lit((1 << width) - 1))


def _residual(src: Column, lo: int, width: int, conceptual: int) -> Column:
    """``src`` with bits ``[lo, lo+width)`` removed and the halves packed
    back together — the ``conceptual - width`` bits a band-equal pair can
    still differ in. ``conceptual`` <= 64 counts the meaningful bits of
    ``src`` (higher bits are zero by construction)."""
    hi = lo + width
    low = src.bitwiseAND(F.lit((1 << lo) - 1)) if lo else F.lit(0).cast("long")
    if hi >= conceptual:
        # the removed slice reaches the top: nothing above it survives
        # (also dodges Java's shift-mod-64 on shiftright(x, 64))
        return low
    high = F.shiftright(src, hi).bitwiseAND(F.lit((1 << (conceptual - hi)) - 1))
    return (F.shiftleft(high, lo) if lo else high).bitwiseOR(low)


def banded_hamming_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    total_bits: int,
    max_hamming: int = 3,
    max_bucket: int = 128,
    max_levels: int = 4,
) -> DataFrame:
    """All pairs at Hamming(``hash_col``) <= ``max_hamming`` over an
    ``(id, hash)`` frame, with NO pairwise pass and BOUNDED bucket sizes.

    Pigeonhole banding: the hash is cut into ``max_hamming + 1`` bands
    (band count derived from the radius — a fixed 4-band layout is
    silently incomplete for radius >= 4, the round-15 advice), so any
    pair within the radius agrees exactly on >= 1 band; a self-join on
    (band, key) finds every candidate, verified with ``bit_count(xor)``.

    The round-15 scale ceiling: fixed 16-bit band keys give at most
    65,536 buckets per band, so expected candidates grow ~n²/32k past
    ~1e7 DISTINCT fingerprints. Fix: **recursive re-banding** — a
    (band, key) bucket larger than ``max_bucket`` is not joined; within
    it the pair's remaining <= ``max_hamming`` differing bits live in
    the residual (hash minus the matched band), so the residual is cut
    into ``max_hamming + 1`` sub-bands (pigeonhole again — still exact)
    and the bucket re-buckets on (bucket, sub-band, sub-key), recursing
    until buckets are bounded or ``max_levels`` is hit (the last level
    joins whatever remains: identical fingerprints can never be split,
    and their pairs are genuine output). Each level costs one
    count-groupBy and one shuffle of the oversized rows only; candidate
    volume is bounded by ~2 x max_bucket x n instead of n²/buckets.

    Bucket paths are tracked as a single xxhash64 key (long, not a
    growing string) — a cross-path collision merely merges two buckets'
    candidate sets, which the exact Hamming verification filters, so
    correctness is unaffected.

    Output: (id_a, id_b, hamming) with id_a < id_b — exactly the
    Hamming <= ``max_hamming`` closure, independent of bucket splits,
    so oracles may replay any complete banding.
    """
    if max_hamming < 0:
        raise ValueError("banded_hamming_pairs needs max_hamming >= 0")
    if not 1 <= total_bits <= 64:
        raise ValueError("banded_hamming_pairs needs 1 <= total_bits <= 64")
    n_bands = max_hamming + 1
    h = F.col(hash_col)

    def _explode_levels(df, src_expr, conceptual, parent_key):
        """One row per (row, band): (id, hash, bkey, res)."""
        width = -(-conceptual // n_bands)
        parts = []
        for b in range(n_bands):
            lo = b * width
            key = _band_key(src_expr, lo, width)
            res = _residual(src_expr, lo, width, conceptual)
            bkey = (
                F.xxhash64(parent_key, F.lit(b), key)
                if parent_key is not None
                else F.xxhash64(F.lit(b), key)
            )
            parts.append(F.struct(bkey.alias("bkey"), res.alias("res")))
        out = df.select(
            F.col(id_col), h, F.explode(F.array(*parts)).alias("_bk")
        ).select(id_col, hash_col, "_bk.bkey", "_bk.res")
        return out, n_bands * width - width

    def _self_join(part):
        # the Hamming radius check sits IN the join condition: failing
        # candidates die at the probe, before the union/distinct
        # exchange ever sees them (guide §2.3 — shuffle fewer bytes;
        # the final filter used to run AFTER the distinct, so every
        # out-of-radius candidate was shuffled once per appearance)
        return (
            part.alias("x")
            .join(
                part.alias("y"),
                (F.col("x.bkey") == F.col("y.bkey"))
                & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
                & (
                    F.bit_count(
                        F.col(f"x.{hash_col}").bitwiseXOR(
                            F.col(f"y.{hash_col}")
                        )
                    )
                    <= F.lit(max_hamming)
                ),
            )
            .select(
                F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
                F.bit_count(
                    F.col(f"x.{hash_col}").bitwiseXOR(F.col(f"y.{hash_col}"))
                ).alias("hamming"),
            )
        )

    from pyspark.sql import Observation, Window
    from pyspark.storagelevel import StorageLevel

    cur, rbits = _explode_levels(
        fp.select(id_col, hash_col), h, total_bits, None
    )
    parts = []
    level = 0

    while True:
        last = level >= max_levels or rbits < n_bands
        if not last:
            # bucket size as a window count over bkey — rides the SAME
            # shuffle that co-locates each bucket, replacing the
            # separate histogram groupBy + checkpoint + size join of
            # the r16 build (two materializations and an extra join
            # shuffle per level); the any-oversized probe rides the
            # checkpoint job as an observe() metric instead of its own
            # isEmpty scan (guide §2.4: operations keyed the same way
            # share one exchange).
            cur = cur.withColumn(
                "_n", F.count(F.lit(1)).over(Window.partitionBy("bkey"))
            )
            obs = Observation()
            cur = cur.observe(obs, F.max("_n").alias("mx"))
        # materialize the level (the self-join reads it twice; lineage
        # truncation keeps per-level plans flat) — localCheckpoint
        # blocks are freed by the ContextCleaner when the frame is
        # garbage-collected (no CacheManager pin).
        # DISK_ONLY: the level frame is bands×n rows read exactly twice;
        # the default MEMORY_AND_DISK unroll spikes the heap past 1e7
        # distinct fingerprints (the r16 x100 probe OOM'd a 48g local
        # JVM on the 4×10M-row level-0 frame), while the serialize-to-
        # disk path streams without unroll memory
        cur = cur.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        if last:
            parts.append(_self_join(cur))
            break
        try:
            mx = obs.get["mx"]
        except Exception:
            # Observation delivery is a listener-bus callback and can
            # (rarely) fail; fall back to a direct scan of the
            # checkpointed frame.
            mx = cur.agg(F.max("_n").alias("mx")).collect()[0]["mx"]
        parts.append(
            _self_join(cur.filter(F.col("_n") <= max_bucket).drop("_n"))
        )
        if mx is None or mx <= max_bucket:
            break
        big = cur.filter(F.col("_n") > max_bucket).drop("_n")
        cur, rbits = _explode_levels(big, F.col("res"), rbits, F.col("bkey"))
        level += 1

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # in-radius is already enforced inside each self-join; the distinct
    # only dedups true pairs that matched in several bands
    return out.distinct()


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 128,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Banding via :func:`banded_hamming_pairs`: ``max_hamming + 1`` bands
    of the 60-bit fingerprint (pigeonhole — complete for ANY radius, not
    just 3), with recursive re-banding of oversized buckets so candidate
    volume stays ~linear past 1e7 distinct fingerprints."""
    fp = simhash64(df, text_col, id_col)
    return banded_hamming_pairs(
        fp,
        id_col,
        "simhash",
        SIMHASH_BITS,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def simhash_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> str:
    """DuckDB oracle for :func:`simhash_pairs`: one-level pigeonhole
    banding (band count derived from the radius, like the Spark side)
    over the replayed fingerprints + exact bit_count verification. The
    output is the exact Hamming closure, so the oracle need not replay
    the recursive bucket splits — any complete banding produces the
    identical final set."""
    n_bands = max_hamming + 1
    width = -(-SIMHASH_BITS // n_bands)
    mask = (1 << width) - 1
    fp = simhash64_sql(table, text_col, id_col)
    return f"""
    WITH fp AS ({fp}),
    bands AS (
      SELECT {id_col}, simhash, b AS band,
             (simhash >> ({width} * b)) & {mask} AS key
      FROM fp, (SELECT unnest(range(0, {n_bands})) AS b)
    )
    SELECT DISTINCT x.{id_col} AS id_a, y.{id_col} AS id_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM bands x
    JOIN bands y ON y.band = x.band AND y.key = x.key
                AND x.{id_col} < y.{id_col}
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
    """


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
) -> DataFrame:
    """Brute-force cosine near-dup pairs (verification baseline; O(n²)).

    At scale, prefilter with random-hyperplane LSH
    (:func:`embedding_dup_pairs_lsh`) and verify only bucket collisions.

    Per-row work (double cast + norm) is projected once per side before
    the join; each pair then costs a single dot-product fold instead of
    re-deriving both operands' norms — ~3× less arithmetic per pair.
    """
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    pre = (
        spread(df.select(F.col(id_col), dv.alias("v")))
        .select(F.col(id_col), "v", norm.alias("nrm"))
        .localCheckpoint(eager=False)
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pre.alias("a")
        .crossJoin(pre.alias("b"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            # try_divide: zero-norm vectors are similar-to-nothing
            # (NULL), matching DuckDB x/0.0 — not an ANSI abort
            F.try_divide(dot, F.col("a.nrm") * F.col("b.nrm")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    n_planes: int = core.HYPERPLANE_N,
    band_bits: int = core.HYPERPLANE_BAND_BITS,
    dim: int = core.HYPERPLANE_DIM,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane LSH candidates
    + exact-cosine verification. The scale tier of ``embedding_dup_pairs``
    (which is the O(n²) verification baseline).

    Candidate generation is banded like MinHash-LSH/SimHash: the 60-bit
    hyperplane signature (Arrow-batched int64 numpy matmul — see
    ``core.hyperplane_sig_batch``) is cut into 10 bands of 6 bits; a pair
    is a candidate iff some band matches exactly. At cosine ~0.5 a plane
    bit agrees with p ≈ 0.66, so a 6-bit band matches with p ≈ 0.08 and
    10 bands give ~58% recall, while random pairs (cos ~ 0) collide per
    band with p = 2^-6 — candidate volume ≈ n²/12.8 instead of n²/2.
    Band width/count are the recall-vs-candidate-volume dial: at real
    near-dup thresholds (cos ≥ 0.9, plane agreement ≈ 0.86) the same 10×6
    layout gives ~99.8% recall. The O(n²) ``embedding_dup_pairs`` remains
    the verification baseline.

    Shuffle profile: ONE exchange of (id, normalized_vec, band,
    band_value) rows on the band key, then each LSH bucket verifies
    in-place with a numpy gram matrix (Arrow-batched ``applyInPandas``,
    pairs above threshold only) — never all pairs, no crossJoin anywhere
    in the plan, and candidate pairs are never materialized as rows
    carrying two full vectors (at n candidates × 2×dim doubles, that
    Arrow/shuffle volume dominates; measured 3× slower at sf0.1). The
    shuffled volume is n × bands × dim, independent of candidate count.
    A pathological hot bucket (many near-identical signatures) does its
    m² verify in one task — ``band_bits`` is the dial that bounds m; the
    same m² work exists in any banding scheme, a join merely spreads it.
    Final per-pair dedup is a tiny groupBy (max over bucket-local cosine
    copies, which can differ in the last ulp across BLAS shapes).
    """
    import numpy as np
    import pandas as pd

    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pre = spread(df.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col),
        dv.alias("v"),
        core.hyperplane_sig_pd(vec_col, n_planes, dim).alias("sig"),
    )
    bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    banded = pre.select(
        F.col(id_col),
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("sig"),
    ).select(
        F.col(id_col),
        "v",
        "band",
        F.expr(f"shiftright(sig, band * {band_bits}) & {mask}").alias("bval"),
    )

    def _verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf["v"].to_numpy())
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        gram = (mat @ mat.T) / np.outer(norms, norms)
        ia, ib = np.where(gram >= threshold)
        keep = ids[ia] < ids[ib]
        ia, ib = ia[keep], ib[keep]
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cos_sim": gram[ia, ib]}
        )

    return (
        banded.groupBy("band", "bval")
        .applyInPandas(_verify_bucket, "id_a long, id_b long, cos_sim double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def embedding_dup_pairs_lsh_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    n_planes: int = core.HYPERPLANE_N,
    band_bits: int = core.HYPERPLANE_BAND_BITS,
    dim: int = core.HYPERPLANE_DIM,
) -> str:
    c = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return f"""
    WITH qv AS (
      SELECT {id_col}, {core.hyperplane_q_sql(vec_col)} AS q FROM {table}
    ),
    sigs AS (
      SELECT {id_col}, {core.hyperplane_sig_from_q_sql('q', n_planes, dim)} AS sig
      FROM qv
    ),
    banded AS (
      SELECT {id_col}, b.band, (sig >> (b.band * {band_bits})) & {mask} AS bval
      FROM sigs CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b
    ),
    cand AS (
      SELECT DISTINCT x.{id_col} AS id_a, y.{id_col} AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bval = y.bval AND x.{id_col} < y.{id_col}
    )
    SELECT DISTINCT cand.id_a, cand.id_b, {c} AS cos_sim
    FROM cand
    JOIN {table} a ON cand.id_a = a.{id_col}
    JOIN {table} b ON cand.id_b = b.{id_col}
    WHERE {c} >= {threshold}
    """


def embedding_dup_pairs_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
) -> str:
    c = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    return f"""
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {c} AS cos_sim
    FROM {table} a JOIN {table} b ON a.{id_col} < b.{id_col}
    WHERE {c} >= {threshold}
    """


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    ngram_k: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that share at least ``min_hits`` distinct
    word ``ngram_k``-grams with any benchmark document — the standard
    test-set decontamination pass (the k is a parameter; published
    pipelines use 8-13 grams).

    Scale shape: the benchmark side is tiny relative to the corpus, so
    its distinct n-gram hashes BROADCAST; the corpus explodes its own
    n-grams once and probes the broadcast set — no shuffle of corpus
    text; output is (corpus id, benchmark id, n shared grams). At 100 TB
    the corpus-side explode is the only heavy stage and it is
    embarrassingly parallel.
    """
    # corpus side: RAW exploded grams straight into the broadcast probe —
    # a corpus-wide distinct() first would hash-shuffle every (id, gram)
    # pair before a single benchmark gram matched; filtering via the
    # broadcast join keeps the corpus stage shuffle-free and the
    # count_distinct below dedups only the (tiny) matching subset
    c_grams = (
        spread(corpus.select(id_col, text_col))
        .select(F.col(id_col), F.explode(word_shingles(text_col, ngram_k)).alias("_s"))
        .select(F.col(id_col), h60("_s").alias("s"))
    )
    b_grams = _distinct_shingles(
        benchmark.withColumnRenamed(bench_id_col, "_bid"), text_col, "_bid",
        ngram_k,
    ).withColumnRenamed("_bid", "bench_id")
    return (
        c_grams.join(F.broadcast(b_grams), "s")
        .groupBy(id_col, "bench_id")
        .agg(F.count_distinct(F.col("s")).alias("n_shared"))
        .filter(F.col("n_shared") >= min_hits)
    )


def decontaminate_sql(
    corpus_table: str = "documents",
    bench_sql: str = "SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 5,
    min_hits: int = 1,
) -> str:
    sh = word_shingles_sql(text_col, ngram_k)
    hs = h60_sql("_s")
    return f"""
    WITH cg AS (
      SELECT {id_col}, {hs} AS s
      FROM (SELECT {id_col}, unnest({sh}) AS _s FROM {corpus_table})
      GROUP BY 1, 2
    ), bg AS (
      SELECT {id_col} AS bench_id, {hs} AS s
      FROM (SELECT {id_col}, unnest({sh}) AS _s FROM ({bench_sql}))
      GROUP BY 1, 2
    )
    SELECT cg.{id_col}, bg.bench_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM cg JOIN bg USING (s)
    GROUP BY 1, 2
    HAVING count(*) >= {min_hits}
    """


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over dup pairs)
# ---------------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    shuffle_partitions: int = None,
) -> DataFrame:
    """Resolve duplicate PAIRS into duplicate CLUSTERS: connected
    components labeled by each component's minimum id — the step a real
    dedup pipeline needs after candidate pairing (A~B and B~C must
    collapse to ONE kept document, which pairwise output alone cannot
    express).

    Distributed algorithm: alternating **large-star / small-star**
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the standard shuffle-based CC construction:

    - large-star: every node points its LARGER neighbors at its current
      minimum (``(v, m(u))`` for v in Γ(u), v > u);
    - small-star: every node points its smaller-or-equal neighbors at
      the minimum (``(v, m(u))`` for v ≤ u, v ≠ m).

    Each round is two map-combined groupBy shuffles over the edge set —
    no driver-side graph, edge volume never grows beyond O(|E|) — and
    converges in O(log n) rounds to a star forest (every node points
    directly at its component root). Convergence is detected by an edge
    multiset checksum (one tiny aggregate per round); ``max_iter``
    bounds the worst case.

    Output: one row per node appearing in ``pairs`` —
    ``(member, cluster_id)`` with ``cluster_id`` = min id in the
    component (roots map to themselves). Canonical-keeper selection is
    then ``filter(member == cluster_id)`` (see :func:`keep_canonical`).

    ``shuffle_partitions``: optional override for the rounds' shuffles —
    the edge set is usually orders of magnitude smaller than the corpus
    (only duplicated docs appear), so a corpus-sized partition count
    pays per-round scheduling for empty partitions. Size to edge volume;
    the session conf is restored afterwards.
    """
    spark = pairs.sparkSession
    old_parts = None
    if shuffle_partitions is not None:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return _dup_clusters_run(pairs, id_a, id_b, max_iter)
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _dup_clusters_run(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    from pyspark.sql import Observation, Window

    e = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()

    # orient (child, parent): parent strictly smaller
    e = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    # materialize BEFORE the loop: each round references its input
    # several times (symmetrize union + min join), and an unmaterialized
    # candidate-pair plan (e.g. the O(n²) cosine crossJoin) would
    # re-execute once per reference
    e = e.localCheckpoint(eager=True)

    # Both stars compute "group minimum over u, re-emitted on every
    # row" — a min() over an unordered Window.partitionBy(u), ONE
    # shuffle, instead of the groupBy + join-back pair (two shuffles +
    # join planning per star). Same rows out, so the converged forest
    # is identical (r16 optimization round; guide §2.4 — two operations
    # keyed the same way share one exchange).
    _wu = Window.partitionBy("u")

    def _large(edges: DataFrame) -> DataFrame:
        """(v, m(u)) for every neighbor v > u, m = min(Γ(u) ∪ {u}).
        Every input edge contributes exactly once — via its smaller
        endpoint's group — so connectivity is preserved."""
        nbr = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        return (
            nbr.withColumn("m", F.least(F.min("v").over(_wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small(edges: DataFrame) -> DataFrame:
        """Input oriented (child, parent); group each child over its
        parents: emit (child, m) and (p, m) for the non-min parents —
        including the SELF edge, which is what keeps lone children
        attached to their root. Edges are distinct, so v == m holds on
        exactly ONE row per group — that row carries the self edge
        (u, m); every other row carries its parent edge (v, m)."""
        return (
            edges.withColumn("m", F.min("v").over(_wu))
            .select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m").alias("v"),
            )
            .distinct()
        )

    prev = None
    for _ in range(max_iter):
        stepped = _small(_large(e))
        # Convergence checksum rides the checkpoint job as observe()
        # metrics — one action per round instead of materialize +
        # re-scan (the insert-path observe discipline).
        obs = Observation()
        stepped = stepped.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal sum: int64 hash sums overflow under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        )
        # localCheckpoint: materialize AND truncate lineage — without it
        # each round re-analyzes the whole prior plan and the iteration
        # goes quadratic in planning time (measured: 64-node chain took
        # minutes with persist-only, sub-second per round with this)
        e = stepped.localCheckpoint(eager=True)
        try:
            got = obs.get
            cur = (got["n"], got["h"])
        except Exception:
            # Observation delivery is a listener-bus callback and can
            # (rarely) fail to materialize; fall back to a direct scan
            # of the just-checkpointed frame.
            row = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            cur = (row["n"], row["h"])
        if cur == prev:
            break
        prev = cur
    # star forest: e is (child -> root); roots appear only on the right
    members = e.select(F.col("u").alias("member"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("member")).distinct().select(
        "member", F.col("member").alias("cluster_id")
    )
    return members.unionByName(roots).distinct()


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every cluster member except the canonical keeper (the
    cluster root = min id): anti-join the corpus against non-root
    members. The cluster frame is orders of magnitude smaller than the
    corpus (only docs that had a duplicate), so the anti join
    broadcasts."""
    losers = clusters.filter(F.col("member") != F.col("cluster_id")).select(
        F.col("member").alias(id_col)
    )
    return docs.join(F.broadcast(losers), id_col, "left_anti")


def dup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB oracle: transitive-closure label propagation in a
    recursive CTE — every node accumulates all reachable labels, the
    component id is the minimum. Exponential-ish in theory, fine at
    oracle scale; the Spark side is the O(log n) star algorithm."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, l) AS (
      SELECT u, u AS l FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS u, r.l FROM reach r JOIN edges e ON e.u = r.u
    )
    SELECT u AS member, CAST(min(l) AS BIGINT) AS cluster_id
    FROM reach GROUP BY u
    """


# ---------------------------------------------------------------------------
# corpus-level line dedup (C4 / CCNet style)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
) -> DataFrame:
    """Corpus-wide keep-first line deduplication (the C4 "three-sentence
    span" / CCNet line-hash filter, simplified to whole lines): any line of
    at least ``min_len`` characters that occurs anywhere else in the corpus
    survives only at its first occurrence (lowest ``(doc_id, position)``);
    shorter lines (blank lines, headings, separators) always survive, which
    both matches practice and caps the hottest shuffle keys.

    Returns one row per input document:
    ``(id, n_lines, n_kept, clean)`` where ``clean`` is the document
    rebuilt from its surviving lines in order.

    Scale shape (100 TB): explode is pipelined with the scan; then four
    linear shuffles — (0) the ``spread`` round-robin that decouples
    per-line work from the source split count, (1) map-combined
    ``min(struct(doc, pos))`` per 60-bit line hash, (2) an equi-join of
    the exploded lines against that keeper table on the same hash key
    (AQE skew-split handles boilerplate lines), (3) the per-document
    reassembly groupBy. No windows over
    corpus-wide partitions, no driver-side state.
    """
    # NULL text explodes to zero rows and would silently drop the doc;
    # coalesce keeps the one-row-per-document contract (NULL == empty)
    lines = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    )
    keepers = (
        lines.filter(F.length("line") >= min_len)
        .groupBy(h60("line").alias("lh"))
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).alias("k")
        )
    )
    marked = (
        lines.withColumn(
            "lh", F.when(F.length("line") >= min_len, h60("line"))
        )
        .join(keepers, "lh", "left")
        .withColumn(
            "keep",
            F.col("lh").isNull()
            | ((F.col(id_col) == F.col("k.d")) & (F.col("pos") == F.col("k.p"))),
        )
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
            ).alias("clean"),
        )
    )


def line_dedup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
) -> str:
    """DuckDB oracle replaying :func:`line_dedup` exactly: keep-first =
    ``row_number() OVER (PARTITION BY line ORDER BY doc, pos) = 1`` (the
    Spark side's ``min(struct(doc, pos))`` keeper), short lines always
    kept. Gate-shaped output: fingerprint + length instead of the full
    rebuilt text so the compared rows stay small."""
    clean = (
        f"coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) "
        f"ORDER BY pos), '')"
    )
    return f"""
    WITH lines AS (
      SELECT {id_col}, pos, arr[pos + 1] AS line
      FROM (SELECT {id_col}, string_split(coalesce({text_col}, ''), chr(10)) AS arr
            FROM {table}) t,
           LATERAL (SELECT unnest(range(0, len(arr))) AS pos) p
    ), marked AS (
      SELECT {id_col}, pos, line,
             CASE WHEN length(line) < {min_len} THEN TRUE
                  ELSE row_number() OVER (
                         PARTITION BY line ORDER BY {id_col}, pos) = 1
             END AS keep
      FROM lines
    )
    SELECT {id_col},
           count(*) AS n_lines,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           length({clean})::INT AS clean_len,
           substr(md5({clean}), 1, 16) AS clean_fp
    FROM marked GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the suffix-array ExactSubstr dedup,
# re-expressed as a bucketed fixed-length n-gram sort, never all-pairs)
# ---------------------------------------------------------------------------


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 40,
    stride: int = 1,
) -> DataFrame:
    """Corpus-wide exact-substring duplicate detection: a document is a
    substring-duplicate when it shares a ≥``length``-character span with
    an EARLIER document (keep-first by ``(doc_id, position)``, the same
    keeper discipline as :func:`line_dedup`). This is the suffix-array
    ExactSubstr criterion of Lee et al. 2022 realized by other means: a
    span of ≥ ``length`` chars is shared iff some fixed-length window
    (gram) of it is shared, so grouping all grams by content finds every
    such span with zero pairwise comparisons — the distributed analog of
    sorting the suffix array.

    ``stride`` > 1 samples window starts (the final window is always
    included so the tail is covered); the detection guarantee weakens to
    spans of ≥ ``length + stride − 1`` chars that start at a sampled
    offset of the earlier document — the standard index-side sampling
    trade (use stride 1 for the exact guarantee).

    Returns one row per input document:
    ``(id, n_grams, n_dup_grams, dup_frac, keep)`` — ``n_dup_grams``
    counts grams first seen in an earlier document, ``keep`` is True when
    there are none (documents shorter than ``length`` have no grams and
    always survive).

    Scale shape (100 TB): grams explode pipelined with the scan, each
    reduced to a 60-bit hash immediately — shuffle volume is
    Σ(len_i/stride) × ~24 bytes (id + pos + hash), the same class as
    :func:`line_dedup`'s line shuffle. Then three linear shuffles: (1)
    map-combined ``min(struct(doc, pos))`` keeper per gram hash, (2) an
    equi-join of the grams against the keeper table on the hash (AQE
    skew-split absorbs boilerplate grams), (3) the per-document stats
    groupBy. No suffix array materialization, no all-pairs join, no
    driver-side state."""
    if length < 2:
        raise ValueError("substring_dedup needs length >= 2")
    if stride < 1:
        raise ValueError("substring_dedup needs stride >= 1")
    base = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    n_starts = F.length("_t") - F.lit(length) + 1
    pos_seq = F.when(
        n_starts > 0,
        F.array_distinct(
            F.concat(
                F.sequence(
                    F.lit(0), n_starts - 1, F.lit(stride).cast("int")
                ),
                F.array(n_starts - 1),
            )
        ),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.col("_t"),
        F.explode(pos_seq).alias("pos"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        h60(F.col("_t").substr(F.col("pos") + 1, F.lit(length))).alias(
            "gh"
        ),
    )
    # keeper via min() over Window.partitionBy(gh), not groupBy + join
    # back: the join's two inputs each force their own exchange of the
    # gram pipeline, so the explode + substr + hash pass over the whole
    # corpus would run twice (guide §2.4; r16 optimization round). One
    # exchange on gh, same keeper rows out.
    from pyspark.sql import Window

    marked = grams.withColumn(
        "k",
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        ).over(Window.partitionBy("gh")),
    ).withColumn("dup", (F.col("k.d") < F.col(id_col)).cast("long"))
    stats = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("dup").alias("n_dup_grams"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias(
                "n_dup_grams"
            ),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
            (F.coalesce(F.col("n_dup_grams"), F.lit(0)) == 0).alias(
                "keep"
            ),
        )
    )


def substring_dedup_trim(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 40,
) -> DataFrame:
    """Exact-substring TRIM (the full Lee et al. 2022 ExactSubstr
    behavior): instead of flagging whole documents, remove the
    duplicated spans themselves — every maximal run of ≥``length``-char
    windows first seen in an EARLIER document is cut out of the text;
    the first occurrence (lowest ``(doc_id, position)``) keeps its
    copy, so exactly one copy of every duplicated span survives the
    corpus (keep-first at document granularity; a document's internal
    repeats are not cross-doc duplicates and stay). Stride is fixed at
    1: span boundaries are exact, not gram-aligned approximations.

    Returns one row per input document:
    ``(id, n_spans, n_chars_removed, clean)``.

    Scale shape: the flag path's three linear shuffles, plus one
    window per document (interval merge — partitions are single
    documents, never corpus-wide) and the per-document reassembly
    groupBy; kept-segment counts are bounded by ``len/length`` per
    document. Same class as :func:`line_dedup`'s reassembly."""
    if length < 2:
        raise ValueError("substring_dedup_trim needs length >= 2")
    from pyspark.sql import Window

    base = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    n_starts = F.length("_t") - F.lit(length) + 1
    pos_seq = F.when(
        n_starts > 0, F.sequence(F.lit(0), n_starts - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.col("_t"),
        F.explode(pos_seq).alias("pos"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        h60(F.col("_t").substr(F.col("pos") + 1, F.lit(length))).alias(
            "gh"
        ),
    )
    # keeper via window-min over gh (one exchange, one gram pass) —
    # see substring_dedup for the groupBy-vs-window rationale
    dup_pos = (
        grams.withColumn(
            "k",
            F.min(
                F.struct(
                    F.col(id_col).alias("d"), F.col("pos").alias("p")
                )
            ).over(Window.partitionBy("gh")),
        )
        .filter(F.col("k.d") < F.col(id_col))
        .select(id_col, "pos")
    )
    # merge overlapping/adjacent [pos, pos+L) windows into maximal
    # islands: a window whose pos exceeds the running max end starts a
    # new island (per-document partitions — never corpus-wide)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + F.lit(length)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup_pos.withColumn(
        "_new",
        (prev_max_end.isNull() | (F.col("pos") > prev_max_end)).cast(
            "long"
        ),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = marked.groupBy(id_col, "_island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(length)).alias("e"),
    )
    # kept segments = complement of the islands: [prev island end,
    # island start) per island, plus the tail after the last island
    wi = Window.partitionBy(id_col).orderBy("s")
    segs = islands.select(
        id_col,
        F.coalesce(F.lag("e").over(wi), F.lit(0)).alias("ks"),
        F.col("s").alias("ke"),
    )
    tail = islands.groupBy(id_col).agg(
        F.max("e").alias("ks"),
        F.lit(None).cast("long").alias("ke"),  # open end -> to len
        F.sum(F.col("e") - F.col("s")).alias("_removed"),
        F.count(F.lit(1)).alias("_nspans"),
    )
    pieces = segs.select(id_col, "ks", "ke").unionByName(
        tail.select(id_col, "ks", "ke")
    )
    rebuilt = (
        pieces.join(base, id_col)
        .select(
            id_col,
            F.col("ks"),
            F.col("_t")
            .substr(
                (F.col("ks") + 1).cast("int"),
                F.coalesce(
                    (F.col("ke") - F.col("ks")).cast("int"),
                    F.length("_t"),
                ),
            )
            .alias("piece"),
        )
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ks", "piece"))
                    ),
                    lambda x: x["piece"],
                ),
            ).alias("clean")
        )
    )
    out = (
        df.select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias("_orig"))
        .join(tail.select(id_col, "_removed", "_nspans"), id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_nspans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("_removed"), F.lit(0)).alias(
                "n_chars_removed"
            ),
            F.coalesce(F.col("clean"), F.col("_orig")).alias("clean"),
        )
    )
    return out


def substring_dedup_trim_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 40,
) -> str:
    """DuckDB oracle replaying :func:`substring_dedup_trim` exactly:
    identical keeper ordering, interval-merge islands via the same
    running-max window, complement segments + ordered string_agg
    reassembly. Gate-shaped output (fingerprint + length instead of
    the full text, the :func:`line_dedup_sql` precedent)."""
    return f"""
    WITH base AS (
      SELECT {id_col}, coalesce({text_col}, '') AS t FROM {table}
    ), grams AS (
      SELECT {id_col}, pos, substr(t, pos + 1, {length}) AS g
      FROM (
        SELECT {id_col}, t,
               CAST(length(t) - {length} + 1 AS BIGINT) AS n_starts
        FROM base
      ) b,
      LATERAL (SELECT unnest(range(0, greatest(n_starts, 0))) AS pos) p
      WHERE n_starts > 0
    ), dup AS (
      SELECT {id_col}, pos FROM (
        SELECT {id_col}, pos,
               first_value({id_col}) OVER (
                 PARTITION BY g ORDER BY {id_col}, pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS owner
        FROM grams
      ) WHERE owner < {id_col}
    ), marked AS (
      SELECT {id_col}, pos,
             CASE WHEN max(pos + {length}) OVER (
                    PARTITION BY {id_col} ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR pos > max(pos + {length}) OVER (
                    PARTITION BY {id_col} ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) THEN 1 ELSE 0 END AS new_island
      FROM dup
    ), islands AS (
      SELECT {id_col},
             sum(new_island) OVER (
               PARTITION BY {id_col} ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island, pos
      FROM marked
    ), spans AS (
      SELECT {id_col}, island, min(pos) AS s,
             max(pos) + {length} AS e
      FROM islands GROUP BY 1, 2
    ), pieces AS (
      SELECT {id_col},
             coalesce(lag(e) OVER (
               PARTITION BY {id_col} ORDER BY s), 0) AS ks,
             s AS ke
      FROM spans
      UNION ALL
      SELECT {id_col}, max(e) AS ks, NULL AS ke
      FROM spans GROUP BY {id_col}
    ), rebuilt AS (
      SELECT p.{id_col},
             string_agg(
               substr(b.t, CAST(p.ks + 1 AS INT),
                      CAST(coalesce(p.ke - p.ks, length(b.t)) AS INT)),
               '' ORDER BY p.ks) AS clean
      FROM pieces p JOIN base b USING ({id_col})
      GROUP BY p.{id_col}
    ), stats AS (
      SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(e - s) AS BIGINT) AS n_chars_removed
      FROM spans GROUP BY {id_col}
    )
    SELECT b.{id_col},
           coalesce(st.n_spans, 0) AS n_spans,
           coalesce(st.n_chars_removed, 0) AS n_chars_removed,
           length(coalesce(r.clean, b.t))::INT AS clean_len,
           substr(md5(coalesce(r.clean, b.t)), 1, 16) AS clean_fp
    FROM base b
    LEFT JOIN stats st USING ({id_col})
    LEFT JOIN rebuilt r USING ({id_col})
    """


def substring_dedup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 40,
    stride: int = 1,
) -> str:
    """DuckDB oracle replaying :func:`substring_dedup` exactly: the same
    sampled window starts (range + forced final window), grams grouped by
    content, keep-first = ``min(doc, pos)`` per gram (``first_value``
    over the same ordering), identical per-document stats. Grouping is by
    the raw gram here vs the 60-bit hash on the Spark side — identical
    absent md5-prefix collisions, the :func:`line_dedup` precedent."""
    return f"""
    WITH base AS (
      SELECT {id_col}, coalesce({text_col}, '') AS t FROM {table}
    ), grams AS (
      SELECT {id_col}, pos, substr(t, pos + 1, {length}) AS g
      FROM (
        SELECT {id_col}, t,
               CAST(length(t) - {length} + 1 AS BIGINT) AS n_starts
        FROM base
      ) b,
      LATERAL (
        SELECT DISTINCT unnest(
          list_append(range(0, greatest(n_starts, 0), {stride}),
                      n_starts - 1)
        ) AS pos
      ) p
      WHERE n_starts > 0 AND pos >= 0
    ), marked AS (
      SELECT {id_col}, pos,
             CASE WHEN first_value({id_col}) OVER (
                    PARTITION BY g ORDER BY {id_col}, pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  ) < {id_col} THEN 1 ELSE 0 END AS dup
      FROM grams
    ), stats AS (
      SELECT {id_col}, count(*) AS n_grams,
             CAST(sum(dup) AS BIGINT) AS n_dup_grams
      FROM marked GROUP BY {id_col}
    )
    SELECT d.{id_col},
           coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.n_dup_grams, 0) AS n_dup_grams,
           CASE WHEN coalesce(s.n_grams, 0) > 0
                THEN coalesce(s.n_dup_grams, 0)::DOUBLE / s.n_grams
                ELSE 0.0 END AS dup_frac,
           coalesce(s.n_dup_grams, 0) = 0 AS keep
    FROM {table} d LEFT JOIN stats s USING ({id_col})
    """


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-dedup over embeddings
# ---------------------------------------------------------------------------

def _assign_centroids_numpy(
    base: DataFrame, centroid_rows, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow-batched argmax assignment: per-batch numpy matmul of the
    normalized corpus batch against the broadcast normalized centroid
    matrix — the production path when the centroid count makes the
    per-pair expression fold the bottleneck (measured: 1000 centroids ×
    100k vectors = 100M folds, ~2 min expression-side vs seconds here).
    Ties break to the smallest centroid_id (numpy argmax keeps the
    first maximum over the id-sorted matrix), matching the expression
    path's ``ccos DESC, centroid_id ASC``; scores differ only at ulp
    (matmul vs sequential fold), so this path is for production k —
    the oracle-gated path stays on the expression fold."""
    import numpy as np

    cents = sorted(centroid_rows, key=lambda r: r["centroid_id"])
    cids = np.array([c["centroid_id"] for c in cents], dtype=np.int64)
    cmat = np.array([list(c["cvec"]) for c in cents], dtype=np.float64)
    cn = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-300)
    schema = f"{id_col} long, {vec_col} array<double>, centroid_id long"

    def _fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
            idx = (vn @ cn.T).argmax(axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["centroid_id"] = cids[idx]
            yield out

    casted = base.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col),
    )
    return casted.mapInPandas(_fn, schema)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    centroid_stride: int = 50,
    centroids: DataFrame = None,
    materialize: bool = True,
    assign: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    corpus into centroid clusters, then remove semantic near-duplicates
    WITHIN each cluster only — the scale move that turns the O(n²)
    near-dup search into Σ O(|cluster|²) with no cross-cluster pairs.

    Output: one row per input vector — ``(id_col, centroid_id,
    is_kept)``. A vector is dropped iff some SAME-CLUSTER vector with a
    smaller id has cosine ≥ ``threshold`` (keep-first, deterministic).

    Centroids default to every ``centroid_stride``-th vector (the same
    deterministic oracle-replicable choice as ``knn_ivf``); pass
    ``centroids`` (``centroid_id``, ``cvec``) — e.g. k-means refined via
    ``kmeans_refine`` — in production.

    100 TB shape: centroids BROADCAST; assignment is a map-side argmax
    (``max_by`` partial agg — the shuffle carries one row per vector).
    ``assign``: "expr" = bit-exact oracle-replicable expression fold;
    "numpy" = Arrow-batched matmul (15x faster at 1000 centroids,
    measured); "auto" picks expr up to 128 centroids.
    Within-cluster:
    the self-join exchanges the corpus ONCE on the cluster key; within a
    cluster the pair scan is bounded by cluster size (choose
    n_centroids ≈ n/avg_cluster to cap it — SemDeDup's paper setting).
    The assignment frame feeds both join sides, so it is materialized
    (``localCheckpoint``) rather than recomputed; in a real pipeline
    this is the step where you'd WRITE the cluster-partitioned layout
    and get the co-located self-join for free on read.
    """
    from .core import cosine

    if centroids is None:
        centroids = df.filter(
            F.pmod(F.col(id_col), F.lit(centroid_stride)) == 0
        ).select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"))
        # an id space with no stride hits (filtered/offset ids) would
        # otherwise assign NOTHING and silently return an empty corpus
        if not centroids.take(1):
            raise ValueError(
                f"centroid_stride={centroid_stride} selects no centroids "
                f"from {id_col!r}; pass centroids= explicitly"
            )

    base = spread(df.select(id_col, vec_col))
    # assignment path: "expr" is the bit-exact oracle-replicable fold;
    # "numpy" is the Arrow-batched matmul for production centroid
    # counts. auto = expr up to 128 centroids (the collect is codebook-
    # sized driver state either way, same bound as the ANN-PQ books).
    cent_rows = centroids.collect()
    # rebuild the centroid frame from the collected rows: the broadcast
    # side becomes a literal local relation instead of re-scanning the
    # corpus through the stride filter
    centroids = df.sparkSession.createDataFrame(cent_rows, centroids.schema)
    if assign == "auto":
        assign = "expr" if len(cent_rows) <= 128 else "numpy"
    if assign == "numpy":
        assigned = _assign_centroids_numpy(base, cent_rows, id_col, vec_col)
        dv2 = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        assigned = assigned.withColumn(
            "_nrm",
            F.sqrt(
                F.aggregate(
                    F.transform(dv2, lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        if materialize:
            assigned = assigned.localCheckpoint(eager=True)
        return _cluster_dedup(assigned, id_col, vec_col, threshold)
    scored = base.crossJoin(F.broadcast(centroids)).select(
        base[id_col],
        base[vec_col],
        F.col("centroid_id"),
        cosine(base[vec_col], F.col("cvec")).alias("ccos"),
    )
    # per-vector norm computed ONCE here — the within-cluster pair scan
    # then pays a single dot-product fold per pair instead of the 3
    # folds of a full cosine() (measured 3x on the probe); the division
    # dot/(na*nb) uses the identical sequential folds, so the scores
    # are bit-equal to cosine() and the oracle's
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(dv, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    assigned = scored.groupBy(id_col).agg(
        # argmax with the oracle's tie-break (ccos DESC, centroid_id ASC),
        # partial-aggregated map-side; the vector rides along — it is
        # constant within the group so any representative is exact
        F.max_by(
            "centroid_id",
            F.struct(F.col("ccos").alias("s"), (-F.col("centroid_id")).alias("nid")),
        ).alias("centroid_id"),
        F.first(vec_col).alias(vec_col),
    ).withColumn("_nrm", nrm)
    if materialize:
        assigned = assigned.localCheckpoint(eager=True)
    return _cluster_dedup(assigned, id_col, vec_col, threshold)


def _cluster_dedup(
    assigned: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Shared pair scan over an (id, vec, centroid_id, _nrm) assignment:
    keep-first within each cluster. One exchange on the cluster key; one
    dot-product fold per pair (norms precomputed — measured 3x vs a full
    per-pair cosine)."""
    right = assigned.select(
        F.col(id_col).alias("_b_id"),
        F.col("centroid_id").alias("_b_cid"),
        F.col(vec_col).alias("_b_vec"),
        F.col("_nrm").alias("_b_nrm"),
    )
    pair_dot = F.aggregate(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.transform(F.col("_b_vec"), lambda x: x.cast("double")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dropped = (
        assigned.join(
            right,
            (F.col("centroid_id") == F.col("_b_cid"))
            & (F.col(id_col) < F.col("_b_id")),
        )
        .filter(
            F.try_divide(pair_dot, F.col("_nrm") * F.col("_b_nrm"))
            >= F.lit(threshold)
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col,
        "centroid_id",
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("is_kept"),
    )


def semantic_dedup_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    centroid_stride: int = 50,
) -> str:
    c_assign = cosine_sql(f"v.{vec_col}", "cn.cvec")
    c_pair = cosine_sql(f"a.{vec_col}", f"b.{vec_col}")
    return f"""
    WITH cents AS (
      SELECT {id_col} AS centroid_id, {vec_col} AS cvec
      FROM {table} WHERE {id_col} % {centroid_stride} = 0
    ),
    assign AS (
      SELECT {id_col}, {vec_col}, centroid_id FROM (
        SELECT v.{id_col}, v.{vec_col}, cn.centroid_id,
               row_number() OVER (PARTITION BY v.{id_col}
                 ORDER BY {c_assign} DESC, cn.centroid_id ASC) AS crank
        FROM {table} v CROSS JOIN cents cn
      ) WHERE crank = 1
    ),
    dropped AS (
      SELECT DISTINCT b.{id_col}
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.{id_col} < b.{id_col}
      WHERE {c_pair} >= {threshold}
    )
    SELECT a.{id_col}, a.centroid_id,
           (d.{id_col} IS NULL) AS is_kept
    FROM assign a LEFT JOIN dropped d ON a.{id_col} = d.{id_col}
    """


def kmeans_refine(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
) -> DataFrame:
    """Lloyd-refine seed ``centroids`` (``centroid_id``, ``cvec``) over
    the corpus — the production centroid source for ``semantic_dedup``
    (seed with the deterministic stride pick, refine, dedup).

    Per iteration: broadcast the centroids, map-side cosine argmax
    assignment (one corpus-row shuffle), then the new means via
    ``posexplode`` + a map-combined (cluster, dim) average — the
    element-wise array mean Spark lacks as a builtin, kept JVM-side.
    Centroids are collected per round (k × dim doubles — codebook-sized
    driver state, same bound as the ANN-PQ codebooks). Empty clusters
    keep their previous centroid.
    """
    k_seed = {r["centroid_id"]: list(r["cvec"]) for r in centroids.collect()}
    # the loop re-references base every iteration (crossJoin + argmax +
    # means); without a lineage cut each round re-runs the source scan
    base = spread(df.select(id_col, vec_col)).localCheckpoint(eager=True)
    spark = df.sparkSession
    cur = k_seed
    for _ in range(max(0, iters)):
        # Arrow-batched matmul assignment (codebook broadcast via the
        # task closure) — the k x n expression fold was the bottleneck
        cent_rows = [
            {"centroid_id": cid, "cvec": [float(x) for x in v]}
            for cid, v in sorted(cur.items())
        ]
        assigned = _assign_centroids_numpy(base, cent_rows, id_col, vec_col)
        means = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        nxt = dict(cur)  # empty clusters keep their previous centroid
        upd: dict = {}
        for r in means:
            upd.setdefault(r["centroid_id"], {})[r["pos"]] = r["m"]
        for cid, dims in upd.items():
            nxt[cid] = [dims[i] for i in range(len(dims))]
        cur = nxt
    return spark.createDataFrame(
        [(cid, [float(x) for x in v]) for cid, v in sorted(cur.items())],
        f"centroid_id long, cvec array<double>",
    )


def keep_best(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score: Column | None = None,
) -> DataFrame:
    """Quality-aware canonical selection (round 16): real pipelines
    keep the HIGHEST-QUALITY member of each duplicate cluster, not the
    smallest id (min-id :func:`keep_canonical` is the degenerate case
    score=const). ``score`` defaults to the deterministic
    :func:`~.textproc.quality_score` heuristic.

    Output: one row per corpus document —
    ``(id, cluster_id, quality, kept)`` with ``cluster_id`` the
    component label (own id when unduplicated), ``quality`` the
    1e-6-quantized score and ``kept`` 1 for the per-cluster argmax
    (ties by id asc) plus every unclustered doc.

    Scale shape: the argmax window runs over the CLUSTER FRAME only
    (bounded by docs-that-had-a-duplicate, orders of magnitude smaller
    than the corpus); the loser set broadcasts back as an anti-ish
    left join — the corpus itself is never sorted or windowed."""
    from .textproc import quality_score

    q = score if score is not None else quality_score("text")
    # scored feeds TWO plan branches (the cluster-member argmax and the
    # final all-docs projection); without a pin the heavy quality_score
    # text expression re-scans the whole corpus once per branch. Only
    # (id, double) is pinned — bounded-frame reuse, the corpus text is
    # read exactly once.
    scored = docs.select(
        F.col(id_col).alias("_id"), q.alias("_q")
    ).localCheckpoint(eager=False)
    mem = clusters.join(
        scored, clusters["member"] == scored["_id"]
    ).select("member", "cluster_id", "_q")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col("member").asc()
    )
    losers = (
        mem.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("member").alias("_loser"))
    )
    lab = clusters.select(
        F.col("member").alias("_id"), "cluster_id"
    )
    return (
        scored.join(F.broadcast(lab), "_id", "left")
        .join(
            F.broadcast(losers),
            scored["_id"] == F.col("_loser"),
            "left",
        )
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("cluster_id"), F.col("_id")).alias(
                "cluster_id"
            ),
            (
                F.floor(F.col("_q") * F.lit(1.0e6) + F.lit(0.5))
                / F.lit(1.0e6)
            ).alias("quality"),
            F.col("_loser").isNull().cast("int").alias("kept"),
        )
    )


def keep_best_sql(
    pairs_sql: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    score_sql: str | None = None,
) -> str:
    """DuckDB oracle for :func:`keep_best`: the recursive-CTE closure
    of ``pairs_sql``, the identical raw-double quality ordering with
    id tie-break, and the same 1e-6 output quantization."""
    from .textproc import quality_score_sql

    q = score_sql if score_sql is not None else quality_score_sql(text_col)
    return f"""
    WITH clus AS (
      SELECT * FROM ({dup_clusters_sql(pairs_sql)})
    ),
    scored AS (
      SELECT {id_col} AS id, {q} AS q FROM {table}
    ),
    losers AS (
      SELECT member FROM (
        SELECT m.member,
               row_number() OVER (
                 PARTITION BY m.cluster_id ORDER BY s.q DESC, m.member ASC
               ) AS rn
        FROM clus m JOIN scored s ON s.id = m.member
      ) WHERE rn > 1
    )
    SELECT s.id AS {id_col},
           coalesce(c.cluster_id, s.id) AS cluster_id,
           floor(s.q * 1000000.0 + 0.5) / 1000000.0 AS quality,
           CAST(l.member IS NULL AS INT) AS kept
    FROM scored s
    LEFT JOIN clus c ON c.member = s.id
    LEFT JOIN losers l ON l.member = s.id
    """
