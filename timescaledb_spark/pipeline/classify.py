"""Document classifiers: multinomial Naive Bayes and a trainable
logistic-regression quality model — the classifier-based quality/domain
filter family (GPT-3's LR-over-features quality classifier, Brown et
al. 2020 Appendix A; LLaMA's fasttext language filter, Touvron et al.
2023 §2.1; DCLM/FineWeb-Edu's distilled quality classifiers). No
external classifier library exists in this environment, so both models
are self-contained: an add-one-smoothed multinomial NB over the shared
pipeline tokenizer, and a batch-gradient-descent LR over hashed
char-trigram features — the plumbing (bounded train pass →
broadcastable dense model → one scoring pass) is exactly the
production shape; swap the probability/weight table for an exported
fasttext/LR model when one is available.

Scale design:

- **Vocabulary** is capped top-``vocab_cap`` words by global count
  (deterministic tie-break count desc, word asc) — the model space is
  ``vocab × labels`` rows no matter the corpus size, so it broadcasts.
- **Training** is one explode + two map-combined groupBys (word-label
  counts, label totals); the shuffle moves ``partitions × vocab`` rows.
- **Scoring** is one explode + a broadcast join against the dense
  model + a map-combined per-(doc, label) aggregation; out-of-vocab
  tokens contribute each label's smoothing floor, computed from the
  per-doc token count — no second scan. Shuffle is O(docs × labels).
- Counts are exact integers in both engines, so ``ln()`` sees identical
  rational inputs; per-doc sums are rounded to 6 decimals before the
  argmax (the BM25/chargram cross-engine float fold), and label ties
  break lexicographically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .core import spread, tokens, tokens_sql

DEFAULT_VOCAB_CAP = 20_000


def train_nb(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    vocab_cap: int = DEFAULT_VOCAB_CAP,
) -> DataFrame:
    """Train the dense NB model: one row per (word, label) over the
    capped vocabulary, with
    ``logp = ln((c(w,l) + 1) / (T_l + V))`` (add-one smoothing over
    the vocab), plus per-label ``prior = ln(docs_l / docs)`` and the
    label's OOV floor ``logp0 = ln(1 / (T_l + V))`` repeated on every
    row (keeps the model a single broadcastable frame).

    ``vocab × labels`` rows — bounded regardless of corpus size."""
    toks = spread(df.select(label_col, text_col)).select(
        F.col(label_col).alias("_l"),
        F.explode(tokens(text_col)).alias("_w"),
    )
    # vocab is referenced three times (the wl broadcast join, the dense
    # crossJoin, and count()); unmaterialized, each reference re-runs
    # the corpus explode + top-k — localCheckpoint pins the ≤vocab_cap
    # rows after the first execution (blocks ContextCleaner-freed).
    vocab = (
        toks.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_w").asc())
        .limit(int(vocab_cap))
        .select("_w")
        .localCheckpoint(eager=False)
    )
    wl = (
        toks.join(F.broadcast(vocab), "_w")
        .groupBy("_w", "_l")
        .agg(F.count(F.lit(1)).alias("_cwl"))
    )
    labels = (
        df.groupBy(F.col(label_col).alias("_l"))
        .agg(F.count(F.lit(1)).alias("_docs"))
    )
    tot = labels.agg(F.sum("_docs").alias("_n")).collect()[0]["_n"]
    v = vocab.count()
    lt = wl.groupBy("_l").agg(F.sum("_cwl").alias("_tl"))
    lab = labels.join(lt, "_l", "left").select(
        "_l",
        F.log(F.col("_docs").cast("double") / F.lit(float(tot))).alias(
            "prior"
        ),
        F.coalesce(F.col("_tl"), F.lit(0)).alias("_tl"),
    )
    dense = vocab.crossJoin(F.broadcast(lab)).join(
        wl, ["_w", "_l"], "left"
    )
    denom = F.col("_tl").cast("double") + F.lit(float(v))
    return dense.select(
        F.col("_w").alias("word"),
        F.col("_l").alias("label"),
        F.log(
            (F.coalesce(F.col("_cwl"), F.lit(0)).cast("double") + 1.0)
            / denom
        ).alias("logp"),
        F.col("prior"),
        F.log(F.lit(1.0) / denom).alias("logp0"),
    )


def nb_scores(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document against every label and keep the argmax:
    ``score_l = prior_l + Σ_matched logp(w,l) + oov_count · logp0_l``,
    rounded to 6 decimals; ties break by label asc.

    Output: ``(id, label, score)`` — one row per document."""
    # NULL text tokenizes to NULL, and F.size(NULL) is -1 — which would
    # make the OOV count negative and the score wrong (and diverge from
    # the oracle, whose len(NULL) is NULL → coalesced to 0). Coalesce to
    # an empty token array so NULL documents score as zero-token docs.
    base = spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.coalesce(
            tokens(text_col), F.array().cast("array<string>")
        ).alias("_ts"),
    )
    ntok = base.select("_id", F.size("_ts").alias("_n"))
    ex = base.select("_id", F.explode("_ts").alias("word"))
    matched = (
        ex.join(F.broadcast(model), "word")
        .groupBy("_id", "label")
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.sum("logp").alias("_s"),
        )
    )
    # per-label model scalars for docs with zero matched tokens
    lab = model.select("label", "prior", "logp0").distinct()
    scored = (
        ntok.crossJoin(F.broadcast(lab))
        .join(matched, ["_id", "label"], "left")
        .select(
            "_id",
            "label",
            F.round(
                F.col("prior")
                + F.coalesce(F.col("_s"), F.lit(0.0))
                + (
                    F.col("_n") - F.coalesce(F.col("_m"), F.lit(0))
                ).cast("double")
                * F.col("logp0"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("label").alias("pred"),
            "score",
        )
    )


def nb_classify(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    vocab_cap: int = DEFAULT_VOCAB_CAP,
) -> DataFrame:
    """Self-train on the labeled corpus and score it — the one-call
    form (production splits train/score across corpora; both passes
    are the same plumbing). The dense model (vocab × labels rows —
    bounded) is materialized once: :func:`nb_scores` reads it from two
    plan branches (the broadcast score join and the per-label scalar
    frame), and each would otherwise re-run the training scan chain."""
    model = train_nb(df, text_col, label_col, vocab_cap).localCheckpoint(
        eager=False
    )
    return nb_scores(df, model, text_col, id_col)


def nb_classify_sql(
    table: str = "documents",
    text_expr: str = "text",
    label_expr: str = "lang",
    id_expr: str = "doc_id",
    vocab_cap: int = DEFAULT_VOCAB_CAP,
) -> str:
    """DuckDB oracle replaying :func:`nb_classify` end to end: same
    tokenizer, same capped vocabulary (count desc, word asc), same
    integer counts → identical ln() inputs, same 6-decimal rounded
    scores and lexicographic tie-break."""
    toks = tokens_sql(text_expr)
    return f"""
    WITH tok AS (
      SELECT {id_expr} AS id, {label_expr} AS l,
             unnest({toks}) AS w
      FROM {table}
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY 1
      ) ORDER BY c DESC, w ASC LIMIT {int(vocab_cap)}
    ),
    vsize AS (SELECT count(*) AS v FROM vocab),
    wl AS (
      SELECT tok.w, tok.l, count(*) AS cwl
      FROM tok JOIN vocab USING (w) GROUP BY 1, 2
    ),
    labels AS (
      SELECT {label_expr} AS l, count(*) AS docs FROM {table} GROUP BY 1
    ),
    tot AS (SELECT sum(docs) AS n FROM labels),
    lt AS (SELECT l, sum(cwl) AS tl FROM wl GROUP BY 1),
    lab AS (
      SELECT labels.l,
             ln(CAST(docs AS DOUBLE) / (SELECT n FROM tot)) AS prior,
             coalesce(lt.tl, 0) AS tl
      FROM labels LEFT JOIN lt ON labels.l = lt.l
    ),
    model AS (
      SELECT vocab.w AS word, lab.l AS label,
             ln((coalesce(wl.cwl, 0) + 1.0)
                / (lab.tl + (SELECT v FROM vsize))) AS logp,
             lab.prior,
             ln(1.0 / (lab.tl + (SELECT v FROM vsize))) AS logp0
      FROM vocab CROSS JOIN lab
      LEFT JOIN wl ON wl.w = vocab.w AND wl.l = lab.l
    ),
    ntok AS (
      SELECT {id_expr} AS id, coalesce(len({toks}), 0) AS n FROM {table}
    ),
    matched AS (
      SELECT tok.id, model.label, count(*) AS m, sum(model.logp) AS s
      FROM tok JOIN model ON tok.w = model.word
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT ntok.id, lab.l AS label,
             round(lab.prior + coalesce(matched.s, 0)
                   + (ntok.n - coalesce(matched.m, 0))
                     * ln(1.0 / (lab.tl + (SELECT v FROM vsize))),
                   6) AS score
      FROM ntok CROSS JOIN lab
      LEFT JOIN matched ON matched.id = ntok.id AND matched.label = lab.l
    )
    SELECT id AS {id_expr}, label AS pred, score
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY score DESC, label ASC
      ) AS rk
      FROM scored
    ) WHERE rk = 1
    """


# ---------------------------------------------------------------------------
# logistic-regression quality classifier (batch GD, hashed features)
# ---------------------------------------------------------------------------
#
# The distillation step real curation pipelines run (DCLM, Li et al.
# 2024 §3.3; FineWeb-Edu, Penedo et al. 2024): fit a fast linear model
# to a slow/expensive quality signal, then filter the full corpus with
# the linear model at scan speed. Here the teacher signal is the Gopher
# doc-level rule-set (textproc.gopher_quality) and the student is LR
# over hashed char-trigram count features (the textproc.hash_features
# bucketing) — at 100 TB the teacher runs on a hash_sample'd training
# slice only, while the learned 65-double weight vector scores the
# whole corpus as a pure projection.
#
# Cross-engine determinism (the chargram/bpe discipline): per-row float
# work is a fixed left-to-right fold of identical IEEE doubles, so it
# is bit-equal in Spark codegen and DuckDB; the only cross-ROW
# reduction (the gradient sum) is quantized to 1e-9 int64 units first,
# so partial-aggregation order cannot move the result; sigmoid outputs
# are quantized to 1e-6 before they feed the residual, so a potential
# last-ulp libm exp() divergence between JVM and C cannot propagate.
# The DuckDB oracle unrolls the SAME iterations as a materialized CTE
# chain (the bpe_train_sql shape).

#: LR defaults: 64 hashed-trigram buckets + bias + length signal, 16
#: full-batch GD rounds at step size 3 (swept at sf0.01: accuracy vs
#: the Gopher teacher plateaus ~0.94 here; larger steps oscillate,
#: presence/log1p feature variants stall at chance on this corpus)
LR_DIM = 64
LR_ITERS = 16
LR_RATE = 3.0
#: gram-count saturation for the length feature least(1, n/SCALE)
LR_LEN_SCALE = 512.0
_LR_Q_P = 1.0e6  # sigmoid quantum (1e-6 probabilities)
_LR_Q_G = 1.0e9  # gradient quantum (1e-9 units, exact int64 sums)


def _lr_label(text_col: str, min_required_stops: int = 2):
    from .textproc import gopher_quality

    return gopher_quality(
        text_col, min_required_stops=min_required_stops
    )["passes"].cast("int")


def _lr_label_sql(text_col: str, min_required_stops: int = 2) -> str:
    from .textproc import gopher_quality_sql

    gq = gopher_quality_sql(
        text_col, min_required_stops=min_required_stops
    )
    return f"CAST({gq['passes']} AS INT)"


def lr_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
    label: Column | None = None,
    min_required_stops: int = 2,
) -> DataFrame:
    """Dense LR design matrix: one row per document — ``(id, _y, _xs)``
    with ``_xs = [1.0 (bias), least(1, n/256) (saturating length
    signal — count-normalized trigram features alone cannot see
    document length, which half the teacher rules depend on),
    c_0/n, …, c_{dim-1}/n]`` where ``c_j`` are the hashed char-trigram
    bucket counts (:func:`~.textproc.hash_features`) and ``n`` the
    document's gram count (``max(1, length-2)``). ``label`` defaults
    to the Gopher doc-level verdict (the teacher being distilled);
    ``min_required_stops`` is forwarded to it.

    Scale shape: the exploded gram stream is densified by ONE
    map-combined 64-way conditional count aggregation keyed on the doc
    (r16 optimization round: the previous hash_features → 64-way pivot
    route paid two Exchanges — (id, bucket) then (id) — for the same
    docs × 1 output; the fused groupBy ships docs × dim counters once),
    features exact rationals so both engines divide identical ints."""
    from .textproc import FEAT_N

    y = (
        label
        if label is not None
        else _lr_label(text_col, min_required_stops)
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        y.alias("_y"),
        F.greatest(
            F.lit(1.0),
            (F.length(text_col) - (FEAT_N - 1)).cast("double"),
        ).alias("_n"),
    )
    # THE gram/bucket stream of textproc.hash_features (shared helper —
    # bucket counts are identical integers by construction), aggregated
    # straight to the per-document dense counts
    from .textproc import _cps_expr, _gram_buckets_expr

    piv = (
        df.withColumn("cps", _cps_expr(text_col))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(_gram_buckets_expr(text_col, dim)).alias("bucket"),
        )
        .groupBy("_id")
        .agg(
            *[
                F.count_if(F.col("bucket") == j).alias(f"_c{j}")
                for j in range(int(dim))
            ]
        )
    )
    xs = F.array(
        F.lit(1.0),
        F.least(F.lit(1.0), F.col("_n") / F.lit(LR_LEN_SCALE)),
        *[
            F.coalesce(F.col(f"_c{j}"), F.lit(0)).cast("double")
            / F.col("_n")
            for j in range(int(dim))
        ],
    )
    return base.join(piv, "_id", "left").select(
        "_id", "_y", xs.alias("_xs")
    )


def _lr_p_sql(weights: list) -> str:
    """SQL text of the quantized sigmoid over ``_xs`` — built as ONE
    string so each training round costs one parse instead of ~70 py4j
    Column round trips (~0.11 s/round measured; the parsed expression
    tree, and hence the arithmetic, is identical to the Column form).
    Callers must bind it to a projection ALIAS before any per-element
    reference (higher-order transforms are CodegenFallback with no
    common-subexpression elimination — inlining this fold into a
    lambda re-evaluates it per element, measured 13x slower).
    Every float literal carries the ``D`` suffix: a bare ``1000000.0``
    parses as DECIMAL(8,1) in Spark SQL (unlike ``F.lit(float)``),
    which silently turns the final division DECIMAL-typed."""
    warr = (
        "array(" + ",".join(f"{float(v)!r}D" for v in weights) + ")"
    )
    z = (
        f"aggregate(zip_with({warr}, _xs, (a, b) -> a * b), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return (
        f"(floor({_LR_Q_P!r}D / (1.0D + exp(-({z}))) + 0.5D)"
        f" / {_LR_Q_P!r}D)"
    )


def _lr_p(weights: list) -> Column:
    """Quantized sigmoid of the fixed-order dot product — per-row, all
    IEEE ops in a deterministic left fold, bit-equal across engines.
    (Passing the weights as a 1-row crossJoined array column to reuse
    codegen across training rounds was measured SLOWER than literal
    re-embedding — the per-round createDataFrame + broadcast costs more
    than the recompile on a bounded training slice.)"""
    return F.expr(_lr_p_sql(weights))


def lr_train(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
    label: Column | None = None,
    min_required_stops: int = 2,
) -> List[float]:
    """Full-batch gradient-descent LR training: ``iters`` rounds of
    score → residual → exact-integer gradient sum → driver-side weight
    update (one bounded collect per round, the bpe_train shape).
    Returns the learned ``dim + 2`` weights (bias first).

    100 TB: train on a hash-sampled slice (the
    design matrix is localCheckpoint-ed once; each round then scans
    only that bounded slice); the returned weights are 66 doubles —
    scoring the full corpus is a zero-shuffle projection.

    The gradient reduction is 66 scalar ``sum()`` aggregates over the
    ``_p`` attribute — one global map-combined aggregation, no explode
    (r16 optimization round: the posexplode form shipped 66 rows per
    document through a groupBy(_j); the scalar form ships 66 longs per
    partition and measured 4.1s vs 4.8–6.0s per 16-round train at
    sf0.1, weights bit-identical). The fold must stay behind the
    ``_p`` alias: 66 aggregates each re-embedding the weight fold
    measured ~1.5 s/round of compile time alone, and a
    project-then-sum-per-element variant lets Catalyst collapse the
    fold back into all 66 aggregates (5× slower). An explicit-sum
    (non-fold) sigmoid was also measured and is SLOWER in both
    gradient shapes (7.6s posexplode / 6.0–9.6s aggs)."""
    feats = lr_features(
        df, text_col, id_col, dim, label, min_required_stops
    ).localCheckpoint(eager=True)
    return _lr_train_on(feats, dim, iters, rate)


def _lr_train_on(
    feats: DataFrame,
    dim: int = LR_DIM,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
) -> List[float]:
    """The GD loop over an already-materialized design matrix — split
    out so train-and-score callers (:func:`lr_quality`) build and pin
    the feature pass ONCE instead of once for training and again for
    scoring (the r16 optimization round: the feature pass — teacher
    rules + trigram hashing + pivot — was ~half the gate's wall)."""
    d1 = int(dim) + 2
    n = feats.count()
    w = [0.0] * d1
    # weight-independent SQL pieces built once; the per-round plan is
    # two selectExpr parses instead of ~70 py4j Column calls (identical
    # expression tree, ~0.11 s/round less driver time). _p stays a
    # projection alias so the grad transform reads an attribute, not a
    # re-inlined sigmoid fold (no CSE inside higher-order functions).
    grad_aggs = [
        (
            f"sum(cast(floor((_p - cast(_y as double)) * _xs[{j}]"
            f" * {_LR_Q_G!r}D + 0.5D) as bigint)) as _g{j}"
        )
        for j in range(d1)
    ]
    for _ in range(int(iters)):
        row = (
            feats.selectExpr("_y", "_xs", f"{_lr_p_sql(w)} as _p")
            .selectExpr(*grad_aggs)
            .collect()[0]
        )
        w = [
            w[j] - float(rate) * ((row[f"_g{j}"] or 0) / (n * _LR_Q_G))
            for j in range(d1)
        ]
    return w


def lr_round(v: float) -> float:
    """Engine-neutral 1e-9 half-up rounding of a weight (Python form of
    ``floor(v * 1e9 + 0.5) / 1e9``)."""
    import math

    return math.floor(v * _LR_Q_G + 0.5) / _LR_Q_G


def lr_train_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
    min_required_stops: int = 2,
) -> DataFrame:
    """:func:`lr_train` as a DataFrame ``(j, weight)`` — the gate form
    (weights 1e-9 half-up rounded, identically to the oracle)."""
    w = lr_train(
        df, text_col, id_col, dim, iters, rate,
        min_required_stops=min_required_stops,
    )
    return df.sparkSession.createDataFrame(
        [(j, lr_round(v)) for j, v in enumerate(w)],
        "j int, weight double",
    )


def lr_scores(
    df: DataFrame,
    weights: List[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
) -> DataFrame:
    """Score a corpus under a trained weight vector:
    ``(id, prob, pred)`` — the scan-speed filtering pass (the feature
    densification is the only shuffle; the model is 65 literals)."""
    feats = lr_features(df, text_col, id_col, dim, label=F.lit(0))
    # _p lands as an attribute first: prob and pred both read it, so
    # the sigmoid fold (CodegenFallback, no subexpression elimination)
    # evaluates once per row instead of twice
    return feats.selectExpr(
        "_id", f"{_lr_p_sql(list(weights))} as _p"
    ).select(
        F.col("_id").alias(id_col),
        F.col("_p").alias("prob"),
        (F.col("_p") >= F.lit(0.5)).cast("int").alias("pred"),
    )


def lr_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
    min_required_stops: int = 2,
) -> DataFrame:
    """Train-and-score in one call (the gate form): distill the Gopher
    verdict into LR weights, then score every document —
    ``(id, label_hq, prob, pred)``.

    Training and scoring share ONE materialized design matrix (train
    corpus == score corpus in this form): the feature pass runs once,
    and the scoring projection reads the pinned (id, y, xs) rows
    instead of re-running teacher rules + trigram hashing. Production
    at 100 TB splits the two (:func:`lr_train` on a hash_sample slice,
    :func:`lr_scores` over the full corpus as a pure projection)."""
    feats = lr_features(
        df, text_col, id_col, dim,
        min_required_stops=min_required_stops,
    ).localCheckpoint(eager=True)
    w = _lr_train_on(feats, dim, iters, rate)
    # same two-step as lr_scores: one sigmoid evaluation per row
    return feats.selectExpr(
        "_id", "_y", f"{_lr_p_sql(w)} as _p"
    ).select(
        F.col("_id").alias(id_col),
        F.col("_y").alias("label_hq"),
        F.col("_p").alias("prob"),
        (F.col("_p") >= F.lit(0.5)).cast("int").alias("pred"),
    )


def _lr_feats_ctes(
    table: str,
    text_col: str,
    id_col: str,
    dim: int,
    min_required_stops: int = 2,
) -> str:
    """The shared oracle CTE prefix: sparse hashed counts → 64-way
    conditional-aggregation pivot → dense design matrix."""
    from .textproc import FEAT_N, _feat_bucket

    cs = ",\n             ".join(
        f"coalesce(sum(CASE WHEN bucket = {j} THEN cnt END), 0) AS c{j}"
        for j in range(int(dim))
    )
    xs = ", ".join(
        f"CAST(coalesce(c{j}, 0) AS DOUBLE) / b.n"
        for j in range(int(dim))
    )
    return f"""sparse AS (
      SELECT id, bucket, count(*) AS cnt FROM (
        SELECT {id_col} AS id,
               unnest([{_feat_bucket(text_col, int(dim))}
                       FOR i IN range(1, greatest(length({text_col}) - {FEAT_N - 1}, 0) + 1)]) AS bucket
        FROM {table}
      ) GROUP BY 1, 2
    ),
    piv AS (
      SELECT id, {cs}
      FROM sparse GROUP BY 1
    ),
    feats AS MATERIALIZED (
      SELECT b.id, b.y, [1.0, least(1.0, b.n / {LR_LEN_SCALE!r}), {xs}] AS xs
      FROM (SELECT {id_col} AS id,
                   {_lr_label_sql(text_col, min_required_stops)} AS y,
                   greatest(1.0, CAST(length({text_col}) - {FEAT_N - 1} AS DOUBLE)) AS n
            FROM {table}) b
      LEFT JOIN piv USING (id)
    )"""


def _lr_chain_ctes(dim: int, iters: int, rate: float) -> list:
    """The unrolled GD iteration chain (w0 → p0 → g0 → w1 → …) — each
    step materialized (referenced multiple times; the bpe_train_sql
    lesson: un-materialized CTE chains re-inline exponentially)."""
    d1 = int(dim) + 2
    dot = "0.0 + " + " + ".join(
        f"w.ws[{j + 1}] * xs[{j + 1}]" for j in range(d1)
    )
    zeros = ", ".join("0.0" for _ in range(d1))
    ctes = [
        f"w0 AS MATERIALIZED (SELECT [{zeros}] AS ws)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats)",
    ]
    for i in range(int(iters)):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
      SELECT id, y, xs,
             floor({_LR_Q_P!r} / (1.0 + exp(-({dot}))) + 0.5) / {_LR_Q_P!r} AS p
      FROM feats, w{i} w
    )"""
        )
        gs = ", ".join(
            f"CAST(sum(CAST(floor((p - CAST(y AS DOUBLE)) * xs[{j + 1}]"
            f" * {_LR_Q_G!r} + 0.5) AS BIGINT)) AS BIGINT)"
            for j in range(d1)
        )
        ctes.append(f"g{i} AS MATERIALIZED (SELECT [{gs}] AS gs FROM p{i})")
        ws = ", ".join(
            f"w.ws[{j + 1}] - {float(rate)!r} * "
            f"(CAST(g.gs[{j + 1}] AS DOUBLE) / (nn.n * {_LR_Q_G!r}))"
            for j in range(d1)
        )
        ctes.append(
            f"w{i + 1} AS MATERIALIZED "
            f"(SELECT [{ws}] AS ws FROM w{i} w, g{i} g, nn)"
        )
    return ctes


def lr_train_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
    min_required_stops: int = 2,
) -> str:
    """DuckDB oracle replaying the FULL training loop literal-for-
    literal: identical hashed features, identical Gopher teacher
    labels, the identical fixed-order dot-product fold, 1e-6-quantized
    sigmoids, 1e-9-integer gradient sums, and the same weight-update
    arithmetic — so the learned weight vector is bit-equal."""
    ctes = [
        _lr_feats_ctes(table, text_col, id_col, dim, min_required_stops)
    ]
    ctes += _lr_chain_ctes(dim, iters, rate)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT CAST(t.j AS INT) AS j,
           floor(w.ws[t.j + 1] * {_LR_Q_G!r} + 0.5) / {_LR_Q_G!r} AS weight
    FROM w{int(iters)} w, (SELECT unnest(range(0, {int(dim) + 2})) AS j) t
    """
    )


def lr_quality_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = LR_DIM,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
    min_required_stops: int = 2,
) -> str:
    """DuckDB oracle for :func:`lr_quality`: the full training chain
    plus one scoring pass under the final weights."""
    d1 = int(dim) + 2
    dot = "0.0 + " + " + ".join(
        f"w.ws[{j + 1}] * xs[{j + 1}]" for j in range(d1)
    )
    ctes = [
        _lr_feats_ctes(table, text_col, id_col, dim, min_required_stops)
    ]
    ctes += _lr_chain_ctes(dim, iters, rate)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    final AS (
      SELECT id, y,
             floor({_LR_Q_P!r} / (1.0 + exp(-({dot}))) + 0.5) / {_LR_Q_P!r} AS p
      FROM feats, w{int(iters)} w
    )
    SELECT id AS {id_col}, y AS label_hq, p AS prob,
           CAST(p >= 0.5 AS INT) AS pred
    FROM final
    """
    )
