"""Pipeline-operator queries for the driver correctness gate.

Each Spark implementation is paired with a DuckDB oracle that replicates
the *full algorithm* (same md5-derived hashes, same banding, same float
fold order) — not just the final answer — so the value-hash comparison
verifies candidate generation and scoring end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import dedup, quality_lm, search, textproc
from .queries import query
from .sources import load_table


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@query(
    "q_text_stats",
    f"""
    SELECT doc_id,
           {textproc.token_count_sql('text')} AS n_tok,
           {textproc.bpe_token_count_sql('text')} AS n_bpe,
           {textproc.punct_count_sql('text')} AS n_punct,
           {textproc.stop_hits_sql('text')} AS n_stop,
           {textproc.mean_token_len_sql('text')} AS mean_tok_len,
           {textproc.quality_score_sql('text')} AS quality
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality scoring —
    single-scan per-row projections, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textproc.token_count("text").alias("n_tok"),
        textproc.bpe_token_count("text").alias("n_bpe"),
        textproc.punct_count("text").alias("n_punct"),
        textproc.stop_hits("text").alias("n_stop"),
        textproc.mean_token_len("text").alias("mean_tok_len"),
        textproc.quality_score("text").alias("quality"),
    )


@query(
    "q_text_langid",
    f"""
    SELECT doc_id,
           {textproc.lang_id_sql('text')} AS lang_guess,
           {textproc.stop_hits_sql('text', 'en')} AS en_hits,
           {textproc.stop_hits_sql('text', 'es')} AS es_hits
    FROM documents
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic (deterministic argmax)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textproc.lang_id("text").alias("lang_guess"),
        textproc.stop_hits("text", "en").alias("en_hits"),
        textproc.stop_hits("text", "es").alias("es_hits"),
    )


@query(
    "q_text_fingerprint",
    f"""
    SELECT doc_id, {textproc.doc_fingerprint_sql('text')} AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprint (min md5 over
    strided char 16-grams)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textproc.doc_fingerprint("text").alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@query("q_dedup_exact", dedup.exact_dedup_sql())
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-shuffle on md5(text), min-id keeper."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query("q_dedup_minhash_lsh", dedup.minhash_lsh_pairs_sql())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4x4 bands) near-dup pairs, exact-Jaccard
    verified at >= 0.8. The oracle replicates signatures and banding, so
    the candidate set must match bit-exactly."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@query("q_dedup_ngram_jaccard", dedup.ngram_jaccard_pairs_sql())
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs >= 0.8 (verification baseline for
    the LSH path)."""
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


@query("q_dedup_simhash", dedup.simhash64_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit term-frequency SimHash fingerprint per document — pure
    projection, zero shuffle."""
    return dedup.simhash64(load_table(spark, sf_dir, "documents"))


@query("q_dedup_simhash_pairs", dedup.simhash_pairs_sql(max_hamming=6))
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIR enumeration (round 16) at radius 6 — above
    the old fixed-4-band ceiling, so the gate exercises the derived
    band count (radius + 1) AND the bounded recursive re-banding path
    (max_bucket=8 forces bucket splits on this corpus); the oracle runs
    one-level pigeonhole banding, which must produce the identical
    exact Hamming closure."""
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=6, max_bucket=8
    )


@query("q_dedup_substring", dedup.substring_dedup_sql(length=30))
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022 ExactSubstr, round 11):
    flags documents sharing a ≥30-char span with an earlier document via
    a bucketed fixed-length gram sort — the suffix-array criterion with
    zero pairwise comparisons. Keep-first keeper = min(doc, pos), the
    line_dedup discipline; the oracle replays the identical window set
    and keeper ordering."""
    return dedup.substring_dedup(
        load_table(spark, sf_dir, "documents"), length=30
    )


@query("q_dedup_substring_trim", dedup.substring_dedup_trim_sql(length=30))
def q_dedup_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring TRIM (round 11; the full Lee et al. 2022
    ExactSubstr behavior): duplicated ≥30-char spans are cut out of
    later documents — keep-first island merge + complement-segment
    reassembly; the oracle replays the identical islands and rebuild,
    compared by fingerprint like q_dedup_lines."""
    out = dedup.substring_dedup_trim(
        load_table(spark, sf_dir, "documents"), length=30
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_chars_removed",
        F.length("clean").cast("int").alias("clean_len"),
        F.substring(F.md5("clean"), 1, 16).alias("clean_fp"),
    )


@query("q_dedup_embedding", dedup.embedding_dup_pairs_sql())
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force verification tier)."""
    return dedup.embedding_dup_pairs(load_table(spark, sf_dir, "embeddings"))


@query("q_dedup_embedding_lsh", dedup.embedding_dup_pairs_lsh_sql())
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: 60-bit hyperplane-LSH banded
    candidates (15×4) + exact-cosine verify — no crossJoin in the plan;
    the oracle replicates the literal plane matrix bit-exactly."""
    return dedup.embedding_dup_pairs_lsh(load_table(spark, sf_dir, "embeddings"))


@query(
    "q_decontaminate",
    dedup.decontaminate_sql(
        bench_sql="SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0",
        ngram_k=5,
        min_hits=2,
    ),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training docs sharing >= 2 distinct
    5-grams with any 'benchmark' doc (every 97th doc stands in for the
    held-out set). Benchmark n-gram hashes broadcast; the corpus-side
    explode is the only heavy stage."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return dedup.decontaminate(docs, bench, ngram_k=5, min_hits=2)


@query(
    "q_dedup_clusters",
    dedup.dup_clusters_sql(dedup.embedding_dup_pairs_sql(threshold=0.45)),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: near-dup pairs -> connected
    components labeled by min id (alternating large-star/small-star,
    O(log n) map-combined shuffle rounds — no driver-side graph). The
    oracle recomputes the same pairs and closes them transitively in a
    recursive CTE. This is the step that lets a pipeline keep exactly
    one document per duplicate group (A~B, B~C => one keeper, not two
    pairwise survivors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_dup_pairs(emb, threshold=0.45)
    return dedup.dup_clusters(pairs, shuffle_partitions=8)


@query("q_text_hash_features", textproc.hash_features_sql())
def q_text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing over the corpus (the 'hashing trick' featurizer,
    round 8): 3-gram codepoint-polynomial buckets, counted per doc — one
    narrow scan + one map-combined groupBy; output bounded by
    docs × FEAT_DIM."""
    docs = load_table(spark, sf_dir, "documents")
    return textproc.hash_features(docs)


_REP = textproc.repetition_signals_sql("text")
_PII_SRC = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "'.7 or call 555-867-5309.'"
)
_PII = textproc.redact_pii_sql("t")


@query(
    "q_text_repetition",
    f"""
    SELECT doc_id,
           {_REP['n_lines']} AS n_lines,
           round({_REP['dup_line_frac']}, 6) AS dup_line_frac,
           round({_REP['dup_line_char_frac']}, 6) AS dup_line_char_frac,
           round({_REP['dup_para_frac']}, 6) AS dup_para_frac,
           round({_REP['frac_unique_words']}, 6) AS frac_unique_words,
           round({_REP['bullet_line_frac']}, 6) AS bullet_line_frac,
           round({_REP['ellipsis_line_frac']}, 6) AS ellipsis_line_frac
    FROM documents
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition / format quality signals (round 8): all
    per-row array expressions — zero shuffle, scan-speed filtering."""
    docs = load_table(spark, sf_dir, "documents")
    sig = textproc.repetition_signals("text")
    return docs.select(
        "doc_id",
        sig["n_lines"].alias("n_lines"),
        F.round(sig["dup_line_frac"], 6).alias("dup_line_frac"),
        F.round(sig["dup_line_char_frac"], 6).alias("dup_line_char_frac"),
        F.round(sig["dup_para_frac"], 6).alias("dup_para_frac"),
        F.round(sig["frac_unique_words"], 6).alias("frac_unique_words"),
        F.round(sig["bullet_line_frac"], 6).alias("bullet_line_frac"),
        F.round(sig["ellipsis_line_frac"], 6).alias("ellipsis_line_frac"),
    )


@query(
    "q_pii_redact",
    f"""
    SELECT doc_id,
           {_PII['n_email']} AS n_email,
           {_PII['n_ip']} AS n_ip,
           {_PII['n_phone']} AS n_phone,
           length({_PII['redacted']})::INT AS redacted_len,
           substr(md5({_PII['redacted']}), 1, 16) AS redacted_fp
    FROM (SELECT doc_id, {_PII_SRC} AS t FROM documents)
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (round 8) over documents augmented with
    deterministic synthetic PII (email / IPv4 / phone derived from
    doc_id) so every pattern is exercised; per-row regexp chain, zero
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or call 555-867-5309."),
        ).alias("t"),
    )
    pii = textproc.redact_pii("t")
    return aug.select(
        "doc_id",
        pii["n_email"].alias("n_email"),
        pii["n_ip"].alias("n_ip"),
        pii["n_phone"].alias("n_phone"),
        F.length(pii["redacted"]).alias("redacted_len"),
        F.substring(F.md5(pii["redacted"]), 1, 16).alias("redacted_fp"),
    )


@query("q_dedup_lines", dedup.line_dedup_sql())
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level keep-first line dedup (round 8, C4/CCNet style):
    explode → keeper-agg → hash-join → reassemble; three linear
    map-combined shuffles, short lines bypass the hot keys."""
    out = dedup.line_dedup(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.length("clean").alias("clean_len"),
        F.substring(F.md5("clean"), 1, 16).alias("clean_fp"),
    )


_BM25_TERMS = ["data", "model", "training", "quality", "zebra"]


@query("q_bm25", search.bm25_topk_sql(_BM25_TERMS, k=25))
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-25 retrieval (round 8): one bounded stats pass
    (N, Σdl, per-term df — O(|terms|) driver state, the IVF-centroid
    pattern), then scoring is a pure projection + TakeOrderedAndProject
    top-k; ranked on 6-decimal-rounded scores so cross-engine float
    folds cannot reorder the cut."""
    from .pipeline.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=25)


@query("q_text_perplexity", quality_lm.chargram_logprob_sql())
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM perplexity scoring (round 9; CCNet, Wenzek 2020:
    rank documents by LM log-prob and cut the tail). Self-train on the
    corpus (one scan: model space bounded by the 37-char alphabet so the
    count shuffle is partitions x |grams|), broadcast the <=50k-row
    model, score per doc with a map-combined O(docs) aggregation."""
    from .pipeline.quality_lm import chargram_logprob, train_chargram_lm

    docs = load_table(spark, sf_dir, "documents")
    model = train_chargram_lm(docs)
    return chargram_logprob(docs, model)


@query(
    "q_semantic_dedup",
    dedup.semantic_dedup_sql(threshold=0.45, centroid_stride=50),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-dedup (round 9; Abbas et al. 2023): assign
    every embedding to its nearest deterministic centroid (broadcast +
    map-side argmax), then drop same-cluster keep-first near-dups — the
    Σ|cluster|² scale shape that replaces the corpus-wide O(n²) pair
    scan. The hash gates assignment AND the drop decisions (full
    (id, centroid, is_kept) output)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, threshold=0.45, centroid_stride=50)


@query(
    "q_nb_classify",
    __import__("timescaledb_spark.pipeline.classify", fromlist=["x"])
    .nb_classify_sql(vocab_cap=5000),
)
def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based filtering (round 14; the GPT-3 quality-classifier
    / LLaMA fasttext-filter family): self-trained add-one multinomial
    Naive Bayes over the shared tokenizer, capped top-5k vocabulary so
    the dense (vocab x labels) model broadcasts at any corpus size.
    Train = one explode + two map-combined groupBys; score = one
    explode + broadcast model join + per-(doc,label) aggregation with
    the OOV smoothing floor folded in from the per-doc token count.
    The oracle replays tokenize/vocab-cap/counts/ln/argmax end to end
    in DuckDB — integer counts make the ln() inputs identical, scores
    are 6dp-rounded before the argmax, ties break lexicographically."""
    from .pipeline.classify import nb_classify

    docs = load_table(spark, sf_dir, "documents")
    return nb_classify(docs, vocab_cap=5000)


@query(
    "q_chunk_documents",
    __import__("timescaledb_spark.pipeline.textproc", fromlist=["x"])
    .chunk_documents_sql(window=64, stride=48),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window document splitting (round 14; the pretraining
    chunking step — BERT-style sliding windows / RAG passage chunking):
    fixed 64-token windows starting every 48 tokens (16-token overlap),
    short tail kept unless fully contained. Pure array expressions over
    the shared tokenizer: one projection + bounded explode, zero
    shuffle. The oracle replays the start grid and slicing in DuckDB,
    so the hash gates the tokenizer, the grid, and the tail rule."""
    from .pipeline.textproc import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, window=64, stride=48)


_GQ = textproc.gopher_quality_sql("text")


@query(
    "q_gopher_quality",
    f"""
    SELECT doc_id,
           {_GQ['n_words']} AS n_words,
           {_GQ['mean_word_len']} AS mean_word_len,
           {_GQ['symbol_word_ratio']} AS symbol_word_ratio,
           {_GQ['frac_alpha_words']} AS frac_alpha_words,
           {_GQ['n_required_stop']} AS n_required_stop,
           {_GQ['passes']} AS passes
    FROM documents
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher doc-level quality rules (round 15; Rae et al. 2021 Table
    A1 — word-count bounds, mean word length, symbol-to-word ratio,
    alphabetic-word fraction, required-stopword hits, plus the bullet/
    ellipsis line fractions): pure per-row column expressions, zero
    shuffle; the oracle replays every count and ratio."""
    docs = load_table(spark, sf_dir, "documents")
    gq = textproc.gopher_quality("text")
    return docs.select(
        "doc_id",
        gq["n_words"].alias("n_words"),
        gq["mean_word_len"].alias("mean_word_len"),
        gq["symbol_word_ratio"].alias("symbol_word_ratio"),
        gq["frac_alpha_words"].alias("frac_alpha_words"),
        gq["n_required_stop"].alias("n_required_stop"),
        gq["passes"].alias("passes"),
    )


_LF = textproc.line_filter_sql("text")


@query(
    "q_line_filter",
    f"""
    SELECT doc_id,
           md5({_LF['filtered']}) AS filtered_md5,
           {_LF['n_lines_removed']} AS n_lines_removed,
           {_LF['removed_char_frac']} AS removed_char_frac,
           {_LF['keep']} AS keep
    FROM documents
    """,
)
def q_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb line-wise corrections (round 15; Penedo et al. 2023
    §3.2): drop counter / numeric-only / uppercase-dominated lines,
    keep the document unless the removed lines exceed half its
    characters. Pure array expressions, zero shuffle; the rebuilt
    filtered text is md5-compared so the oracle gates the exact kept
    line set and join order."""
    docs = load_table(spark, sf_dir, "documents")
    lf = textproc.line_filter("text")
    return docs.select(
        "doc_id",
        F.md5(lf["filtered"]).alias("filtered_md5"),
        lf["n_lines_removed"].alias("n_lines_removed"),
        lf["removed_char_frac"].alias("removed_char_frac"),
        lf["keep"].alias("keep"),
    )


# corpus for the composed-curation gate: exact re-uploads + near
# copies (lowercased tokenizer makes the uppercase edit Jaccard-1.0 but
# md5-distinct) + counter-line spam tails that line_filter must drop
_CURATE_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id,
           upper(substring(text, 1, 1)) || substring(text, 2) AS text
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 300000 AS doc_id,
           text || repeat(chr(10) || '99999 likes', 60) AS text
    FROM documents WHERE doc_id % 13 = 0
"""


def _curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.upper(F.substring("text", 1, 1)),
            F.expr("substring(text, 2)"),
        ).alias("text"),
    )
    spam = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.expr("repeat(concat(chr(10), '99999 likes'), 60)"),
        ).alias("text"),
    )
    return docs.union(exact).union(near).union(spam)


@query(
    "q_curate",
    __import__("timescaledb_spark.pipeline.curate", fromlist=["x"])
    .curate_corpus_sql(
        table=f"({_CURATE_CORPUS_SQL})", min_required_stops=0
    ),
)
def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition (round 15): line-wise filter →
    Gopher doc rules (required-stopword rule relaxed for the synthetic
    corpus) → exact dedup → MinHash near-dup components; each document
    gets the verdict of the FIRST stage that drops it. The oracle
    replays the identical stage chain with survivor threading, so the
    hash gates stage ORDER, not just each stage in isolation."""
    from .pipeline.curate import curate_corpus

    return curate_corpus(
        _curate_corpus(spark, sf_dir), min_required_stops=0
    )


@query(
    "q_lr_train",
    __import__("timescaledb_spark.pipeline.classify", fromlist=["x"])
    .lr_train_sql(min_required_stops=1),
)
def q_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable LR quality classifier — TRAINING (round 16; the
    DCLM/FineWeb-Edu distillation step: fit a fast linear model to an
    expensive teacher signal, here the Gopher doc-level rules with the
    required-stopword floor at 1 — the synthetic corpus draws from a
    one-stopword vocabulary). 16 full-batch GD rounds over hashed
    char-trigram count features + a saturating length signal; per-row
    float work is a fixed-order fold, sigmoids quantize to 1e-6,
    gradient sums quantize to 1e-9 int64 (order-independent exact
    reduction), so the oracle's unrolled materialized CTE chain learns
    the bit-identical 66-double weight vector."""
    from .pipeline.classify import lr_train_df

    docs = load_table(spark, sf_dir, "documents")
    return lr_train_df(docs, min_required_stops=1)


@query(
    "q_lr_quality",
    __import__("timescaledb_spark.pipeline.classify", fromlist=["x"])
    .lr_quality_sql(min_required_stops=1),
)
def q_lr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable LR quality classifier — TRAIN + SCORE (round 16):
    distill the Gopher verdict into 66 weights, then score every
    document (id, teacher label, 1e-6-quantized probability, 0.5-
    threshold prediction). Scoring is the 100 TB path: the model is 66
    literals, the only shuffle is the feature densification; accuracy
    vs the teacher is ~0.94 at sf0.01 (asserted looser in pytest)."""
    from .pipeline.classify import lr_quality

    docs = load_table(spark, sf_dir, "documents")
    return lr_quality(docs, min_required_stops=1)


@query("q_ppl_buckets", quality_lm.ppl_buckets_sql())
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (round 16; Wenzek et al. 2020 §4.3):
    per-language head/middle/tail terciles by char-gram LM mean
    log-prob (monotone in perplexity, so no cross-engine exp), ties by
    id. The oracle replays training, the 1e-9-quantized scoring, the
    ordering, and the tile naming; at 100 TB the exact per-language
    ntile is replaced by broadcast percentile cutoffs — implemented
    as q_ppl_cutoffs."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_lm.ppl_buckets(docs)


@query(
    "q_dedup_keep_best",
    dedup.keep_best_sql(dedup.minhash_lsh_pairs_sql()),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (round 16): MinHash-LSH
    near-dup pairs → connected components → keep the HIGHEST-quality
    member per cluster (ties by id) instead of the min-id keeper —
    what a real pipeline ships. The argmax window runs over the
    bounded cluster frame only; losers broadcast back, the corpus is
    never sorted. The oracle replays pairs, closure, the raw-double
    quality ordering, and the kept flags."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    clusters = dedup.dup_clusters(pairs, shuffle_partitions=8)
    return dedup.keep_best(docs, clusters)


@query("q_ppl_cutoffs", quality_lm.ppl_bucket_cutoffs_sql())
def q_ppl_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutoff-based CCNet bucketing (round 16) — the 100 TB path the
    exact-ntile gate's docstring promises: per-language value
    HISTOGRAM of the 1e-6-quantized scores (bounded by distinct
    values, not docs), cumulative crossing values as tercile cutoffs,
    ≤2 broadcast doubles per language, labels by comparison at scan
    speed — zero corpus-wide sort. The oracle replays histogram,
    crossings, and labels."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_lm.ppl_bucket_cutoffs(docs)


@query(
    "q_corpus_card",
    textproc.corpus_card_sql(min_required_stops=1),
)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice corpus data card (round 16; the Datasheets-style
    composition table a release ships): docs/tokens/chars, exact-dup
    fraction, 1e-9-quantized mean quality, Gopher pass rate per
    language × source — one scan, one groupBy bounded by the slice
    count. The oracle replays every count, quantized sum, and exact
    integer ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return textproc.corpus_card(docs, min_required_stops=1)
