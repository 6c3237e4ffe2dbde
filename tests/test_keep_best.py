"""Quality-aware canonical selection — pipeline/dedup.py keep_best
(round 16)."""

import pandas as pd
from pyspark.sql import functions as F

from timescaledb_spark.pipeline.dedup import (
    dup_clusters,
    keep_best,
    keep_best_sql,
    minhash_lsh_pairs,
    minhash_lsh_pairs_sql,
)
from timescaledb_spark.sources import load_table

from .oracle import oracle_rows


def test_keep_best_matches_duckdb_oracle(spark, sf_dir, duck):
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    clusters = dup_clusters(pairs, shuffle_partitions=4)
    cols = ["doc_id", "cluster_id", "quality", "kept"]
    got = (
        keep_best(docs, clusters)
        .toPandas()[cols]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    dcols, drows = oracle_rows(duck, keep_best_sql(minhash_lsh_pairs_sql()))
    want = (
        pd.DataFrame.from_records(drows, columns=dcols)[cols]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for c in cols:
        assert (got[c].values == want[c].values).all(), c


def test_keep_best_semantics(spark):
    """Synthetic clusters: the keeper is the quality argmax (id
    tie-break), unclustered docs are their own kept cluster."""
    docs = spark.createDataFrame(
        [
            (1, "x"),
            (2, "the quick brown fox jumps with many good words here"),
            (3, "zz"),
            (9, "standalone document"),
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "member long, cluster_id long"
    )
    res = {
        r["doc_id"]: r
        for r in keep_best(docs, clusters).collect()
    }
    assert len(res) == 4
    # doc 2 has the richest text -> highest heuristic score -> kept
    assert res[2]["kept"] == 1 and res[2]["cluster_id"] == 1
    assert res[1]["kept"] == 0 and res[3]["kept"] == 0
    assert res[9]["kept"] == 1 and res[9]["cluster_id"] == 9
    # exactly one keeper per cluster
    kept_in_1 = [r for r in res.values() if r["cluster_id"] == 1 and r["kept"]]
    assert len(kept_in_1) == 1


def test_keep_best_tie_breaks_by_id(spark):
    """Equal scores -> smallest id wins (deterministic)."""
    docs = spark.createDataFrame(
        [(7, "same text"), (5, "same text")], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(5, 5), (7, 5)], "member long, cluster_id long"
    )
    res = {r["doc_id"]: r["kept"] for r in keep_best(docs, clusters).collect()}
    assert res == {5: 1, 7: 0}
