"""Composed corpus curation — pipeline/curate.py (round 15)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from timescaledb_spark.pipeline.curate import curate_corpus, curate_corpus_sql

from .oracle import oracle_rows

GOOD = (
    "The quick brown fox jumps over the lazy dog and runs to the barn "
    "with great speed. It is said that every good sentence must have "
    "some of the usual English words, and this one tries to be of use "
    "for that purpose with plenty of plain text to pass the bounds."
)


def test_stage_order_and_verdicts(spark):
    spam = GOOD + "\n99999 likes" * 80  # line filter drops first
    rows = [
        (1, GOOD),                       # kept
        (2, GOOD),                       # exact dup of 1
        (3, GOOD.replace("The", "THE")), # same tokens -> near dup of 1
        (4, "too short"),                # gopher drops
        (5, spam),                       # line filter drops (checked FIRST,
                                         # even though it also fails others)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["verdict"] for r in curate_corpus(df).collect()}
    assert got == {
        1: "kept",
        2: "exact_dup",
        3: "near_dup",
        4: "gopher_quality",
        5: "line_filter",
    }


def test_matches_duckdb_composition(spark):
    rows = [
        (i, GOOD + f" tail {i % 3}") for i in range(12)
    ] + [(100, "short"), (101, GOOD)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {tuple(r) for r in curate_corpus(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {tuple(r) for r in con.execute(curate_corpus_sql("t")).fetchall()}
    assert got == want


def test_gate_matches_oracle(spark, duck, sf_dir):
    from timescaledb_spark import queries as Q

    qs, oracles = Q.queries(), Q.oracle_sql()
    got = {tuple(r) for r in qs["q_curate"](spark, sf_dir).collect()}
    want = {tuple(r) for r in oracle_rows(duck, oracles["q_curate"])[1]}
    assert got == want
    verdicts = {v for _, v in got}
    # the gate corpus exercises every stage
    assert verdicts == {
        "kept", "line_filter", "gopher_quality", "exact_dup", "near_dup"
    }
