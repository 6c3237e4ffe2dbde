"""Round-16 ADVICE regressions.

1. Hamming banding completeness must hold for ANY radius: the band
   count is derived as ``max_hamming + 1`` (a fixed 4-band layout is
   silently incomplete at radius >= 4 — pigeonhole only covers 3
   differing bits over 4 bands).
2. ``curate_corpus`` must not report NULL-text documents as 'kept':
   NULL stage flags skipped every verdict WHEN branch even though the
   survivor chain had already dropped the doc.

Plus the round-16 scale fix the advice motivated: recursive re-banding
of oversized buckets keeps the candidate set complete while bounding
bucket sizes (verified against brute force with max_bucket=1).
"""

from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from timescaledb_spark.pipeline.dedup import banded_hamming_pairs


def _brute_pairs(hashes, k):
    out = set()
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= k:
                out.add((a, b))
    return out


def _spark_pairs(spark, hashes, k, **kw):
    fp = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id bigint, h bigint"
    )
    got = banded_hamming_pairs(fp, "doc_id", "h", 64, max_hamming=k, **kw)
    return {(r["id_a"], r["id_b"]) for r in got.collect()}


def test_radius_above_three_is_complete(spark):
    """One flipped bit in EACH of the old fixed 4x16 bands: no band
    agrees, so the old layout missed the pair; 5 bands (radius+1) must
    find it."""
    base = 0x0123456789ABCDEF
    h4 = base ^ (1 << 3) ^ (1 << 19) ^ (1 << 35) ^ (1 << 51)
    hashes = {1: base, 2: h4, 3: base ^ 0b11111}  # id 3: 5 bits away
    got = _spark_pairs(spark, hashes, 4)
    assert got == _brute_pairs(hashes, 4) == {(1, 2)}


def test_radius_zero_and_three_match_brute_force(spark):
    import random

    rnd = random.Random(16)
    hashes = {}
    for i in range(40):
        if i % 3 == 0 or i == 0:
            h = rnd.getrandbits(63)
        else:  # perturb an earlier hash by 0-5 bits
            h = hashes[rnd.randrange(i)]
            for _ in range(rnd.randrange(6)):
                h ^= 1 << rnd.randrange(64)
        hashes[i] = h - (1 << 64) if h >= (1 << 63) else h
    for k in (0, 3):
        assert _spark_pairs(spark, hashes, k) == _brute_pairs(hashes, k)


def test_recursive_rebanding_matches_unbounded(spark):
    """max_bucket=1 forces every non-trivial bucket through the
    recursive split path; the output must still be the exact Hamming
    closure (including identical fingerprints, which no split can
    separate — the last level joins them regardless)."""
    import random

    rnd = random.Random(7)
    hashes = {}
    for i in range(30):
        if i < 6:
            hashes[i] = 0x00FF00FF00FF00F0 | i % 2  # clusters of equals
        else:
            h = hashes[rnd.randrange(i)] ^ (1 << rnd.randrange(64))
            hashes[i] = h
    got = _spark_pairs(spark, hashes, 2, max_bucket=1, max_levels=3)
    assert got == _brute_pairs(hashes, 2)


def test_curate_null_text_not_kept(spark, duck):
    from timescaledb_spark.pipeline.curate import (
        curate_corpus,
        curate_corpus_sql,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away "
            "because it must keep moving to stay warm in the winter"),
        (2, None),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["verdict"]
        for r in curate_corpus(df, min_required_stops=0).collect()
    }
    assert got[2] != "kept" and got[3] != "kept"
    # NULL text carries the FIRST stage's drop verdict; empty (non-NULL)
    # text legitimately passes line_filter and fails the Gopher rules
    assert got[2] == "line_filter" and got[3] == "gopher_quality"
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE _adv16 (doc_id BIGINT, text VARCHAR)"
    )
    duck.executemany("INSERT INTO _adv16 VALUES (?, ?)", rows)
    oracle = {
        r[0]: r[1]
        for r in duck.execute(
            curate_corpus_sql(table="_adv16", min_required_stops=0)
        ).fetchall()
    }
    assert oracle == got
    duck.execute("DROP TABLE _adv16")
