"""Property tests for the round-16 operators (the r14/r15 property-wave
discipline): hypothesis-generated inputs against independent pure-Python
models, one batched Spark evaluation per example.

- banded_hamming_pairs: exact Hamming closure for ANY radius 0..6 and
  ANY max_bucket (including 1, which forces recursion to the bottom),
  vs a brute-force O(n²) model.
"""

from hypothesis import given, settings, strategies as st

from timescaledb_spark.pipeline.dedup import banded_hamming_pairs

_SETTINGS = dict(max_examples=8, deadline=None)


def _i64(u):
    return u - (1 << 64) if u >= (1 << 63) else u


# a cluster-ish hash set: some uniform, some perturbed copies
_HASHES = st.lists(
    st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=2, max_size=18
).flatmap(
    lambda base: st.lists(
        st.tuples(
            st.integers(0, len(base) - 1),
            st.lists(st.integers(0, 63), max_size=6),
        ),
        max_size=18,
    ).map(
        lambda perturbs: [_i64(h) for h in base]
        + [
            _i64(
                base[i]
                ^ (sum(1 << b for b in set(bits)) if bits else 0)
            )
            for i, bits in perturbs
        ]
    )
)


def _brute(hashes, k):
    out = set()
    for a in range(len(hashes)):
        for b in range(a + 1, len(hashes)):
            if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= k:
                out.add((a, b))
    return out


@settings(**_SETTINGS)
@given(
    hashes=_HASHES,
    k=st.integers(min_value=0, max_value=6),
    max_bucket=st.sampled_from([1, 2, 8, 1000]),
)
def test_banded_pairs_any_radius_any_bucket(spark, hashes, k, max_bucket):
    fp = spark.createDataFrame(
        list(enumerate(hashes)), "doc_id bigint, h bigint"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in banded_hamming_pairs(
            fp, "doc_id", "h", 64, max_hamming=k, max_bucket=max_bucket
        ).collect()
    }
    assert got == _brute(hashes, k)
