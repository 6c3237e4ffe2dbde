"""Property tests for the round-15 operators (the r14 property-wave
discipline): each Spark-side formula is checked against an independent
pure-Python model over generated inputs, driven through one batched
DataFrame evaluation per test (hypothesis generates the corpus, Spark
evaluates once)."""

import re

from hypothesis import given, settings, strategies as st


# ---------------------------------------------------------------------------
# line filter: character accounting and verdict consistency
# ---------------------------------------------------------------------------

_LINE = st.one_of(
    st.text(
        alphabet="abcdefgh XYZ.,0123456789", min_size=0, max_size=30
    ).filter(lambda s: "\n" not in s),
    st.just("42 likes"),
    st.just("1,234"),
    st.just("ALL CAPS SHOUTING LINE HERE"),
)


def _model_bad(line: str) -> bool:
    """Independent Python model of the line-drop rules."""
    if re.match(
        r"(?i)^\s*\d+\s+(likes?|comments?|shares?|views?|points?|votes?"
        r"|retweets?|followers?)\b\s*$",
        line,
    ):
        return True
    if re.fullmatch(r"[\s0-9.,:/()\[\]#-]*[0-9][\s0-9.,:/()\[\]#-]*", line):
        return True
    alpha = len(re.sub("[^A-Za-z]", "", line))
    upper = len(re.sub("[^A-Z]", "", line))
    return alpha >= 10 and upper * 10 > alpha * 6


@settings(max_examples=20, deadline=None)
@given(st.lists(_LINE, min_size=1, max_size=12))
def test_line_filter_matches_model(spark, lines):
    from timescaledb_spark.pipeline.textproc import line_filter

    text = "\n".join(lines)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    lf = line_filter("text")
    r = df.select(*[lf[k].alias(k) for k in lf]).collect()[0]
    kept = [l for l in lines if not _model_bad(l)]
    assert r["filtered"] == "\n".join(kept)
    assert r["n_lines_removed"] == len(lines) - len(kept)
    total = sum(len(x) for x in lines)
    want_frac = (total - sum(len(x) for x in kept)) / max(1, total)
    assert abs(r["removed_char_frac"] - want_frac) < 1e-9
    assert r["keep"] == (r["removed_char_frac"] <= 0.5)
