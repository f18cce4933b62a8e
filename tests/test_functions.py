"""Property tests for the portable column-expression functions."""

# --- property: the portable hash is engine-identical --------------------------
# Every deterministic-sampling, minhash, LSH, and weighted-sampling oracle
# rests on portable_hash64 == its SQL twin; pin the equivalence on
# adversarial strings, not just fixture data.

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="'"
            ),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    st.integers(min_value=0, max_value=99),
)
def test_portable_hash64_matches_duckdb(spark, strings, seed):
    import duckdb

    from cloudfloe_spark.functions.text import portable_hash64, portable_hash_sql

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", portable_hash64(F.col("s"), seed=seed).alias("h")
    )
    got = {r["s"]: r["h"] for r in sdf.collect()}
    con = duckdb.connect()
    for s in strings:
        want = con.execute(
            f"SELECT {portable_hash_sql('?', seed=seed)}", [s]
        ).fetchone()[0]
        assert got[s] == want, (s, seed, got[s], want)


# --- short-input guards (r16, ADVICE r15) ------------------------------------
# sequence(1, 0) is the DESCENDING [1, 0]: unguarded, word_shingles threw
# INVALID_PARAMETER_VALUE.START on docs with < k words and char_ngrams
# silently emitted two bogus duplicate n-grams on texts shorter than n.


def test_word_shingles_short_doc_empty(spark):
    from pyspark.sql import functions as F

    from cloudfloe_spark.functions.text import word_shingles

    rows = spark.createDataFrame(
        [("two words",), ("one",), ("",), ("exactly three words",),
         ("now four words here",), (None,)],
        "text string",
    ).select(word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert [r["sh"] for r in rows] == [
        [],
        [],
        [],
        ["exactly three words"],
        ["now four words", "four words here"],
        [],  # NULL input: empty array, not NULL (docstring contract)
    ]


def test_char_ngrams_short_text_empty(spark):
    from pyspark.sql import functions as F

    from cloudfloe_spark.functions.text import char_ngrams

    rows = spark.createDataFrame(
        [("a b",), ("",), ("abcde",), ("abcdef",), (None,)], "text string"
    ).select(char_ngrams(F.col("text"), 5).alias("ng")).collect()
    assert [r["ng"] for r in rows] == [
        [],
        [],
        ["abcde"],
        ["abcde", "bcdef"],
        [],  # NULL input: empty array, not NULL (docstring contract)
    ]
