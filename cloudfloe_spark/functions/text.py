"""Text-analysis column expressions: tokenization, shingles, portable hashes,
language-ID, quality scoring, fingerprints.

All pure Column expressions over built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, zero Python UDFs in the hot path. That is the 100 TB
design constraint: a Python UDF here would serialize every document through
the Py4J/Arrow boundary; these expressions never leave Tungsten.

The hash primitives are **portable**: built from ``md5`` (identical in Spark
and DuckDB) rather than ``xxhash64``/``hash`` (engine-specific seeds), so
every operator built on them is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic small stopword lists per language for the n-gram heuristic
# language identifier. Public knowledge (common function words).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "a", "is", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
}

STOPWORDS_EN = LANG_STOPWORDS["en"]


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip — canonical form for
    fingerprinting/dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty tokens removed)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda w: w != "")


def word_count(col: Column) -> Column:
    return F.size(words(col))


def char_ngrams(col: Column, n: int) -> Column:
    """Character n-grams of the normalized text (array<string>).

    The normalized string is let-bound: a subexpression referenced inside
    a higher-order-function lambda is re-evaluated per element, so the
    naive form re-ran the regexp normalization once per n-gram (r15
    optimization; see :func:`let`).

    Texts shorter than ``n`` return an EMPTY array (r16, ADVICE r15):
    ``sequence(1, 0)`` is the DESCENDING [1, 0], so the unguarded form
    emitted two bogus duplicate n-grams for short texts — silent wrong
    output that would diverge from a GENERATE_SERIES-based oracle.

    NULL input also returns an EMPTY array, not NULL: the length guard is
    NULL, so the ``otherwise`` arm answers. Callers explode or size the
    result, where ``[]`` and "no n-grams" mean the same thing."""

    def body(s: Column) -> Column:
        return F.when(
            F.length(s) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(s) - (n - 1)),
                lambda i: F.substring(s, i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(normalize_text(col), body)


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles (space-joined consecutive word windows) →
    array<string>. Built with transform+sequence+slice: no explode needed
    until the caller chooses to.

    The word array is let-bound: ``F.slice(ws, i, k)`` sits inside the
    per-shingle lambda, and Catalyst re-evaluates non-lambda subtrees
    referenced from a lambda once PER ELEMENT — the naive form re-ran the
    whitespace split once per shingle (r15 optimization, measured ~10% on
    the minhash signature pass and ~5× on the segmenter's sibling).

    Docs with fewer than ``k`` words return an EMPTY array (r16, ADVICE
    r15): ``sequence(1, greatest(size-k+1, 0))`` yields the DESCENDING
    [1, 0] for short docs and ``slice(ws, 0, k)`` then throws
    INVALID_PARAMETER_VALUE.START — the same trap the r15 diff guarded in
    text_boilerplate_segments, now guarded at the source.

    NULL input also returns an EMPTY array, not NULL: the size guard is
    NULL, so the ``otherwise`` arm answers — the same contract as
    :func:`char_ngrams`."""

    def body(ws: Column) -> Column:
        return F.when(
            F.size(ws) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(words(col), body)


def portable_hash64(col: Column, seed: int = 0) -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB.

    md5 → first 15 hex digits → bigint. Spark: conv(...,16,10); DuckDB:
    ('0x' || substring(md5(x),1,15))::BIGINT. 15 hex digits = 60 bits,
    safely inside int64.
    """
    payload = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def portable_hash_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB-side twin of ``portable_hash64`` as a SQL fragment."""
    return f"CAST(('0x' || SUBSTRING(MD5('{seed}:' || {expr}), 1, 15)) AS BIGINT)"


# Affine MinHash family over a single base hash: h_i = (A_i·h31 + B_i) mod P
# with h31 = base & (2^31-1). A_i < 2^16 keeps A_i·h31 < 2^47 — no int64
# overflow, so the arithmetic is identical under Spark ANSI mode and DuckDB.
MINHASH_P = 2147483647
_MINHASH_A = [2 * i + 1 for i in range(1, 65)]  # small odd multipliers
_MINHASH_B = [(i * 40503) % MINHASH_P for i in range(1, 65)]


def _affine_minhasher(i: int):
    # NOTE: single-argument closure, NOT `lambda s, i=i:` — pyspark
    # higher-order functions inspect lambda arity and would pass the array
    # index as the second argument, silently clobbering the default.
    a, b = _MINHASH_A[i], _MINHASH_B[i]

    def h(base: Column) -> Column:
        return (F.lit(a) * base.bitwiseAND(F.lit(MINHASH_P)) + F.lit(b)) % MINHASH_P

    return h


def let(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE per row
    and reference it many times in ``body``.

    Catalyst does not share a subexpression referenced from multiple
    higher-order-function lambdas — each reference re-evaluates the whole
    subtree. Binding it as a lambda variable via a single-element-array
    ``transform`` forces one evaluation (lambda variables are
    materialized), turning O(refs × cost) into O(cost).
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def minhash_signature_from_shingles(sh: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from a shingle array: ONE md5 per shingle (the
    expensive part), then ``num_hashes`` cheap affine derivations —
    12× fewer digest calls than hashing per (seed, shingle).

    The base-hash array is let-bound: without it, each of the
    ``num_hashes`` array_min references would re-run the md5 transform
    (measured 12× slower at sf0.1)."""
    base = F.transform(sh, lambda s: portable_hash64(s, seed=0))
    return let(
        base,
        lambda hb: F.array(
            *[
                F.array_min(F.transform(hb, _affine_minhasher(i)))
                for i in range(num_hashes)
            ]
        ),
    )


def minhash_affine_sql(i: int, base_expr: str) -> str:
    """DuckDB twin of one affine MinHash derivation."""
    a, b = _MINHASH_A[i], _MINHASH_B[i]
    return f"(({a} * ({base_expr} & {MINHASH_P}) + {b}) % {MINHASH_P})"


def fingerprint(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of normalized text (portable)."""
    return F.md5(normalize_text(col))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    clean = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(col) > 0, F.length(clean) / F.length(col)).otherwise(0.0)


def _membership(stopwords: tuple[str, ...]):
    def f(w: Column) -> Column:
        return w.isin(*stopwords)

    return f


def mean_word_length(col: Column) -> Column:
    def body(ws: Column) -> Column:
        total = F.aggregate(
            F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        )
        return F.when(F.size(ws) > 0, total / F.size(ws)).otherwise(0.0)

    return let(words(col), body)


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards mid-length docs, plausible
    word lengths, low punctuation noise. Deterministic closed form so the
    DuckDB oracle can reproduce it exactly.

    One let-bound split serves the length score and the mean-word-length
    score (r15 — the naive composition tokenized the document ~3× per
    row; HOF subtrees are codegen-fallback, so Catalyst's subexpression
    elimination never deduplicated them)."""

    def body(ws: Column) -> Column:
        n_words = F.size(ws).cast("double")
        len_score = F.least(n_words / 50.0, F.lit(1.0))
        total = F.aggregate(
            F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        )
        mwl = F.when(F.size(ws) > 0, total / F.size(ws)).otherwise(0.0)
        wl_score = F.when((mwl >= 3.0) & (mwl <= 8.0), 1.0).otherwise(0.5)
        punct_score = 1.0 - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
        return F.round((len_score + wl_score + punct_score) / 3.0, 4)

    return let(words(col), body)


def lang_id(col: Column) -> Column:
    """Pick the language with the max stopword-hit count (ties broken by
    fixed language order; all-zero → 'und').

    The tokenized word array and the per-language score struct are each
    let-bound so the split and the 4 membership filters run ONCE per row —
    the naive expression tree re-evaluates the split per language and each
    score twice (argmax references it in both ``when`` and ``greatest``).
    """
    langs = list(LANG_STOPWORDS)

    def _scores(ws: Column) -> Column:
        return F.struct(
            *[
                F.size(F.filter(ws, _membership(sw))).alias(f"s_{lang}")
                for lang, sw in LANG_STOPWORDS.items()
            ]
        )

    def _argmax(scores: Column) -> Column:
        best = F.lit("und")
        best_score = F.lit(0)
        # iterate in reverse so earlier languages win ties
        for lang in reversed(langs):
            s = scores[f"s_{lang}"]
            best = F.when(s >= best_score, F.lit(lang)).otherwise(best)
            best_score = F.greatest(s, best_score)
        return F.when(best_score > 0, best).otherwise(F.lit("und"))

    return let(words(F.lower(col)), lambda ws: let(_scores(ws), _argmax))
