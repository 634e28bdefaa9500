"""Text-analysis column expressions for training-data pipelines.

Tokenization, n-gram shingling, language-ID heuristics, quality scoring,
token counting and document fingerprinting — all as compositions of built-in
``pyspark.sql.functions`` (JVM-side regex/array ops, no Python in the hot
path). Each has a matching ANSI-SQL formulation used by the DuckDB oracle so
results are hash-comparable.

The reference's only text processing is id/name munging
(ref targets/TargetInfo.py:128-154, processors/OCO3SamProcessor.py:62-63);
these operators extend the engine to LLM-corpus workloads per the build plan
(SURVEY.md §7 step 8).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization contract shared with the oracle SQL: lowercase, split on runs
# of non-alphanumerics, drop empty tokens.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny marker-word lists for heuristic language ID. Deliberately small and
# committed so the oracle can embed them verbatim.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
}

STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """array<string> of lowercase alphanumeric tokens."""
    toks = F.split(F.lower(col), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '{TOKEN_SPLIT_RE}'),"
        " t -> t <> '')"
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


# RE2-compatible (no lookarounds/backrefs) so the DuckDB oracle can reuse it.
BPE_PIECE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: alpha runs + digit runs + single punctuation
    marks — a cheap proxy for BPE token counts (regex, JVM-side)."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(BPE_PIECE_RE), 0))


def bpe_ish_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all(lower({expr}), '{BPE_PIECE_RE}'))"


def word_ngrams(col: Column, n: int) -> Column:
    """array<string> of space-joined word n-grams (shingles) of ``col``.

    The token array is *lambda-bound* (wrapped in a 1-element array and
    consumed through ``transform``) so the regex tokenizer runs exactly once
    per row. A naive formulation references ``tokens(col)`` from inside the
    per-index lambda, and Spark's higher-order functions re-evaluate
    non-lambda-bound subtrees on every lambda invocation — re-tokenizing
    the document once per shingle (~50× slower on real text).
    Identical semantics are reproduced in :func:`word_ngrams_sql`.
    """

    def build(toks: Column) -> Column:
        count = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(-1)))
        return F.when(count < n, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        )

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def word_ngrams_sql(expr: str, n: int) -> str:
    toks = tokens_sql(expr)
    return (
        f"CASE WHEN len({toks}) < {n} THEN [] "
        f"ELSE list_transform(generate_series(1, len({toks}) - {n} + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' ')) END"
    )


def lang_id(col: Column) -> Column:
    """argmax language by marker count; ties broken by language code order;
    'und' (undetermined) when no marker hits at all.

    The token array is lambda-bound (see :func:`word_ngrams`) so the text is
    tokenized once per row, and the argmax is an ``aggregate`` fold whose
    accumulator is a bound *variable* — a ``when``-chain fold would double
    the expression tree per language (2^n subtrees), which interpreted
    higher-order functions evaluate literally (no codegen CSE)."""

    def pick(toks: Column) -> Column:
        def contains(words: list[str]):
            arr = F.array(*[F.lit(w) for w in words])
            return lambda t: F.array_contains(arr, t)

        entries = F.array(
            *[
                F.struct(
                    F.size(F.filter(toks, contains(LANG_MARKERS[lang]))).alias("score"),
                    F.lit(lang).alias("lang"),
                )
                for lang in sorted(LANG_MARKERS)
            ]
        )
        best = F.aggregate(
            entries,
            F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
            lambda acc, s: F.when(s["score"] > acc["score"], s).otherwise(acc),
        )
        return F.element_at(
            F.transform(
                F.array(best),
                lambda b: F.when(b["score"] <= 0, F.lit("und")).otherwise(b["lang"]),
            ),
            1,
        )

    return F.element_at(F.transform(F.array(tokens(col)), pick), 1)


def lang_id_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    ordered = sorted(LANG_MARKERS.keys())
    score = {
        lang: (
            "len(list_filter({t}, t -> t IN ({w})))".format(
                t=toks, w=", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
            )
        )
        for lang in ordered
    }
    # Fold in the same order as lang_id: strictly-greater replaces.
    sql = "struct_pack(score := -1, lang := 'und')"
    for lang in ordered:
        sql = (
            f"CASE WHEN {score[lang]} > struct_extract({sql}, 'score') "
            f"THEN struct_pack(score := {score[lang]}, lang := '{lang}') "
            f"ELSE {sql} END"
        )
    return (
        f"CASE WHEN struct_extract({sql}, 'score') <= 0 THEN 'und' "
        f"ELSE struct_extract({sql}, 'lang') END"
    )


def quality_struct(col: Column) -> Column:
    """Document quality features as ONE struct column computed in a single
    pass: char length, token count, mean token length, stopword ratio,
    non-alnum (punctuation) ratio. The tokenizer and the alnum-strip regex
    are lambda-bound so each runs once per row; consume via
    ``explode(array(quality_struct(...)))`` (a Generate barrier) so field
    extraction doesn't re-expand the expression per output column."""
    pre = F.struct(
        tokens(col).alias("toks"),
        F.length(col).alias("n_char"),
        F.length(F.regexp_replace(F.lower(col), TOKEN_SPLIT_RE, "")).alias("n_alnum"),
    )

    def build(p: Column) -> Column:
        toks, n_char, n_alnum = p["toks"], p["n_char"], p["n_alnum"]
        n_tok = F.size(toks)
        n_stop = F.size(
            F.filter(
                toks,
                lambda t: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS_EN]), t),
            )
        )
        return F.struct(
            n_char.alias("n_char"),
            n_tok.alias("n_tok"),
            F.when(n_tok > 0, n_alnum.cast("double") / n_tok)
            .otherwise(F.lit(0.0)).alias("mean_tok_len"),
            F.when(n_tok > 0, n_stop.cast("double") / n_tok)
            .otherwise(F.lit(0.0)).alias("stopword_ratio"),
            ((n_char - n_alnum).cast("double") / F.greatest(n_char, F.lit(1)))
            .alias("punct_ratio"),
        )

    return F.element_at(F.transform(F.array(pre), build), 1)


def quality_features_sql(expr: str) -> dict[str, str]:
    toks = tokens_sql(expr)
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    n_tok = f"len({toks})"
    n_char = f"length({expr})"
    n_alnum = f"length(regexp_replace(lower({expr}), '{TOKEN_SPLIT_RE}', '', 'g'))"
    n_stop = f"len(list_filter({toks}, t -> t IN ({stop})))"
    return {
        "n_char": n_char,
        "n_tok": n_tok,
        "mean_tok_len": f"CASE WHEN {n_tok} > 0 THEN CAST({n_alnum} AS DOUBLE) / {n_tok} ELSE 0.0 END",
        "stopword_ratio": f"CASE WHEN {n_tok} > 0 THEN CAST({n_stop} AS DOUBLE) / {n_tok} ELSE 0.0 END",
        "punct_ratio": f"CAST({n_char} - {n_alnum} AS DOUBLE) / greatest({n_char}, 1)",
    }


def normalized_fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the lowercased, whitespace-run-collapsed,
    trimmed text. (The reference also defines a char-run-collapse ``tr()``
    regex — ref processors/OCO3SamProcessor.py:62-63 — but never uses it, and
    its backreference is not RE2-portable; whitespace collapse is.)"""
    norm = F.regexp_replace(F.lower(col), r"\s+", " ")
    return F.md5(F.trim(norm))


def normalized_fingerprint_sql(expr: str) -> str:
    norm = f"regexp_replace(lower({expr}), '\\s+', ' ', 'g')"
    return f"md5(trim({norm}))"


# ---------------------------------------------------------------------------
# PII redaction + URL extraction — training-corpus scrubbing primitives.
# Patterns are deliberately lookaround-free so Java regex (Spark) and RE2
# (DuckDB oracle) match byte-identically.
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
URL_RE = r"https?://[^\s]+"
URL_DOMAIN_RE = r"https?://([^/\s]+)"


def redact_pii(col: Column) -> Column:
    """Mask emails then phone numbers with typed placeholders (the standard
    pretraining scrub); Spark's regexp_replace is global by default."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def redact_pii_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '{EMAIL_RE}', '<EMAIL>', 'g')"
    return f"regexp_replace({out}, '{PHONE_RE}', '<PHONE>', 'g')"


def pii_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text."""
    return (
        F.regexp_count(col, F.lit(EMAIL_RE)),
        F.regexp_count(col, F.lit(PHONE_RE)),
    )


def extract_urls(col: Column) -> Column:
    """Array of URL substrings."""
    return F.regexp_extract_all(col, F.lit(URL_RE), 0)


def url_domain(url: Column) -> Column:
    return F.regexp_extract(url, URL_DOMAIN_RE, 1)


# ---------------------------------------------------------------------------
# Hashed-feature linear quality scorer (fastText-style hashing trick)
# ---------------------------------------------------------------------------
# The scoring shape of a linear text-quality classifier: every token hashes
# into a fixed-dimension weight table and the document score is the mean of
# its feature weights. The committed weight table here is synthetic (a
# multiplicative-hash permutation of the bucket index — no trained model
# ships in this repo), but the pipeline is exactly what a trained fastText /
# logistic model needs at 100 TB: a zero-shuffle scan-local projection, with
# the weight table an O(dim) broadcast (here: a closed-form expression).
#
# Integer-exact across engines: weights are integer "milli-units" in
# [-1001, 1001]; the per-doc sum stays in int64 (|sum| <= 1001 * n_tokens)
# and only ONE final division produces a double — bit-identical on any
# IEEE-754 engine, no float summation order anywhere.
QUALITY_HASH_DIM = 1024
QUALITY_HASH_MULT = 2654435761  # Knuth multiplicative-hash constant
QUALITY_HASH_MOD = 2003  # prime; (b*MULT) % MOD - 1001 spans [-1001, 1001]


def hashed_feature_milli_sum(col: Column) -> Column:
    """int64 sum of hashed-token feature weights (milli-units)."""
    from . import hashing

    def w(t: Column) -> Column:
        b = hashing.portable_hash28(t) % QUALITY_HASH_DIM
        return (b * QUALITY_HASH_MULT) % QUALITY_HASH_MOD - 1001

    return F.aggregate(
        F.transform(tokens(col), w),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def hashed_feature_milli_sum_sql(expr: str) -> str:
    from . import hashing

    h = hashing.portable_hash28_sql("t")
    return (
        f"CAST(list_sum(list_transform({tokens_sql(expr)}, "
        f"t -> (({h} % {QUALITY_HASH_DIM}) * {QUALITY_HASH_MULT})"
        f" % {QUALITY_HASH_MOD} - 1001)) AS BIGINT)"
    )


def char_pairs(word: Column) -> Column:
    """Adjacent character pairs of a token (BPE merge candidates).
    Caller must ensure length(word) >= 2 — ``sequence(1, 0)`` would
    otherwise produce a DESCENDING range in Spark (DuckDB's
    generate_series yields empty)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word) - 1),
        lambda i: word.substr(i, F.lit(2)),
    )


def char_pairs_sql(expr: str) -> str:
    return (
        f"list_transform(generate_series(1, length({expr}) - 1), "
        f"i -> substr({expr}, i, 2))"
    )
