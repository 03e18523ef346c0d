"""Text-analysis operators for LLM training-data pipelines: token
counting, quality scoring, language ID, document fingerprinting.

Everything is built from JVM-side pyspark.sql.functions (split /
regexp / transform / aggregate) — whole-stage codegen, no Python in the
hot path — and every function has an exactly-equivalent ANSI-SQL
formulation so the DuckDB oracle can verify values bit-for-bit
(see queries/extensions.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# BPE-ish tokenizer: word runs or single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Tiny deterministic stopword lists per language for the lang-ID
# heuristic and stopword-ratio quality signal.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
}

_FP_PRIME = (1 << 31) - 1


def tokens(text_col: str) -> Column:
    """Whitespace tokens."""
    return F.split(F.col(text_col), " ")


def token_count(text_col: str) -> Column:
    return F.size(tokens(text_col)).cast("long")


def bpe_token_count(text_col: str) -> Column:
    """Regex (BPE-ish) token count — word runs + punctuation marks."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)).cast(
        "long"
    )


def punct_ratio(text_col: str) -> Column:
    """Fraction of non-space characters that are punctuation."""
    stripped = F.regexp_replace(F.col(text_col), r"\s", "")
    nonpunct = F.regexp_replace(stripped, r"[^A-Za-z0-9_]", "")
    return F.round(
        (F.length(stripped) - F.length(nonpunct))
        / F.greatest(F.length(stripped), F.lit(1)),
        4,
    )


def stopword_count(text_col: str, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(
        F.filter(tokens(text_col), lambda t: F.lower(t).isin(*words))
    ).cast("long")


def stopword_ratio(text_col: str, lang: str = "en") -> Column:
    return F.round(
        stopword_count(text_col, lang) / F.greatest(token_count(text_col), F.lit(1)),
        4,
    )


def quality_score(text_col: str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    + presence of stopwords (the classic Gopher-style filters, reduced
    to deterministic arithmetic)."""
    n_tok = token_count(text_col)
    len_ok = (n_tok >= 5) & (n_tok <= 5000)
    punct_ok = punct_ratio(text_col) <= 0.3
    stop_ok = stopword_ratio(text_col, "en") >= 0.01
    return F.round(
        (len_ok.cast("int") + punct_ok.cast("int") + stop_ok.cast("int")) / F.lit(3.0),
        4,
    )


def lang_id(text_col: str) -> Column:
    """Deterministic stopword-vote language ID with fixed precedence
    (en > de > fr > es > unknown on ties-at-zero)."""
    counts = {lang: stopword_count(text_col, lang) for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    out = F.lit("und")
    # precedence: later whens don't override earlier matches
    expr = (
        F.when((best > 0) & (counts["en"] == best), "en")
        .when((best > 0) & (counts["de"] == best), "de")
        .when((best > 0) & (counts["fr"] == best), "fr")
        .when((best > 0) & (counts["es"] == best), "es")
        .otherwise(out)
    )
    return expr


def fingerprint(text_col: str) -> Column:
    """Polynomial rolling hash over characters, mod 2^31-1 — the
    document fingerprint.  h = (h*31 + ascii(c)) mod p, exactly
    reproducible in ANSI SQL (list_reduce in DuckDB)."""
    chars = F.split(F.col(text_col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 31 + F.ascii(c), F.lit(_FP_PRIME)),
    )


def _stopword_predicate(words):
    # factory, not a defaulted lambda: higher-order functions inspect
    # the lambda's arity, and an extra bound parameter would be taken
    # for the (element, index) two-arg form
    return lambda t: F.lower(t).isin(*words)


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass text-analysis profile of a document table.

    Values are identical to the standalone helpers above, but the
    pipeline is staged into successive projections so the tokenization
    and whitespace-strip each run ONCE per row instead of once per
    derived metric (see operators/dedup.py's module note on
    CollapseProject and lambda-boundary CSE), and the input is spread
    across the cluster when the scan under-parallelizes."""
    from .dedup import _spread

    staged = _spread(df).select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        F.split(F.col(text_col), " ").alias("_toks"),
        F.regexp_replace(F.col(text_col), r"\s", "").alias("_stripped"),
    )
    counted = staged.select(
        id_col,
        "_text",
        "_stripped",
        F.size("_toks").cast("long").alias("n_tokens"),
        *[
            F.size(F.filter("_toks", _stopword_predicate(STOPWORDS[lang])))
            .cast("long")
            .alias(f"_c_{lang}")
            for lang in STOPWORDS
        ],
    )
    featured = counted.select(
        id_col,
        "n_tokens",
        F.size(F.regexp_extract_all("_text", F.lit(BPE_TOKEN_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("_text").cast("long").alias("n_chars"),
        F.round(
            (
                F.length("_stripped")
                - F.length(F.regexp_replace("_stripped", r"[^A-Za-z0-9_]", ""))
            )
            / F.greatest(F.length("_stripped"), F.lit(1)),
            4,
        ).alias("punct_ratio"),
        *[F.col(f"_c_{lang}") for lang in STOPWORDS],
        F.aggregate(
            F.split("_text", ""),
            F.lit(0).cast("long"),
            lambda acc, c: F.pmod(acc * 31 + F.ascii(c), F.lit(_FP_PRIME)),
        ).alias("fingerprint"),
    ).withColumn(
        "stopword_ratio",
        F.round(F.col("_c_en") / F.greatest(F.col("n_tokens"), F.lit(1)), 4),
    )
    counts = {lang: F.col(f"_c_{lang}") for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    len_ok = (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000)
    punct_ok = F.col("punct_ratio") <= 0.3
    stop_ok = F.col("stopword_ratio") >= 0.01
    return featured.select(
        id_col,
        "n_tokens",
        "n_bpe_tokens",
        "n_chars",
        "punct_ratio",
        "stopword_ratio",
        F.round(
            (len_ok.cast("int") + punct_ok.cast("int") + stop_ok.cast("int"))
            / F.lit(3.0),
            4,
        ).alias("quality"),
        F.when((best > 0) & (counts["en"] == best), "en")
        .when((best > 0) & (counts["de"] == best), "de")
        .when((best > 0) & (counts["fr"] == best), "fr")
        .when((best > 0) & (counts["es"] == best), "es")
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        "fingerprint",
    )


def repetition_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", App. A1.1 — the public repetition
    filters), as deterministic arithmetic:

    - ``dup_line_frac``: 1 - distinct lines / lines
    - ``dup_line_char_frac``: characters in repeated line occurrences
      (beyond each line's first) / total line characters
    - ``top_2gram_frac`` / ``top_3gram_frac``: tokens covered by the
      most frequent 2-/3-gram: count * n / n_tokens
    - ``symbol_word_ratio``: '#' and ellipsis occurrences per token
    - ``bullet_line_frac`` / ``ellipsis_line_frac``: lines starting
      with a bullet / ending with an ellipsis
    - ``mean_word_len``; ``alpha_word_frac`` (words with a letter)

    Line/word metrics are per-row array expressions (whole-stage
    codegen, zero shuffle).  The top-n-gram metrics explode to
    (doc, gram) and aggregate — two shuffles KEYED BY DOC ID whose
    per-key cardinality is bounded by document length, the linear
    shape that survives 100 TB (an all-pairs per-doc expression would
    be O(len^2) per row)."""
    from .dedup import _spread

    lines = F.split(F.col(text_col), "\n")
    toks = F.split(F.col(text_col), " ")
    base = _spread(df).select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        toks.alias("_toks"),
        lines.alias("_lines"),
    ).select(
        id_col,
        "_toks",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size("_lines").cast("long").alias("_n_lines"),
        F.size(F.array_distinct("_lines")).cast("long").alias("_n_distinct"),
        F.aggregate(
            F.col("_lines"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("_lc"),
        F.aggregate(
            F.array_distinct("_lines"),
            F.lit(0).cast("long"),
            lambda a, x: a + F.length(x),
        ).alias("_dlc"),
        F.size(F.filter("_lines", lambda ln: ln.rlike(r"^\s*[-*•]"))).alias(
            "_bullet"
        ),
        F.size(
            F.filter("_lines", lambda ln: ln.rlike(r"(\.\.\.|…)\s*$"))
        ).alias("_ellipsis_l"),
        F.size(F.regexp_extract_all("_text", F.lit(r"#|\.\.\.|…"), 0))
        .cast("long")
        .alias("_symbols"),
        F.size(F.filter("_toks", lambda t: t.rlike("[A-Za-z]"))).alias("_alpha"),
        F.aggregate(
            F.col("_toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("_tok_chars"),
    )

    # The top-n-gram count is computed PER ROW (r13): sort the gram
    # array, then the max multiplicity is the longest run of equal
    # adjacent elements, found by ONE F.aggregate pass with a
    # (prev, run, best) accumulator.  O(len log len) per document,
    # ZERO shuffle, ZERO join (the r12 shape exploded to (doc, gram)
    # and aggregated twice per gram size — two shuffles + a join back
    # per size; 11.9 s at the 10x corpus vs 1.4 s for this shape).
    #
    # SHAPE HAZARD (measured, r13): the aggregate's lambdas must
    # reference ONLY lambda variables (acc, x).  A first cut built run
    # boundaries via filter(sequence(..), i -> element_at(sg, i) ..)
    # — `sg` there is a full expression SUBTREE, and Spark's
    # higher-order functions re-evaluate non-variable subtrees on
    # EVERY element, so array_sort(grams) ran O(len) times per row:
    # O(len² log len) per document, 104.6 s vs 1.35 s at the 10x
    # corpus (OPTIMIZATION_r13.md, all three shapes
    # checksum-identical).
    def top_gram_count_expr(n: int):
        toks = F.col("_toks")
        slices = [F.slice(toks, i + 1, F.size(toks) - (n - 1)) for i in range(n)]
        grams = slices[0]
        for s in slices[1:]:
            grams = F.zip_with(grams, s, lambda a, b: F.concat_ws(" ", a, b))
        # null prev can never equal a gram (split() yields no nulls),
        # so the first element always opens a run of 1
        best = F.aggregate(
            F.array_sort(grams),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.best,
        )
        return F.when(
            F.size(F.col("_toks")) >= n, best
        ).otherwise(F.lit(0)).cast("long")

    nz = lambda c: F.greatest(c, F.lit(1))  # noqa: E731
    return (
        base.withColumn("_top2", top_gram_count_expr(2))
        .withColumn("_top3", top_gram_count_expr(3))
        .select(
            id_col,
            "n_tokens",
            F.round(
                (F.col("_n_lines") - F.col("_n_distinct")) / nz(F.col("_n_lines")), 4
            ).alias("dup_line_frac"),
            F.round((F.col("_lc") - F.col("_dlc")) / nz(F.col("_lc")), 4).alias(
                "dup_line_char_frac"
            ),
            F.round(
                F.coalesce(F.col("_top2"), F.lit(0)) * 2 / nz(F.col("n_tokens")), 4
            ).alias("top_2gram_frac"),
            F.round(
                F.coalesce(F.col("_top3"), F.lit(0)) * 3 / nz(F.col("n_tokens")), 4
            ).alias("top_3gram_frac"),
            F.round(F.col("_symbols") / nz(F.col("n_tokens")), 4).alias(
                "symbol_word_ratio"
            ),
            F.round(F.col("_bullet") / nz(F.col("_n_lines")), 4).alias(
                "bullet_line_frac"
            ),
            F.round(F.col("_ellipsis_l") / nz(F.col("_n_lines")), 4).alias(
                "ellipsis_line_frac"
            ),
            F.round(F.col("_tok_chars") / nz(F.col("n_tokens")), 4).alias(
                "mean_word_len"
            ),
            F.round(F.col("_alpha") / nz(F.col("n_tokens")), 4).alias(
                "alpha_word_frac"
            ),
        )
    )


#: C4 line filter: keep lines with >= min_words words that end in
#: terminal punctuation (Raffel et al. 2020 §2.2's public heuristics).
C4_TERMINAL_RE = r'[.!?"]\s*$'


def c4_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 3,
    min_lines: int = 1,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020, §2.2): drop documents
    containing a curly brace or the phrase "lorem ipsum"; within the
    survivors keep only lines that end in terminal punctuation
    (toggleable for corpora without sentence punctuation) and have
    at least ``min_words_per_line`` words; drop documents left with
    fewer than ``min_lines`` lines.  Returns (id, text) with ``text``
    rebuilt from the kept lines.

    Pure per-row array expressions (split -> filter -> array_join) —
    whole-stage codegen, zero shuffle, trivially 100 TB-safe."""

    def line_ok(ln):
        ok = F.size(F.split(F.trim(ln), r"\s+")) >= min_words_per_line
        if require_terminal_punct:
            ok = ln.rlike(C4_TERMINAL_RE) & ok
        return ok

    kept_lines = F.filter(F.split(F.col(text_col), "\n"), line_ok)
    return (
        df.filter(~F.col(text_col).contains("{"))
        .filter(~F.lower(F.col(text_col)).contains("lorem ipsum"))
        .select(F.col(id_col), kept_lines.alias("_kept"))
        .filter(F.size("_kept") >= min_lines)
        .select(
            id_col,
            F.array_join("_kept", "\n").alias(text_col),
            F.size("_kept").cast("long").alias("n_lines_kept"),
        )
    )


#: PII patterns (redaction order matters: URLs before bare domains
#: would — emails first so URL user-info does not eat them).  Kept
#: RE2-compatible so the DuckDB oracle runs the SAME regexes.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[^\s]+"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\b\d[\d\-\s]{7,}\d\b"),
)


def redact_pii(text_col: str, token: str = "[PII:{kind}]") -> "Column":
    """Redact emails, URLs, IPv4 addresses, and phone-number-shaped
    digit runs with typed placeholder tokens — the standard scrub stage
    of a training-data pipeline.  A chain of JVM ``regexp_replace``
    calls (whole-stage codegen, zero Python); patterns are
    RE2-compatible so an ANSI-SQL oracle applies the identical
    regexes."""
    c = F.col(text_col)
    for kind, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token.format(kind=kind))
    return c


def pii_counts(text_col: str) -> "Column":
    """Struct of per-kind match counts (pre-redaction) — the audit
    metric a scrub stage reports."""
    return F.struct(
        *[
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).alias(kind)
            for kind, pat in PII_PATTERNS
        ]
    )


#: Knuth's multiplicative-hash constant (2^32 / phi) — both engines
#: compute ``(id * K) % 2^32`` exactly in 64-bit integer arithmetic,
#: so the sample is reproducible in Spark AND the DuckDB oracle.
_MIX_HASH_K = 2654435761
_MIX_HASH_M = 1 << 32


def mix_sources(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    quotas: dict[str, int],
) -> DataFrame:
    """Deterministic stratified sampling for dataset mixing: keep the
    ``quotas[stratum]`` rows with the smallest multiplicative hash of
    ``id_col`` within each stratum — the "mix N docs of source A with
    M of source B" step every training-data pipeline runs.

    The hash order is a fixed pseudo-random permutation of ids, so the
    sample is stable across runs, engines, and partitionings (unlike
    ``sampleBy``, whose row picks depend on the RNG stream), and
    growing a quota only ADDS rows (nested samples — the property you
    want when scaling a mixture up).  One window per stratum key:
    a single shuffle on ``stratum_col``; quotas broadcast in the plan.
    """
    from pyspark.sql import Window

    h = F.pmod(F.col(id_col).cast("long") * F.lit(_MIX_HASH_K), F.lit(_MIX_HASH_M))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    quota = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )[F.col(stratum_col)]
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.coalesce(quota, F.lit(0)))
        .drop("_rn")
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword search over a document table: per-document
    ``score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    with ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)`` (the Lucene/
    Robertson form).  Returns ``(id_col, score)`` for every document
    containing at least one query term.

    Scale posture: tokens are filtered to the query terms IMMEDIATELY
    after the explode, so only matching (doc, term) rows reach the
    tf shuffle — the corpus itself never shuffles.  Corpus statistics
    (N, avgdl) are scalar aggregates (map-side partials, one row out);
    per-term document frequencies are |query_terms| rows broadcast
    back onto the tf frame.  Everything is JVM expressions — no UDFs.
    """
    from .dedup import _spread

    terms = [t.lower() for t in query_terms]
    # _dl from the raw token array (same length): the stats branch
    # then prunes to size(split()) alone, never paying the per-token
    # lower() transform the tf branch needs (r12, guide §2.3)
    base = _spread(df).select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda t: F.lower(t)).alias("_toks"),
        F.size(tokens(text_col)).cast("double").alias("_dl"),
    )

    stats = base.agg(
        F.count("*").cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    tf = (
        base.select(id_col, "_dl", F.explode("_toks").alias("_term"))
        .filter(F.col("_term").isin(*terms))
        .groupBy(id_col, "_term")
        .agg(F.count("*").cast("double").alias("_tf"), F.first("_dl").alias("_dl"))
    )
    df_t = tf.groupBy("_term").agg(
        F.countDistinct(id_col).cast("double").alias("_df")
    )
    idf = F.log((F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1)
    tf_part = (F.col("_tf") * (k1 + 1)) / (
        F.col("_tf") + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
    )
    return (
        tf.join(F.broadcast(df_t), "_term")
        .crossJoin(F.broadcast(stats))
        .select(id_col, (idf * tf_part).alias("_s"))
        .groupBy(id_col)
        .agg(F.sum("_s").alias("score"))
    )
