"""Text analysis: language-ID, quality scoring, token counting, fingerprint.

Training-data pipeline operators — all pure column expressions (whole-stage
codegen; no UDFs)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pneuma_treatment_spark.session import fan_out

#: tiny deterministic stopword profiles for the n-gram-free language heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "pour", "dans"],
}

#: tie-break priority when several profiles share the max hit count — MUST
#: match the CASE order of the SQL oracle twin (en before de before fr)
LANG_PRIORITY: tuple[str, ...] = ("en", "de", "fr")


def _tokens(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: highest stopword-profile hit count wins
    (deterministic tie-break by language code order); no hits → 'und'."""
    toks = _tokens(F.col(text_col))
    out = docs.where(F.col(text_col).isNotNull())
    score_cols = []

    def hits(words):
        # NB: a 2-param lambda here would make pyspark pass the ELEMENT INDEX
        # as the second argument (higher-order-function arity dispatch) —
        # bind the word list via closure factory instead.
        return F.size(F.filter(toks, lambda t: t.isin(words)))

    for lang, words in sorted(LANG_PROFILES.items()):
        out = out.withColumn(f"__s_{lang}", hits(words))
        score_cols.append(f"__s_{lang}")
    best = F.greatest(*[F.col(c) for c in score_cols])
    lang_expr = F.lit("und")
    # build inner→outer in REVERSED priority so the highest-priority language
    # ends up as the outermost when() — ties then resolve exactly like the
    # SQL oracle's CASE chain (en, then de, then fr)
    for lang in reversed(LANG_PRIORITY):
        lang_expr = F.when((best > 0) & (F.col(f"__s_{lang}") == best), F.lit(lang)).otherwise(
            lang_expr
        )
    return out.withColumn("lang_pred", lang_expr).drop(*score_cols)


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-score features: lengths, token stats, punct/digit/stopword
    ratios, and a composite 0-1 score."""
    t = F.trim(F.col(text_col))
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop = F.size(F.filter(toks, lambda x: x.isin(LANG_PROFILES["en"])))
    punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    digits = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    mean_tok_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / n_tok,
    )
    out = (
        docs.where(F.col(text_col).isNotNull() & (t != ""))
        .withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("mean_token_len", mean_tok_len)
        .withColumn("stopword_ratio", stop.cast("double") / n_tok)
        .withColumn("punct_ratio", punct.cast("double") / n_chars)
        .withColumn("digit_ratio", digits.cast("double") / n_chars)
    )
    score = (
        F.when(F.col("n_tokens") < 5, 0.2).otherwise(1.0)
        * F.when(F.col("punct_ratio") > 0.3, 0.5).otherwise(1.0)
        * F.when(F.col("digit_ratio") > 0.3, 0.5).otherwise(1.0)
        * F.when(
            (F.col("stopword_ratio") > 0.02) & (F.col("stopword_ratio") < 0.7), 1.0
        ).otherwise(0.7)
    )
    return out.withColumn("quality_score", score)


#: BPE-ish pre-tokenizer (GPT-2 family shape, lookahead-free so both Spark's
#: Java regex and DuckDB's RE2 accept it): contraction suffixes, letter runs,
#: digit runs, punctuation runs, stray apostrophes
BPE_TOKEN_RE = r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s']+|'"


#: rolling-hash parameters (Rabin-Karp polynomial, winnowing per the public
#: MOSS scheme): char k-grams, window of minima
FP_K, FP_W, FP_BASE, FP_MOD = 5, 4, 257, 1_000_000_007


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document fingerprinting by rolling hash + winnowing: polynomial
    Rabin-Karp hashes over normalized char k-grams, then the distinct minima
    of each w-window (documents sharing any fingerprint are near-dup
    candidates). Pure integer arithmetic end-to-end — the SQL oracle
    reproduces every fingerprint exactly. One output row per (doc,
    fingerprint); short docs (< k chars) hash their whole text.

    Shape: chars explode to rows and everything is lead/min WINDOW math —
    an earlier nested array-lambda formulation (slice-per-position inside
    transform) re-evaluated the inner arrays per output element, O(L²·k)
    per document."""
    from pyspark.sql import Window

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    # the char posexplode below amplifies rows ~300x; a compact single-split
    # scan would do all of it on one task (fan_out is a no-op at real split
    # counts)
    base = fan_out(docs).where(
        F.col(text_col).isNotNull() & (F.trim(text_col) != "")
    ).select(id_col, norm.alias("__s"))
    chars = base.select(
        id_col, F.posexplode(F.split("__s", "")).alias("pos", "__ch")
    ).select(id_col, "pos", F.ascii("__ch").cast("long").alias("c"))
    w = Window.partitionBy(id_col).orderBy("pos")
    h = F.col("c")
    for j in range(1, FP_K):
        h = (h * FP_BASE + F.lead("c", j).over(w)) % FP_MOD
    # gram at pos i spans chars i..i+k-1; lead past the end nulls it out
    grams = chars.withColumn("h", h).where(F.col("h").isNotNull())
    nh = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    m = F.min("h").over(w.rowsBetween(0, FP_W - 1))
    mins = (
        grams.withColumn("nh", nh)
        .withColumn("m", m)
        .where(
            ((F.col("nh") <= FP_W) & (F.col("pos") == 0))
            | ((F.col("nh") > FP_W) & (F.col("pos") <= F.col("nh") - FP_W))
        )
        .select(id_col, F.col("m").alias("fp"))
    )
    # short docs (< k chars): one fingerprint = fold over the whole text
    short = base.where(F.length("__s") < FP_K).select(
        id_col,
        F.aggregate(
            F.transform(F.split("__s", ""), lambda ch: F.ascii(ch).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
        ).alias("fp"),
    )
    return mins.unionByName(short).distinct()


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set
    (word-order-insensitive content identity) plus the exact-content hash."""
    toks = _tokens(F.col(text_col))
    return docs.where(F.col(text_col).isNotNull()).select(
        id_col,
        F.md5(F.trim(F.col(text_col)).cast("binary")).alias("content_hash"),
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct(toks))).cast("binary")
        ).alias("token_set_hash"),
    )


#: PII patterns, applied IN ORDER — longest/most-specific digit shapes
#: first so a credit-card run is not half-eaten by the phone pattern, and
#: SSN before phone so 123-45-6789 doesn't parse as a partial phone. Java
#: regex (regexp_replace/regexp_count run JVM-side, whole-stage codegen).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("CARD", r"(?<![\d-])\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}(?![\d-])"),
    ("SSN", r"(?<![\d-])\d{3}-\d{2}-\d{4}(?![\d-])"),
    ("PHONE", r"(?<![\d-])(?:\+?\d{1,2}[\s.-])?(?:\(\d{3}\)\s?|\d{3}[\s.-])\d{3}[\s.-]\d{4}(?![\d-])"),
    ("IPV4", r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])"),
)


def redact_pii(
    docs: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Scrub PII from a text column — the standard training-data pipeline
    stage between ingest and tokenization. Emails, card/SSN/phone number
    shapes, and bare IPv4s are replaced with ``[TYPE]`` placeholders, and a
    per-row ``n_pii`` count (the number of substitutions actually made,
    accumulated in pattern order) supports threshold filtering and corpus
    audits.

    Pure chained ``regexp_replace``/``regexp_count`` column expressions —
    one projection, JVM-side, no UDFs, null text passes through null (the
    load-bearing-null convention). Pattern order matters: see
    ``PII_PATTERNS``. ``out_col=None`` redacts in place. NOTE: this
    operator is NOT part of the rollup pipeline (whose per-turn text
    byte-equality invariant, tests/test_text_invariant.py, forbids any
    text rewrite); it is an explicit corpus-preparation transform.
    """
    out_col = out_col or text_col
    red = F.col(text_col)
    n = F.lit(0)
    for tag, pat in PII_PATTERNS:
        n = n + F.regexp_count(red, F.lit(pat))
        red = F.regexp_replace(red, pat, f"[{tag}]")
    return docs.withColumn("n_pii", F.when(F.col(text_col).isNotNull(), n)).withColumn(
        out_col, red
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    key: str = "conv_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic, key-scoped train/val/test assignment.

    Every row with the same ``key`` lands in the same split — the unit is
    the conversation, not the turn, so multi-turn context never straddles
    an eval boundary (the classic transcript-corpus leakage bug). The
    assignment is a pure function of (key, seed): stable across runs,
    partitionings, and cluster sizes; re-running with the same seed on
    grown data keeps every previously-assigned key in its split (new keys
    fill in at the same ratios). One JVM column expression — no sampling
    state, no driver randomness.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative and non-empty")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    # uniform in [0, 1): first 32 bits of md5(key <US> seed), exact integer /
    # 2^32 (division by a power of two is exact IEEE). md5 over the UTF-8
    # bytes makes the assignment ENGINE-PORTABLE — any SQL engine reproduces
    # it verbatim (the DuckDB twin in the language_id driver slot gates it
    # exactly), which is what an eval split needs: auditable from the corpus
    # alone, no Spark-specific hash. (The previous xxhash64 form had no
    # DuckDB twin and an abs(Long.MIN_VALUE) sign edge — ADVICE r6; the hex
    # parse here is non-negative by construction.) Null keys get null splits.
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f", F.col(key).cast("string"), F.lit(str(seed))
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") / F.lit(float(1 << 32))
    names, accs = split_thresholds(weights)
    expr = None
    for name, acc in zip(names[:-1], accs):
        expr = (
            F.when(u < F.lit(acc), F.lit(name))
            if expr is None
            else expr.when(u < F.lit(acc), F.lit(name))
        )
    last = F.lit(names[-1])
    assigned = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, F.when(F.col(key).isNotNull(), assigned))


def split_thresholds(weights: dict[str, float]) -> tuple[list[str], list[float]]:
    """The exact cumulative thresholds :func:`split_assign` compares its
    uniform against, in assignment order — exposed so oracle twins (the
    ``language_id`` driver slot's DuckDB SQL) embed BIT-IDENTICAL float
    literals via ``repr`` instead of re-deriving them with a different
    accumulation order."""
    total = float(sum(weights.values()))
    names = list(weights)
    accs: list[float] = []
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        accs.append(acc)
    return names, accs


def dup_ngram_frac(arr: Column, k: int) -> Column:
    """Duplicate word-k-gram fraction of a token array: ``1 −
    distinct/total``, null when the array holds fewer than ``k`` tokens.

    THE shared kernel for the Gopher-style repetition signals — used by
    :func:`repetition_stats` and hash-gated through the ``quality_score``
    driver slot (queries.py), whose DuckDB twin transliterates exactly
    this: grams joined with single spaces, denominator the exact gram
    count ``n−k+1``, one IEEE division. Change it here and the oracle
    twin together or the hash gate fails.

    Mechanics: grams via ``transform`` over a position ``sequence`` (NB
    the HOF arity trap — the 1-param lambda receives the sequence
    element, which IS the position; ``element_at`` is 1-based). The
    sequence stop is clamped to 0 because ``sequence(0, negative)``
    THROWS even under a ``when()`` guard; the size guard then nulls the
    degenerate gram out.
    """
    n = F.size(arr)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(arr, i + j + 1) for j in range(k)]),
    )
    return F.when(
        n >= k, 1.0 - F.size(F.array_distinct(grams)).cast("double") / (n - k + 1)
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (the Gopher/CCNet quality rules):
    the fraction of duplicate lines and duplicate word n-grams (n=2,3)
    within each document. High values flag boilerplate, scraped templates,
    and degenerate generations for corpus filtering. Pure array/HOF column
    math (:func:`dup_ngram_frac`); empty and null texts pass through with
    null fractions (load-bearing nulls).
    """
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda ln: F.trim(ln) != ""
    )
    toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    n_lines = F.size(lines)
    return (
        docs.withColumn(
            "dup_line_frac",
            F.when(
                n_lines > 0,
                1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines,
            ),
        )
        .withColumn("dup_2gram_frac", dup_ngram_frac(toks, 2))
        .withColumn("dup_3gram_frac", dup_ngram_frac(toks, 3))
    )
