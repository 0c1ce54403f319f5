"""Text analysis operators for training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen); no Python UDFs. Each operator has a deterministic
definition so a DuckDB oracle can replicate it exactly (see
``__spark_entry__.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small function-word profile per language. Real pipelines would use
# char-n-gram profiles; marker words keep the operator fully JVM-side and
# oracle-checkable. Public-knowledge stopword lists.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "not"],
    "es": ["el", "la", "los", "las", "es", "y", "de", "que", "en", "no"],
    "fr": ["le", "la", "les", "et", "est", "de", "que", "en", "ne", "pas"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


# Engine-independent whitespace. Java regex \s is [ \t\n\x0B\f\r] while
# RE2 (DuckDB, the oracle engine) \s excludes \x0B — text containing a
# vertical tab would tokenize/normalize/redact differently across the
# two (ADVICE r05). The explicit class equals Java's \s exactly, so
# every Spark-side result is bit-identical to before; only the oracle
# side gains \x0B. Both engines accept \xhh inside a class.
WS_CHARS = r" \t\n\r\f\x0B"
WS_CLASS = rf"[{WS_CHARS}]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only text → empty array.

    Trims ALL leading/trailing whitespace by regex — ``F.trim`` strips
    only spaces, which would leave an empty first token (and corrupt
    every downstream n-gram/chunk/count) for tab- or newline-padded
    text. The DuckDB oracles replay the same
    ``regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
    '', 'g')`` trim (``WS_CLASS`` — engine-independent whitespace)."""
    trimmed = F.regexp_replace(text, rf"^{WS_CLASS}+|{WS_CLASS}+$", "")
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(trimmed, rf"{WS_CLASS}+"))


def normalized(text: Column) -> Column:
    """Lowercase + collapsed whitespace — the dedup canonical form."""
    return F.trim(F.regexp_replace(F.lower(text), rf"{WS_CLASS}+", " "))


def with_langid(df: DataFrame) -> DataFrame:
    """Marker-word language ID of ``text`` into ``lang_pred`` (and its
    score into ``lang_pred_score``); deterministic argmax with code
    tie-break.

    Scores = count of tokens in each language's function-word profile
    (zh additionally matches by contains since it is unsegmented).
    """
    toks = F.transform(tokens(F.col("text")), F.lower)
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = LANG_MARKERS[lang]
        if lang == "zh":
            score = F.aggregate(
                F.array(*[F.lit(m) for m in markers]), F.lit(0),
                lambda acc, m: acc + F.when(
                    F.contains(F.col("text"), m), 1).otherwise(0))
        else:
            arr = F.array(*[F.lit(m) for m in markers])
            score = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # argmax: max score wins; ties resolve to the *earliest* code, so invert
    # the lang ordering inside the comparator via array_sort on (-score, lang)
    best = F.array_sort(
        F.array(*scores),
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .when(a["lang"] < b["lang"], F.lit(-1))
        .when(a["lang"] > b["lang"], F.lit(1)).otherwise(F.lit(0)))[0]
    return (df.withColumn("lang_pred", best["lang"])
            .withColumn("lang_pred_score", best["score"]))


# Deterministic PII-shaped patterns, applied in dict order (URLs first so
# an address inside a URL is swallowed by <URL>, not double-counted).
# Conservative syntax (explicit character classes, no lookaround) chosen
# to behave identically under Java regex (Spark) and RE2-style engines
# (the DuckDB oracle replays these verbatim).
REDACTION_PATTERNS: dict[str, tuple[str, str]] = {
    "url": (rf"https?://[^{WS_CHARS}]+", "<URL>"),
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
}


def with_redactions(df: DataFrame, out: str = "redacted",
                    patterns: dict[str, tuple[str, str]] | None = None
                    ) -> DataFrame:
    """Scrub PII-shaped spans from ``text``: each pattern is counted
    on the CURRENT text (i.e. after earlier patterns already replaced
    their spans — so an email inside a URL counts once, as a URL) and
    then globally replaced by its placeholder. Adds one ``n_<name>``
    count column per pattern plus the fully-redacted ``out`` column.

    Entirely ``regexp_extract_all``/``regexp_replace`` built-ins —
    JVM-side, codegen, zero shuffles; the curation gate before any text
    leaves the pipeline. Order = dict insertion order (deterministic,
    replayable by the oracle).
    """
    patterns = REDACTION_PATTERNS if patterns is None else patterns
    taken = [out] + ["n_" + name for name in patterns]
    dupes = sorted({c for c in taken if taken.count(c) > 1})
    if dupes:
        raise ValueError(f"output column name(s) {dupes} collide among "
                         f"the outputs themselves")
    clashes = [c for c in taken if c in df.columns]
    if clashes:
        raise ValueError(f"output column(s) {clashes} already exist in "
                         f"the input; pass a different out=/patterns=")
    cur = F.col("text")
    counts: list[tuple[str, Column]] = []
    for name, (pat, repl) in patterns.items():
        counts.append(("n_" + name,
                       F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))))
        cur = F.regexp_replace(cur, pat, repl)
    res = df
    for cname, cexpr in counts:
        res = res.withColumn(cname, cexpr)
    return res.withColumn(out, cur)


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier
# ---------------------------------------------------------------------------

def token_bucket(tok: Column, n_buckets: int, seed: int) -> Column:
    """Deterministic feature bucket for a token: first 8 md5 hex chars of
    ``"b:<seed>:<token>"`` as a 32-bit integer, mod ``n_buckets`` — the
    hashing-trick feature map (Weinberger et al. 2009), reproducible in
    any engine with md5 (the DuckDB oracles replay it with strpos hex
    arithmetic, the ``hash_uniform`` pattern)."""
    h = F.md5(F.concat(F.lit(f"b:{seed}:"), tok))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(n_buckets))


def _hashed_weight(bucket: Column, seed: int) -> Column:
    """Deterministic pseudo-weight in [-1, 1) for a bucket id: the md5
    uniform of ``"w:<seed>:<bucket>"`` stretched to [-1, 1). Stands in
    for a trained weight vector when none is supplied — the score is
    then a fixed random projection of the hashed bag-of-words, useful
    as a deterministic pipeline placeholder and for tests."""
    h = F.md5(F.concat(F.lit(f"w:{seed}:"), bucket.cast("string")))
    u = (F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
         / F.lit(float(1 << 32)))
    return u * 2.0 - 1.0


def with_classifier_score(df: DataFrame, n_buckets: int = 1 << 16,
                          seed: int = 0, weights: DataFrame | None = None,
                          broadcast_weights: bool = True) -> DataFrame:
    """Score every document's ``text`` into ``clf_score`` with a linear
    model over hashing-trick
    bag-of-words features — the fastText-style quality-classifier
    filter of LLM curation pipelines (GPT-3 §2.2 / CCNet-style; no
    reference counterpart — engine-side operator):

        score = sigmoid(mean over tokens of weight[bucket(token)])

    With ``weights=None`` the weight vector is the deterministic
    md5-derived pseudo-random projection of :func:`_hashed_weight` —
    a reproducible placeholder (plumbing, tests, oracles). Pass a
    trained model as a ``weights`` DataFrame (``bucket``, ``weight``);
    missing buckets weigh 0.

    Empty or whitespace-only text has no tokens: mean := 0 → score 0.5.
    NULL text → NULL score.

    Scale shape at 100 TB: the hashed path is ZERO-shuffle — tokenize /
    bucket / weight / mean / sigmoid are all Catalyst expressions
    (transform + aggregate over the token array, whole-stage codegen).
    The trained path explodes tokens and joins the weight vector —
    broadcast by default (a 2^16..2^21-bucket model is a few MB);
    ``broadcast_weights=False`` for a hash join — then re-aggregates
    one mean per document keyed by ``doc_id``: one shuffle of (id,
    weight-sum) partials, map-side combined, plus the join back.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if "clf_score" in df.columns:
        raise ValueError("output column 'clf_score' already exists in "
                         "the input")

    toks = tokens(F.col("text"))
    if weights is None:
        wts = F.transform(
            toks, lambda t: _hashed_weight(
                token_bucket(t, n_buckets, seed), seed))
        logit = F.when(
            F.size(toks) > 0,
            F.aggregate(wts, F.lit(0.0), lambda a, x: a + x)
            / F.size(toks)).otherwise(
                F.when(F.size(toks) == 0, F.lit(0.0)))
        return df.withColumn("clf_score", F.lit(1.0)
                             / (F.lit(1.0) + F.exp(-logit)))

    wdf = weights.select(F.col("bucket").cast("long").alias("__bkt"),
                         F.col("weight").cast("double").alias("__wt"))
    if broadcast_weights:
        wdf = F.broadcast(wdf)
    tok_rows = df.select(
        F.col("doc_id"),
        F.explode(toks).alias("__tok")).withColumn(
            "__bkt", token_bucket(F.col("__tok"), n_buckets, seed))
    scored = (tok_rows
              .join(wdf, "__bkt", "left")
              .groupBy("doc_id")
              .agg((F.sum(F.coalesce(F.col("__wt"), F.lit(0.0)))
                    / F.count(F.lit(1))).alias("__logit"))
              .select(F.col("doc_id").alias("__cs_id"), "__logit"))
    # empty-token docs never explode a row: logit 0 via coalesce;
    # NULL text also never explodes — distinguished by text NULLness
    logit = F.when(F.col("text").isNotNull(),
                   F.coalesce(F.col("__logit"), F.lit(0.0)))
    return (df.join(scored, df["doc_id"] == F.col("__cs_id"), "left")
            .withColumn("clf_score",
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)))
            .drop("__cs_id", "__logit"))


# Gopher rule-filter function words (Rae et al. 2021, Appendix A1.1).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with")


def with_gopher_rules(df: DataFrame) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021, arXiv:2112.11446
    Appendix A1.1) over ``text``: the rule-based pre-filter every large
    text pipeline runs before model-based scoring. Flags, never drops —
    callers filter on ``gopher_keep``.

    Rules (each surfaced as its own signal column):
    - word count in [50, 100 000];
    - mean word length in [3, 10];
    - symbol-to-word ratio ('#'/'...'/ellipsis per word) <= 0.1;
    - fraction of lines starting with a bullet <= 0.9 and ending with
      an ellipsis <= 0.3;
    - fraction of words containing an alphabetic char >= 0.8;
    - >= 2 DISTINCT function words from GOPHER_STOPWORDS.

    Everything is built-in JVM expressions over one tokenization and one
    line split — a single narrow projection, zero shuffles, fully
    pushdown/codegen-friendly; at 100 TB this is a map stage. Rule
    comparisons run on exact int/int IEEE divisions (engine-identical);
    only the SURFACED ratios are rounded to 6 decimals, so the DuckDB
    oracle replays every boundary bit-for-bit.
    """
    text = F.col("text")
    toks = tokens(text)
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_len = F.when(n_words > 0, sum_len / n_words).otherwise(F.lit(0.0))
    n_sym = F.size(F.regexp_extract_all(
        text, F.lit(r"#|\.\.\.|…"), F.lit(0)))
    sym_ratio = F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))

    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"^[ \t]*[-*•]")))
    n_ellip = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"(\.\.\.|…)[ \t]*$")))
    bullet_frac = F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0))
    ellip_frac = F.when(n_lines > 0, n_ellip / n_lines).otherwise(F.lit(0.0))

    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.transform(toks, F.lower), stop))

    # The thresholds of Rae et al. 2021, Appendix A1.1.
    keep = ((n_words >= 50) & (n_words <= 100_000)
            & (mean_len >= 3.0) & (mean_len <= 10.0)
            & (sym_ratio <= 0.1)
            & (bullet_frac <= 0.9)
            & (ellip_frac <= 0.3)
            & (alpha_frac >= 0.8)
            & (stop_hits >= 2))
    return (df.withColumn("n_words", n_words)
            .withColumn("mean_word_len", F.round(mean_len, 6))
            .withColumn("symbol_ratio", F.round(sym_ratio, 6))
            .withColumn("bullet_frac", F.round(bullet_frac, 6))
            .withColumn("ellipsis_frac", F.round(ellip_frac, 6))
            .withColumn("alpha_frac", F.round(alpha_frac, 6))
            .withColumn("stop_hits", stop_hits)
            .withColumn("gopher_keep", keep))
