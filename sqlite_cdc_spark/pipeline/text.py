"""Text analysis operators (SURVEY.md §2 B21).

Language-ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting over a ``documents``-shaped table. Everything is
built-in string/array expressions — codegen'd, shuffle-free per row — and
every scoring rule is reproducible in plain SQL for the DuckDB oracle.

Fingerprints use md5 (stable across engines and runs, unlike hash/xxhash64
which are Spark-specific).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text
from ..sqlident import bq

#: Tiny embedded stopword lists — enough signal for a deterministic
#: heuristic; the point is the operator shape, not lexical coverage.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "para", "que"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: a GPT-2-style pre-tokenizer regex (word
    pieces, digit runs, punctuation runs) — a cheap, deterministic proxy
    for BPE token counts when no tokenizer model is shipped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), 0)
    ).cast("bigint")


# r17 construction pass 2 (guide §4 applied to the driver boundary):
# the helpers below take a column NAME and render their expression trees
# as SQL strings parsed once in the JVM. The Column form they replaced
# built the stopword literal arrays and the lang-id argmax CASE chain
# node-by-node over py4j — several hundred round-trips per
# quality_features/lang_id call, re-paid on every bench rebuild of
# every capstone. The parsed trees are identical (Column reuse in the
# old form COPIED each referenced subtree, exactly like the string
# form's textual repetition; double literals carry the D suffix so they
# parse as DOUBLE like F.lit(float), not DECIMAL) — every consumer
# re-gated bit-exact against the DuckDB oracle.


def _normalize_sql(col: str) -> str:
    """SQL-string twin of :func:`..dedup.normalize_text`."""
    return f"trim(regexp_replace(lower({bq(col)}), '[^a-z0-9]+', ' '))"


def _tokens_sql(col: str) -> str:
    return f"split({_normalize_sql(col)}, ' ')"


def _stopword_hits_sql(col: str, lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"cast(size(filter({_tokens_sql(col)},"
        f" t -> array_contains(array({arr}), t))) as bigint)"
    )


def stopword_hits(col: str, lang: str) -> Column:
    """Number of tokens (with multiplicity) found in ``lang``'s stopword
    list — ``filter``/``array_contains``, not ``array_intersect`` (which
    would dedup and undercount)."""
    return F.expr(_stopword_hits_sql(col, lang))


def lang_scores(col: str) -> dict[str, Column]:
    return {lang: stopword_hits(col, lang) for lang in STOPWORDS}


def lang_id(col: str) -> Column:
    """Deterministic language guess: argmax stopword-hit rate, ties broken
    by language code order, 'und' (undetermined) when nothing hits.

    GROWTH NOTE (r17 ADVICE): each iteration embeds the running
    ``best_score`` CASE text twice (and the language's stopword-hits
    expression twice), so the rendered SQL is O(2^n) in the language
    count. Fine at the current 4 languages (~10 KB); if ``STOPWORDS``
    grows past ~8 entries, restructure as a linear argmax (e.g.
    ``array_max`` over ``struct(score, lang)`` with the tie order
    encoded) instead of extending this chain."""
    best_lang = "'und'"
    best_score = "cast(0 as bigint)"
    for lang in sorted(STOPWORDS):  # later langs win only on strict >
        s = _stopword_hits_sql(col, lang)
        is_better = f"({s}) > ({best_score})"
        best_lang = f"case when {is_better} then '{lang}' else {best_lang} end"
        best_score = f"case when {is_better} then {s} else {best_score} end"
    return F.expr(best_lang)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals (all bigint/double, oracle-friendly):
    char/token counts, mean token length, alpha & space & punct ratios,
    stopword ratio (en), and a composite ``quality_score`` in [0,1].
    """
    # r17 construction pass 2: SQL-string form (see the note above the
    # _sql helpers) — ~500 py4j round-trips per call down to 8 parses
    c = bq(text_col)
    n_chars = f"cast(length({c}) as bigint)"
    n_tokens = f"cast(size({_tokens_sql(text_col)}) as bigint)"
    alpha = f"cast(length(regexp_replace({c}, '[^A-Za-z]', '')) as bigint)"
    spaces = f"cast(length(regexp_replace({c}, '[^ ]', '')) as bigint)"
    punct = (
        f"{n_chars} - {alpha} - {spaces}"
        f" - cast(length(regexp_replace({c}, '[^0-9]', '')) as bigint)"
    )
    sw = _stopword_hits_sql(text_col, "en")
    mean_tok_len = (
        f"round(cast({n_chars} - {spaces} as double)"
        f" / cast(greatest({n_tokens}, 1) as double), 6)"
    )
    alpha_ratio = (
        f"round(cast({alpha} as double)"
        f" / cast(greatest({n_chars}, 1) as double), 6)"
    )
    punct_ratio = (
        f"round(cast({punct} as double)"
        f" / cast(greatest({n_chars}, 1) as double), 6)"
    )
    sw_ratio = (
        f"round(cast({sw} as double)"
        f" / cast(greatest({n_tokens}, 1) as double), 6)"
    )
    # bounded composite: long-enough, wordy, low-punct documents score high
    score = (
        f"round(least(cast({n_tokens} as double) / 50.0D, 1.0D) * 0.4D"
        f" + {alpha_ratio} * 0.4D"
        f" + least({sw_ratio} * 5.0D, 1.0D) * 0.2D, 6)"
    )
    return df.selectExpr(
        "*",
        f"{n_chars} as q_chars",
        f"{n_tokens} as q_tokens",
        f"{mean_tok_len} as q_mean_tok_len",
        f"{alpha_ratio} as q_alpha_ratio",
        f"{punct_ratio} as q_punct_ratio",
        f"{sw_ratio} as q_stopword_ratio",
        f"{score} as quality_score",
    )


def quality_gate(
    df: DataFrame,
    group_col: str = "lang",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
    drop_bottom: float = 0.25,
) -> DataFrame:
    """Per-group percentile gating: drop each group's bottom
    ``drop_bottom`` quantile by ``score_col`` — the standard per-language
    quality filter (absolute thresholds don't transfer across languages;
    percentile ones do).

    The drop is COUNT-based, not rank-threshold-based: each group loses
    exactly ``floor(n * drop_bottom)`` rows (its lowest-scored ones), so
    small groups are never over-punished — a 1-row group keeps its row
    (``floor(0.25) == 0``) and a 2-row group keeps both, where a
    ``percent_rank >= drop_bottom`` gate would wrongly drop every
    singleton (percent_rank 0) and half of every pair. That matters for
    exactly the low-resource languages this per-group gate exists to
    protect. ``row_number``/``count`` are integer arithmetic over a
    TOTAL order (score, then id tie-break), so the kept set is
    deterministic and replays identically on any engine. One shuffle on
    the group key; no global sort — both window frames share one
    ordered Window exec. ``pctile`` (exact percent_rank) is still
    emitted for reporting.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    wn = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        df.withColumn("pctile", F.round(F.percent_rank().over(w), 6))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .filter(
            F.col("__rn") > F.floor(F.col("__n") * F.lit(float(drop_bottom)))
        )
        .drop("__rn", "__n")
    )


# --- PII scrubbing (training-pipeline hygiene) -------------------------------

#: deliberately simple character-class patterns: identical semantics under
#: Java regex (Spark) and RE2 (DuckDB/Trino) — no lookarounds, no backrefs
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9()\- ]{6,}[0-9]",
}
PII_TOKENS = {"email": "[EMAIL]", "ipv4": "[IP]", "phone": "[PHONE]"}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-class PII match counts (bigint) — the audit side of scrubbing."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("bigint")
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its class token — email first (its
    local part can contain digits that the phone pattern would then
    mangle), then IP, then phone. Pure ``regexp_replace`` chain: codegen,
    shuffle-free, and byte-identical across engines."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in ("email", "ipv4", "phone"):
        c = F.regexp_replace(c, PII_PATTERNS[kind], PII_TOKENS[kind])
    return c


# --- repetition / Gopher-style quality rules ---------------------------------


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: total/distinct token
    counts, top-token frequency ratio, and duplicate-2-gram ratio — the
    standard web-corpus filters for boilerplate and degenerate text
    (Gopher §A1.1, C4's repetition rules).

    Scale formulation: tokens as ROWS (explode → two keyed aggregations),
    never per-row higher-order lambdas — the same shuffle budget as any
    word-count, so it runs at corpus scale. Ratios are exact divisions of
    exact counts (oracle-friendly doubles, rounded to 6)."""
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok")
    )
    per_tok = toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tok_stats = per_tok.groupBy("doc").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    c = normalize_text(text_col)
    toks2 = df.select(F.col(id_col).alias("doc"), F.posexplode(F.split(c, " ")).alias("pos", "tok"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc").orderBy("pos")
    grams = toks2.select(
        "doc",
        F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias("g"),
        F.lead("tok", 1).over(w).isNotNull().alias("__full"),
    ).filter(F.col("__full"))
    gram_stats = (
        grams.groupBy("doc", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc")
        .agg(
            F.sum("cnt").alias("n_2grams"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_2grams"
            ),
        )
    )
    out = tok_stats.join(gram_stats, "doc", "left")
    return out.select(
        F.col("doc").alias(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("distinct_ratio"),
        F.round(
            F.col("top_cnt").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("top_token_ratio"),
        F.round(
            F.coalesce(F.col("dup_2grams"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_2grams"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_2gram_ratio"),
    )


def fingerprint(col: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the normalized text (engine- and
    run-stable; use for idempotent dedup keys in sinks)."""
    return F.md5(normalize_text(col))


def rolling_fingerprints(col: Column | str, window_tokens: int = 16, stride: int = 8) -> Column:
    """Windowed fingerprints: md5 per token window (stride-spaced) — the
    building block for fuzzy containment / plagiarism-style matching.
    Returns an array of hex digests."""
    toks = tokens(col)
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0),
        F.greatest((n - F.lit(window_tokens)) / F.lit(stride), F.lit(0)).cast("int"),
    )
    return F.transform(
        starts,
        lambda i: F.md5(F.array_join(F.slice(toks, i * stride + 1, window_tokens), " ")),
    )


def fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window_tokens: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Row-form rolling fingerprints — the whole-stage-codegen path.

    Output-identical to ``explode(rolling_fingerprints(...))`` (one row
    per stride-spaced window: ``(id_col, win_idx, fp)``), but built from
    an explode of the stride-spaced START positions + in-row array
    indexing (``get`` — NULL past the end, dropped by ``concat_ws``,
    matching the truncated ``slice``) instead of a ``transform()``
    lambda — higher-order-function lambdas run interpreted per element
    (PERF.md). r17 (guide §2.4): the previous row form posexploded
    EVERY token and built windows with ``lead`` over a (doc, pos)
    window — one corpus-wide exchange + sort before any consumer, and
    ``stride``× more generator rows than windows. This form explodes
    only ``sequence(0, max_start_idx)`` and reads tokens from the
    in-row array, so the operator is shuffle-free and generates exactly
    one row per emitted window. Start positions replicate the array
    form exactly: every ``stride``-th position up to
    ``n - window_tokens``, plus position 0 for docs shorter than one
    window.
    """
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            (F.size(F.col("__toks")) - window_tokens) / stride, F.lit(0)
        ).cast("int"),
    )
    ex = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        "__toks",
        # NULL-text guard: greatest(NULL, 0) is 0, which would emit a
        # phantom pos-0 window for NULL docs — the explode(NULL) of the
        # guarded form emits nothing, matching the posexplode(NULL) of
        # the window form this replaces
        F.explode(F.when(F.col("__toks").isNotNull(), starts)).alias("__i"),
    )
    # r17 construction pass 2 (guide §4 applied to the driver): the
    # window parts were built as window_tokens F.get Columns — ~34 py4j
    # round-trips each, 544 per build, paid again on every bench rebuild.
    # One parsed SQL string is the identical tree (get/ concat_ws/ md5
    # map 1:1; int literals parse as INT exactly like F.lit).
    parts_sql = ", ".join(
        f"get(__toks, __i * {stride} + {i})" for i in range(window_tokens)
    )
    return ex.selectExpr(
        bq(id_col),
        "cast(__i as bigint) as win_idx",
        f"md5(concat_ws(' ', {parts_sql})) as fp",
    )


def chunk_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 16,
    overlap: int = 4,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the training/RAG prep
    step that splits documents into ``chunk_tokens``-token windows every
    ``chunk_tokens - overlap`` tokens. Emits ``(id_col, chunk_idx,
    chunk_text, n_tok)``.

    Same whole-stage-codegen, shuffle-free shape as
    :func:`fingerprint_rows` (r17, guide §2.4): explode only the chunk
    START positions and read tokens from the in-row array with ``get``
    — no interpreted lambdas, no (doc, pos) window exchange, exactly
    one generator row per emitted chunk. A trailing window that adds no
    new tokens beyond the previous chunk's coverage (start + overlap ≥
    doc length) is suppressed; position 0 always emits so short docs
    yield exactly one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")

    stride = chunk_tokens - overlap
    n = F.size(F.col("__toks"))
    # largest start index i with i·stride + overlap < n (position 0
    # always emits): i_max = floor((n − overlap − 1) / stride), clamped
    # at 0 — double division + int cast truncates toward zero, and the
    # clamp handles the negative short-doc case
    starts = F.sequence(
        F.lit(0),
        F.greatest((n - overlap - 1) / stride, F.lit(0)).cast("int"),
    )
    ex = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        "__toks",
        # NULL-text guard — see fingerprint_rows
        F.explode(F.when(F.col("__toks").isNotNull(), starts)).alias("__i"),
    )
    # r17 construction pass 2: one parsed SQL string instead of
    # chunk_tokens F.get Columns — identical tree, see fingerprint_rows
    parts_sql = ", ".join(
        f"get(__toks, __i * {stride} + {i})" for i in range(chunk_tokens)
    )
    return ex.selectExpr(
        bq(id_col),
        "cast(__i as bigint) as chunk_idx",
        f"concat_ws(' ', {parts_sql}) as chunk_text",
        f"cast(least({chunk_tokens}, size(__toks) - (__i * {stride}))"
        " as bigint) as n_tok",
    )


def lexical_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document lexical-diversity profile: ``(id, n_tokens, n_types,
    ttr, token_entropy)`` — type-token ratio and Shannon entropy of the
    token distribution. Low-entropy/low-TTR docs are boilerplate and
    keyword-stuffed SEO spam; this is the distributional cousin of the
    surface repetition rules (repetition_features) and a standard
    data-quality gate signal.

    Shape: one explode + (doc, token) count agg + per-doc agg — integer
    counts all the way to the final ln, whose output is ``round(..., 6)``
    (ln differs by ≤1 ulp across engines — see the verify notes). Empty
    docs (no tokens after normalization) yield n_tokens=0 with NULL
    ttr/entropy rather than dropping out.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(tokens(text_col), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    per_tok = toks.groupBy("doc", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    prof = per_tok.groupBy("doc").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        # -sum(c/T ln(c/T)) = ln(T) - sum(c ln c)/T : one pass, exact
        # integer c and T feeding exactly two ln call sites
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double"),
            6,
        ).alias("token_entropy"),
    ).withColumn(
        "ttr",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6),
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(prof, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias("n_tokens"),
            F.coalesce(F.col("n_types"), F.lit(0).cast("bigint")).alias("n_types"),
            "ttr",
            "token_entropy",
        )
    )


def corpus_counters(
    df: DataFrame, group_cols: Sequence[str] = ("source", "lang")
) -> DataFrame:
    """Per-group corpus accounting — doc and token counts keyed by
    ``group_cols`` (the B24 reporting row every curation build ships).
    One partial+final keyed agg; ``sum_tok`` uses :func:`token_count`.
    """
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("sum_tok"),
    )


def update_corpus_counters(
    state: DataFrame,
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    group_cols: Sequence[str] = ("source", "lang"),
) -> DataFrame:
    """Incrementally maintain :func:`corpus_counters` under a CDC batch
    (an UPDATE is its before-image in ``deletes`` plus its after-image
    in ``inserts``) — the counter leg of the probe→merge→append loop,
    cost ∝ batch + touched groups, never a corpus recount. Groups whose
    ``n_docs`` falls to 0 drop out, so
    ``update_corpus_counters(corpus_counters(D), ins, del) ==
    corpus_counters(D ∪ ins − del)`` exactly (tested invariant —
    streaming foreachBatch parity in test_streaming)."""
    gc = list(group_cols)
    parts = []
    if inserts is not None:
        parts.append(corpus_counters(inserts, gc))
    if deletes is not None:
        parts.append(
            corpus_counters(deletes, gc).select(
                *gc,
                (-F.col("n_docs")).alias("n_docs"),
                (-F.col("sum_tok")).alias("sum_tok"),
            )
        )
    if not parts:
        return state
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p)
    delta = delta.groupBy(*gc).agg(
        F.sum("n_docs").alias("__dd"), F.sum("sum_tok").alias("__dt")
    )
    return (
        state.join(delta, gc, "full_outer")
        .select(
            *gc,
            (
                F.coalesce(F.col("n_docs"), F.lit(0))
                + F.coalesce(F.col("__dd"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_docs"),
            (
                F.coalesce(F.col("sum_tok"), F.lit(0))
                + F.coalesce(F.col("__dt"), F.lit(0))
            )
            .cast("bigint")
            .alias("sum_tok"),
        )
        .filter(F.col("n_docs") > 0)
    )


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, the
    MOSS algorithm) — the GUARANTEED-coverage alternative to
    stride-spaced fingerprints (:func:`fingerprint_rows`): hash every
    ``k``-gram, slide a ``window`` of consecutive hashes, select each
    window's minimum (rightmost on ties), dedupe selections. The
    guarantee stride sampling lacks: any shared token run of
    ``window + k - 1`` or longer ALWAYS shares a selected fingerprint,
    while expected density stays 2/(window+1).

    Plan shape (100 TB story, r17 — guide §2.4): per doc, ONE k-gram
    hash array built in-row (``transform`` over the start ``sequence``,
    indexing the token array with ``get`` — one md5 per gram, exactly
    like the row form this replaces); then ONE explode of the window
    START positions, each reading its ``window`` hashes back out of the
    in-row array (``get``, codegen), taking the window min with
    ``least`` (NULL-skipping: ``get`` past the array end is NULL, so
    short docs' truncated windows resolve for free) and the
    rightmost-argmin with a highest-offset-first CASE chain — then one
    distinct. The previous form paid a (doc, pos) window exchange +
    sort for the gram rows, a SECOND window pass for the frame min,
    and a (doc, pos) equi-join for the argmin — three shuffles and a
    per-doc-window skew hazard (a giant doc serialized into one window
    task); this form's only exchange is the final distinct. The
    ``transform`` lambda runs interpreted, but its body is one md5 —
    measured 2× FASTER end-to-end than both the window form and a
    pure-codegen variant that recomputed each gram hash per start
    (sf0.1 interleaved A/B; md5 dominates interpretation overhead).
    Everything is integer/md5 arithmetic, so a SQL engine replays
    selections bit-for-bit.

    Output: one row per selected fingerprint ``(id_col, pos, fp)``.
    """
    # r17 construction pass 2 (guide §4, driver side): every expression
    # below is rendered as a SQL string parsed once in the JVM — the
    # Column form built the k-gram lambda body, the per-offset hash
    # reads and the argmin CASE chain node-by-node over py4j (~700
    # round-trips per build, on every bench rebuild). The parsed trees
    # are identical (Column reuse in the old form COPIED the subtree
    # per reference, exactly like the string form's textual repetition),
    # so selections replay bit-for-bit — re-gated against the oracle.
    toks = tokens(text_col)
    # gram positions are 0..ng−1 (ng = n−k+1 full grams; short docs
    # keep their single truncated gram at pos 0, mirroring
    # fingerprint_rows' short-doc rule)
    ng = f"greatest(size(__toks) - {k - 1}, 1)"
    # window starts: every full-width window, or the single all-grams
    # window when the doc has fewer grams than one window
    n_starts = f"greatest({ng} - {window - 1}, 1)"
    gram = "concat_ws(' ', {})".format(
        ", ".join(f"get(__toks, p + {i})" for i in range(k))
    )
    gram_h = (
        f"cast(conv(substring(md5({gram}), 1, 15), 16, 10) as bigint)"
    )
    base = df.select(F.col(id_col), toks.alias("__toks")).selectExpr(
        bq(id_col),
        f"transform(sequence(0, cast({ng} as int) - 1), p -> {gram_h})"
        " as __h",
        # NULL-text guard — see fingerprint_rows. greatest() SKIPS
        # nulls, so n_starts alone would read 1 for a NULL text; the
        # explicit isNotNull gate makes __ns NULL and the explode below
        # emit nothing, like posexplode over a NULL array
        "case when __toks is not null then"
        f" cast({n_starts} as int) end as __ns",
    )
    ex = base.selectExpr(
        bq(id_col),
        "__h",
        "explode(sequence(0, __ns - 1)) as __s",
    )
    hashes = [f"get(__h, __s + {j})" for j in range(window)]
    wm = f"least({', '.join(hashes)})" if window > 1 else hashes[0]
    # rightmost position whose hash equals the window min: test the
    # highest offset first; NULL hashes compare NULL → fall through
    if window > 1:
        whens = " ".join(
            f"when {hashes[j]} = {wm} then __s + {j}"
            for j in range(window - 1, 0, -1)
        )
        pick = f"case {whens} else __s end"
    else:
        pick = "__s"
    return ex.selectExpr(
        bq(id_col),
        f"{pick} as pos",
        f"{wm} as fp",
    ).distinct()


def winnow_pair_screen(
    fps: DataFrame,
    id_col: str,
    fp_col: str = "fp",
    min_shared: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """Pair screen over winnowed fingerprints: doc pairs sharing at
    least ``min_shared`` selected fingerprints, with the shared count.

    Hot-fingerprint cap (VERDICT r10 item 4): winnowing selects
    per-window MINIMUM hashes, which systematically favors globally
    small hash values — a common k-gram with a small hash is selected
    in nearly every document containing it, so its posting list is
    O(corpus) and an uncapped self-join would emit O(postings²) pairs
    on that single skewed key. MOSS-family systems drop high-frequency
    fingerprints for exactly this reason (they are boilerplate, not
    plagiarism). Here any fingerprint appearing in more than
    ``max_df`` documents is EXCLUDED before the self-join, bounding
    per-key fan-out at ``max_df²`` — the same guard
    ``b30_inverted_index`` applies via max_df and
    ``b30_link_prediction`` via its 64-degree cap.

    Recall consequence (documented, deliberate): a verbatim run shared
    by MORE than ``max_df`` documents produces no pairs from its
    fingerprints; a pair is still reported if it also shares
    ``min_shared`` rarer fingerprints. Oracles must replay the cap.

    Plan shape: one fp-keyed count agg + an fp equi-join back (both
    hash-partition on fp, co-partitioned — no extra shuffle), then the
    capped fp self-join and a pair-keyed count agg. No cartesian, no
    broadcast of corpus-sized sides. r17: the distinct fingerprint
    relation is localCheckpoint'd once — it is referenced three times
    through structurally different shapes (the df count, and each side
    of the self-join), and each lazy reference re-ran the caller's
    whole fingerprint pipeline (measured: 16 parquet scans in the
    b19_winnow_pairs plan, 4 after; the relation itself is (id, fp)
    metadata, a fraction of the text it derives from).
    """
    base = (
        fps.select(F.col(id_col), F.col(fp_col).alias("fp"))
        .distinct()
        .localCheckpoint()
    )
    df_per_fp = base.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    kept = base.join(
        df_per_fp.filter(F.col("__df") <= max_df).select("fp"), "fp"
    )
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b.hint("shuffle_hash"), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
