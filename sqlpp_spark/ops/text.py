"""Text-analysis operators for training-data pipelines: token counting,
language ID, quality scoring, fingerprinting.

Everything is built from JVM-side ``pyspark.sql.functions`` (regex +
string ops inside whole-stage codegen) — no Python in the hot path, so
the operators scale linearly with executors and push column pruning to
the parquet scan. Each has an exact DuckDB-SQL twin for the driver's
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqlpp_spark.ops.hashing import hash64

# Tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic. Real pipelines swap in fastText etc. via a Pandas
# UDF; the heuristic keeps the operator JVM-side and deterministic.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
}

_WS = r"\\s+"


def normalize_text(c: Column) -> Column:
    """lowercase + collapse whitespace — the canonical form used by
    exact dedup and fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


NORMALIZE_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"


def token_count(c: Column) -> Column:
    """Whitespace token count (codegen'd split, no UDF)."""
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    ).cast("bigint")


TOKEN_COUNT_SQL = (
    "CAST(CASE WHEN length(trim({c})) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim({c}), '\\s+')) END AS BIGINT)"
)


def word_token_count(c: Column) -> Column:
    """BPE-ish token estimate: alpha runs, digit runs, and individual
    punctuation each count as one token."""
    pattern = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0)).cast("bigint")


WORD_TOKEN_COUNT_SQL = (
    "CAST(len(regexp_extract_all({c}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
)


def _count_word(c: Column, w: str) -> Column:
    # occurrences of word w with word boundaries
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(rf"\b{w}\b"), 0))


def _count_word_sql(c: str, w: str) -> str:
    return f"len(regexp_extract_all(lower({c}), '\\b{w}\\b'))"


# r19 (opt round, guide §1.2 "per-task work"): ONE alternation regex
# pass extracts every marker occurrence; per-word counts become cheap
# array filters over the (short) match array instead of 11 independent
# full-text regex scans. Counts are bit-identical to the per-word
# scans: the markers are \b-delimited whole words, so every match is a
# complete \w-run equal to exactly one marker — matches can never
# overlap and the fused scan finds precisely the union of the per-word
# matches (measured ~2x on sf0.1 documents; equality pinned in
# tests/test_ops.py::test_marker_fusion_counts_identical).
_MARKER_ALTERNATION_RE = (
    r"\b("
    + "|".join(
        sorted({w for ws in LANG_MARKERS.values() for w in ws},
               key=lambda w: (-len(w), w))
    )
    + r")\b"
)


def _marker_matches(c: Column) -> Column:
    """Array of all marker-word occurrences (one regex pass)."""
    return F.regexp_extract_all(F.lower(c), F.lit(_MARKER_ALTERNATION_RE), 1)


def _count_in(arr: Column, w: str) -> Column:
    return F.size(F.filter(arr, lambda x: x == F.lit(w)))


def lang_scores(c: Column) -> dict[str, Column]:
    arr = _marker_matches(c)
    # per-language score = tokens matching that language's marker set
    # (each array element equals exactly one marker, and a language's
    # markers are distinct, so the isin-filter size equals the sum of
    # the per-word counts). The repeated `arr` subexpression is
    # evaluated once per row by codegen subexpression elimination.
    def _lang_count(words: list[str]) -> Column:
        ws = tuple(words)
        return F.size(F.filter(arr, lambda x: x.isin(*ws)))

    return {lang: _lang_count(words) for lang, words in LANG_MARKERS.items()}


def lang_id(c: Column) -> Column:
    """argmax over marker-word counts; ties break by language name
    order; all-zero scores → 'und' (undetermined)."""
    scores = lang_scores(c)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores):  # deterministic tie-break
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def lang_id_sql(c: str) -> str:
    parts = []
    for lang, words in sorted(LANG_MARKERS.items()):
        score = " + ".join(_count_word_sql(c, w) for w in words)
        parts.append((lang, f"({score})"))
    # fold in the same order with the same strict > comparison
    expr_lang, expr_score = "'und'", "0"
    for lang, score in parts:
        expr_lang = f"CASE WHEN {score} > {expr_score} THEN '{lang}' ELSE {expr_lang} END"
        expr_score = f"CASE WHEN {score} > {expr_score} THEN {score} ELSE {expr_score} END"
    return expr_lang


def quality_score(c: Column) -> Column:
    """Heuristic quality in [0,1]: length band + punctuation ratio +
    stopword presence + mean word length band. Computed in exact
    integer/decimal arithmetic then fixed-point scaled, so Spark and
    DuckDB agree bit-for-bit."""
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    # total marker occurrences summed per (language, word) pair — a
    # word listed by two languages counts twice, exactly like the
    # per-word-scan sum it replaces (one fused pass, see
    # _MARKER_ALTERNATION_RE above)
    arr = _marker_matches(c)
    n_stop = F.size(arr)
    _mult: dict[str, int] = {}
    for ws in LANG_MARKERS.values():
        for w in ws:
            _mult[w] = _mult.get(w, 0) + 1
    for w, m in sorted(_mult.items()):
        if m > 1:
            n_stop = n_stop + F.lit(m - 1) * _count_in(arr, w)
    len_ok = (n_chars >= 50) & (n_chars <= 10000)
    punct_ok = n_punct * 10 <= n_chars  # <=10% punctuation
    stop_ok = n_stop > 0
    mean_wl_ok = (n_tokens > 0) & (n_chars <= n_tokens * 12)
    score = (
        len_ok.cast("int") + punct_ok.cast("int")
        + stop_ok.cast("int") + mean_wl_ok.cast("int")
    )
    return (score.cast("double") / F.lit(4.0)).alias("quality")


def quality_score_sql(c: str) -> str:
    n_chars = f"length({c})"
    n_tokens = TOKEN_COUNT_SQL.format(c=c)
    n_punct = f"len(regexp_extract_all({c}, '[^\\w\\s]'))"
    n_stop = " + ".join(
        _count_word_sql(c, w) for ws in LANG_MARKERS.values() for w in ws
    )
    return (
        f"(CAST(({n_chars} >= 50 AND {n_chars} <= 10000)::INT"
        f" + ({n_punct} * 10 <= {n_chars})::INT"
        f" + (({n_stop}) > 0)::INT"
        f" + ({n_tokens} > 0 AND {n_chars} <= {n_tokens} * 12)::INT AS DOUBLE) / 4.0)"
    )


def fingerprint(c: Column) -> Column:
    """64-bit-ish document fingerprint: hash of the normalized text.
    (Rolling/shingled variants live in dedup.py via minhash.)"""
    return hash64(normalize_text(c))


# -- rolling-hash fingerprint (winnowing-style) ------------------------------

ROLL_K = 8  # character k-gram width
ROLL_B = 257  # polynomial base
ROLL_M = (1 << 31) - 1  # Mersenne modulus keeps arithmetic in int64


def rolling_hashes(c: Column, k: int = ROLL_K) -> Column:
    """Array of polynomial rolling hashes over character k-grams of the
    normalized text: h_i = sum(code(ch_{i+j}) * B^(k-1-j)) mod M.
    Computed entirely JVM-side (transform over a substring window) —
    per-row cost O(len·k) which is fine for documents; a true O(len)
    rolling recurrence needs stateful iteration that SQL lacks, and
    the constant is tiny."""
    s = normalize_text(c)
    n = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    pows = [pow(ROLL_B, k - 1 - j, ROLL_M) for j in range(k)]

    def gram_hash(i):
        acc = F.lit(0).cast("bigint")
        for j in range(k):
            code = F.ascii(F.substr(s, i + F.lit(j), F.lit(1)))
            acc = (acc + code.cast("bigint") * F.lit(pows[j])) % F.lit(ROLL_M)
        return acc

    return F.when(n >= k, F.transform(idx, gram_hash)).otherwise(
        F.array(F.lit(0).cast("bigint"))
    )


def rolling_fingerprint(c: Column, k: int = ROLL_K) -> Column:
    """Winnowing-style fingerprint: the MINIMUM rolling k-gram hash of
    the document. Documents sharing long substrings tend to share the
    minimizing gram, so equal fingerprints flag likely overlap —
    the classic local fingerprint (cf. MOSS winnowing) reduced to one
    selected gram per doc."""
    return F.array_min(rolling_hashes(c, k))


def rolling_fingerprint_sql(c: str, k: int = ROLL_K) -> str:
    """DuckDB twin — identical polynomial arithmetic."""
    s = NORMALIZE_SQL.format(c=c)
    pows = [pow(ROLL_B, k - 1 - j, ROLL_M) for j in range(k)]
    terms = " + ".join(
        f"(CAST(ascii(substr({s}, CAST(i + {j} AS INT), 1)) AS BIGINT)"
        f" * {pows[j]}) % {ROLL_M}"
        for j in range(k)
    )
    return (
        f"(SELECT CASE WHEN length({s}) >= {k} THEN "
        f"MIN(({terms}) % {ROLL_M}) ELSE 0 END "
        f"FROM unnest(generate_series(1, greatest(length({s}) - {k - 1}, 1))) AS t(i))"
    )


# -- shared-marker formulation ----------------------------------------------
# quality_score and lang_id both scan the text once per marker word
# (12 regexes each, half of them identical). The two-stage select
# computes each UNIQUE marker regex once and derives both outputs from
# the shared count columns — same values, ~half the regex work when
# both are needed (text_stats, pipeline_clean_corpus).

_UNIQUE_MARKERS = sorted({w for ws in LANG_MARKERS.values() for w in ws})
_MC = {w: f"__mc_{i}" for i, w in enumerate(_UNIQUE_MARKERS)}


def _with_marker_counts(df: DataFrame, text_col: str) -> DataFrame:
    # one fused regex pass (materialized as a real column so the share
    # is guaranteed, not CSE-dependent), then cheap array filters.
    # Constant unresolved trees are memoized (ops/_exprcache.py);
    # aliases stay per-call.
    from sqlpp_spark.ops._exprcache import cached_expr, cached_exprs

    mm = cached_expr(
        ("marker_matches", text_col),
        lambda: _marker_matches(F.col(text_col)),
    )
    counts = cached_exprs(
        ("marker_counts", tuple(_MC)),
        lambda: [_count_in(F.col("__mm"), w) for w in _MC],
    )
    tmp = df.select("*", mm.alias("__mm"))
    return tmp.select(
        *df.columns,
        *[cnt.alias(col) for cnt, col in zip(counts, _MC.values())],
    )


def _lang_id_from_counts() -> Column:
    from sqlpp_spark.ops._exprcache import cached_expr

    def _build() -> Column:
        best_lang = F.lit("und")
        best_score = F.lit(0)
        for lang in sorted(LANG_MARKERS):  # same fold order as lang_id
            s = sum((F.col(_MC[w]) for w in LANG_MARKERS[lang]), F.lit(0))
            take = s > best_score
            best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(take, s).otherwise(best_score)
        return best_lang

    return cached_expr(("lang_id_from_counts", tuple(_MC)), _build)


def _quality_from_counts(c: Column) -> Column:
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    # same pair iteration as quality_score: shared words count per pair
    n_stop = sum(
        (F.col(_MC[w]) for ws in LANG_MARKERS.values() for w in ws), F.lit(0)
    )
    len_ok = (n_chars >= 50) & (n_chars <= 10000)
    punct_ok = n_punct * 10 <= n_chars
    stop_ok = n_stop > 0
    mean_wl_ok = (n_tokens > 0) & (n_chars <= n_tokens * 12)
    score = (
        len_ok.cast("int") + punct_ok.cast("int")
        + stop_ok.cast("int") + mean_wl_ok.cast("int")
    )
    return score.cast("double") / F.lit(4.0)


def annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``lang_pred`` and ``quality`` columns with the shared-marker
    formulation (identical values to lang_id/quality_score)."""
    from sqlpp_spark.ops import ensure_parallelism
    from sqlpp_spark.ops._exprcache import cached_expr

    df = ensure_parallelism(df)
    quality = cached_expr(
        ("quality_from_counts", text_col),
        lambda: _quality_from_counts(F.col(text_col)),
    )
    out = _with_marker_counts(df, text_col).select(
        *df.columns,
        _lang_id_from_counts().alias("lang_pred"),
        quality.alias("quality"),
    )
    return out


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document stats frame (markers computed once,
    shared between lang_pred and quality)."""
    from sqlpp_spark.ops import ensure_parallelism
    from sqlpp_spark.ops._exprcache import cached_expr, cached_exprs

    df = ensure_parallelism(df)
    stats = cached_exprs(
        ("text_stats_cols", text_col),
        lambda: [
            F.length(F.col(text_col)).cast("bigint"),
            token_count(F.col(text_col)),
            word_token_count(F.col(text_col)),
        ],
    )
    quality = cached_expr(
        ("quality_from_counts", text_col),
        lambda: _quality_from_counts(F.col(text_col)),
    )
    fp = cached_expr(
        ("fingerprint", text_col), lambda: fingerprint(F.col(text_col))
    )
    return _with_marker_counts(df, text_col).select(
        "doc_id",
        stats[0].alias("n_chars"),
        stats[1].alias("n_tokens"),
        stats[2].alias("n_word_tokens"),
        _lang_id_from_counts().alias("lang_pred"),
        quality.alias("quality"),
        fp.alias("fp"),
    )


# -- Gopher-style quality rules + repetition signals -------------------------
#
# Rule structure follows the published Gopher/MassiveText filtering recipe
# (word-count band, mean-word-length band, lexical-diversity floor); the
# reference repo has no text operators at all, so these are pure extension
# surface. All arithmetic is integer counts + single double divisions —
# bit-equal across engines without rounding.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WL = 3.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MIN_DISTINCT = 0.2


def gopher_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Gopher-rule statistics, computed entirely per-row
    (scan-stage codegen, zero shuffles): word count, mean word length
    (total word chars = normalized length minus separators — no second
    pass over the tokens), distinct-word ratio, and the combined pass
    flag. At 100 TB this is a mapper you fuse with ingestion."""
    from sqlpp_spark.ops import ensure_parallelism

    df = ensure_parallelism(df)
    norm = normalize_text(F.col(text_col))
    toks = F.split(norm, " ")
    n = F.size(toks).cast("bigint")
    mean_wl = (F.length(norm) - (n - F.lit(1))).cast("double") / n.cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    passes = (
        (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WL) & (mean_wl <= GOPHER_MAX_MEAN_WL)
        & (distinct_ratio >= GOPHER_MIN_DISTINCT)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        distinct_ratio.alias("distinct_ratio"),
        passes.alias("gopher_pass"),
    )


def gopher_stats_sql(c: str) -> dict[str, str]:
    """DuckDB twins of the gopher_stats columns (same arithmetic)."""
    norm = NORMALIZE_SQL.format(c=c)
    n = f"CAST(len(string_split({norm}, ' ')) AS BIGINT)"
    mean_wl = f"(CAST(length({norm}) - ({n} - 1) AS DOUBLE) / CAST({n} AS DOUBLE))"
    distinct_ratio = (
        f"(CAST(len(list_distinct(string_split({norm}, ' '))) AS DOUBLE)"
        f" / CAST({n} AS DOUBLE))"
    )
    passes = (
        f"({n} >= {GOPHER_MIN_WORDS} AND {n} <= {GOPHER_MAX_WORDS}"
        f" AND {mean_wl} >= {GOPHER_MIN_MEAN_WL} AND {mean_wl} <= {GOPHER_MAX_MEAN_WL}"
        f" AND {distinct_ratio} >= {GOPHER_MIN_DISTINCT})"
    )
    return {
        "n_words": n,
        "mean_word_len": mean_wl,
        "distinct_ratio": distinct_ratio,
        "gopher_pass": passes,
    }


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals: duplicate-word fraction and
    the share of the single most frequent word. Formulated as
    explode → (doc, word) count → per-doc aggregate: two shuffles of
    narrow integer rows, both partially aggregated map-side — the
    per-row ``transform(distinct, w -> count)`` alternative is O(n·|vocab|)
    CPU per document and loses at any scale."""
    from sqlpp_spark.ops import ensure_parallelism

    df = ensure_parallelism(df)
    words = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    )
    per_word = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    agg = per_word.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("max_count"),
    )
    nw = F.col("n_words").cast("double")
    return agg.select(
        F.col(id_col),
        "n_words",
        "n_distinct",
        ((nw - F.col("n_distinct")) / nw).alias("dup_word_frac"),
        (F.col("max_count") / nw).alias("top_word_share"),
    )


# -- PII redaction -----------------------------------------------------------
#
# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret identically: explicit character classes, bounded
# quantifiers, \b word boundaries — no lookaround, no backrefs. Each
# pattern is the single source of truth for BOTH engines, so the
# redacted text is bit-comparable in the driver's oracle gate.

PII_PATTERNS: list[tuple[str, str, str]] = [
    # (kind, regex, replacement token) — applied in order; email first
    # so its host part is never half-eaten by the IP rule.
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
]


def redact_pii(c: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone numbers with typed
    placeholder tokens — pure chained ``regexp_replace`` in the scan
    stage: zero shuffles, zero Python, safe at any scale."""
    out = c
    for _, pat, tok in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tok)
    return out


def redact_pii_sql(c: str) -> str:
    # DuckDB single-quoted literals keep backslashes as-is (standard
    # SQL) — pass the pattern through verbatim, only quotes doubled.
    out = c
    for _, pat, tok in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{tok}', 'g')"
    return out


def pii_counts(c: Column) -> dict[str, Column]:
    """Per-kind match counts (taken BEFORE redaction)."""
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("bigint")
        for kind, pat, _ in PII_PATTERNS
    }


def pii_counts_sql(c: str) -> dict[str, str]:
    out = {}
    for kind, pat, _ in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out[f"n_{kind}"] = (
            f"CAST(len(regexp_extract_all({c}, '{sql_pat}')) AS BIGINT)"
        )
    return out


# -- model-based quality classifier ------------------------------------------
#
# FineWeb/CCNet-style "model" filtering: a pretrained linear classifier
# over cheap lexical features, evaluated entirely in the scan stage.
# Real pipelines load learned weights (fastText, logistic regression) —
# the weights below stand in for that artifact; the evaluation plan is
# identical either way (per-row arithmetic, zero shuffles, prunable to
# the two columns it reads).
#
# Bit-equality contract with the DuckDB oracle: every feature is
# rational arithmetic over exact integer counts (IEEE-deterministic in
# any engine), the logit is a fixed left-associated chain, and the ONLY
# transcendental (exp in the sigmoid) is rounded to 6 decimals; the
# keep/drop decision tests the logit against 0 so no rounding boundary
# can flip it.

CLF_STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})
_CLF_STOP_RE = r"\b(" + "|".join(CLF_STOPWORDS) + r")\b"
# (bias, len, stopword-ratio, type-token-ratio, mean-word-len)
CLF_WEIGHTS = (-3.0, 2.0, 6.0, 1.5, 0.8)
CLF_LEN_CAP = 512  # tokens; saturating length feature


def classifier_features(c: Column) -> dict[str, Column]:
    """Feature columns from the normalized text. `sum_len` uses the
    collapsed-whitespace identity sum(len(tok)) == len(norm) - n + 1,
    so mean word length needs no array aggregation."""
    norm = normalize_text(c)
    n = F.size(F.split(norm, " "))
    nd = F.size(F.array_distinct(F.split(norm, " ")))
    stop = F.size(F.regexp_extract_all(norm, F.lit(_CLF_STOP_RE), 0))
    sum_len = F.length(norm) - n + F.lit(1)
    return {"n": n, "nd": nd, "stop": stop, "sum_len": sum_len}


def classifier_logit(c: Column) -> Column:
    f = classifier_features(c)
    n_d = f["n"].cast("double")
    x_len = F.least(f["n"], F.lit(CLF_LEN_CAP)).cast("double") / float(CLF_LEN_CAP)
    x_stop = f["stop"].cast("double") / n_d
    x_ttr = f["nd"].cast("double") / n_d
    x_wl = (f["sum_len"].cast("double") / n_d) / 8.0
    w0, w1, w2, w3, w4 = CLF_WEIGHTS
    return (
        F.lit(w0) + F.lit(w1) * x_len + F.lit(w2) * x_stop
        + F.lit(w3) * x_ttr + F.lit(w4) * x_wl
    )


def classifier_score(c: Column) -> Column:
    """round(sigmoid(logit), 6) — see bit-equality contract above."""
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-classifier_logit(c))), 6)


def classifier_sql(c: str) -> dict[str, str]:
    """DuckDB twins keyed logit/score/keep — same op sequence."""
    norm = NORMALIZE_SQL.format(c=c)
    n = f"len(string_split({norm}, ' '))"
    nd = f"len(list_distinct(string_split({norm}, ' ')))"
    stop_pat = _CLF_STOP_RE.replace("'", "''")
    stop = f"len(regexp_extract_all({norm}, '{stop_pat}'))"
    sum_len = f"(length({norm}) - {n} + 1)"
    n_d = f"CAST({n} AS DOUBLE)"
    x_len = f"(CAST(least({n}, {CLF_LEN_CAP}) AS DOUBLE) / {float(CLF_LEN_CAP)})"
    x_stop = f"(CAST({stop} AS DOUBLE) / {n_d})"
    x_ttr = f"(CAST({nd} AS DOUBLE) / {n_d})"
    x_wl = f"((CAST({sum_len} AS DOUBLE) / {n_d}) / 8.0)"
    w0, w1, w2, w3, w4 = CLF_WEIGHTS
    logit = (
        f"({w0} + {w1} * {x_len} + {w2} * {x_stop}"
        f" + {w3} * {x_ttr} + {w4} * {x_wl})"
    )
    return {
        "logit": logit,
        "score": f"round(1.0 / (1.0 + exp(-{logit})), 6)",
        "keep": f"({logit} >= 0.0)",
    }


def classify_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, lang, n_tokens, logit, score, keep — scan-stage only."""
    c = F.col(text_col)
    logit = classifier_logit(c)
    return df.select(
        "doc_id",
        "lang",
        F.size(F.split(normalize_text(c), " ")).cast("bigint").alias("n_tokens"),
        logit.alias("logit"),
        classifier_score(c).alias("score"),
        (logit >= 0.0).alias("keep"),
    )

