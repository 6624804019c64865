"""Driver-registry entries for the data-pipeline extension operators
(dedup, text analysis, similarity search) with DuckDB oracles built
from the same deterministic hash/regex primitives.

Oracle-ability design: every hash in these operators is the md5-based
``hash64`` (ops/hashing.py), every permutation is explicit 30-bit-split
modular arithmetic, and every float aggregation is a sequential
double accumulation — so DuckDB can reproduce results bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlpp_spark.ops import dedup as D
from sqlpp_spark.ops import similarity as S
from sqlpp_spark.ops import text as X
from sqlpp_spark.ops.hashing import hash64_sql, perm_hash_sql
from sqlpp_spark.queries import register, table

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_T = "text"
_NORM = X.NORMALIZE_SQL.format(c=_T)


@register(
    "text_stats",
    headline=True,
    oracle=f"""
SELECT doc_id,
       CAST(length({_T}) AS BIGINT) AS n_chars,
       {X.TOKEN_COUNT_SQL.format(c=_T)} AS n_tokens,
       {X.WORD_TOKEN_COUNT_SQL.format(c=_T)} AS n_word_tokens,
       {X.lang_id_sql(_T)} AS lang_pred,
       {X.quality_score_sql(_T)} AS quality,
       {hash64_sql(_NORM)} AS fp
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: char/token counts, language ID (stopword
    heuristic), quality score, content fingerprint — one parquet scan,
    all codegen'd."""
    return X.text_stats(table(spark, sf_dir, "documents"))


@register(
    "text_rolling_fingerprint",
    oracle=f"""
SELECT doc_id, {X.rolling_fingerprint_sql(_T)} AS roll_fp
FROM documents
""",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint (min polynomial hash
    over character 8-grams) per document."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", X.rolling_fingerprint(F.col(_T)).alias("roll_fp")
    )


@register(
    "ann_approx_distinct_labels",
    oracle="SELECT COUNT(DISTINCT label) AS n_labels FROM embeddings",
)
def ann_approx_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-label count — the oracled exact form.

    The production sketch path is ``ann_hll_distinct_labels`` below
    (HyperLogLog++, fixed-size state at 100 TB); sketch values differ
    across engines by design, so the exact count carries the driver
    oracle and the HLL twin's accuracy is pinned against it in
    tests/test_ops.py.
    """
    e = table(spark, sf_dir, "embeddings")
    return e.select(F.count_distinct("label").alias("n_labels"))


@register(
    "ann_hll_distinct_labels",
    # r14: oracled via the tolerance-boolean pattern. HLL sketch
    # VALUES differ across engines by design, so the row carries the
    # exact count plus `sketch_ok` = |approx-exact| within the 5%
    # bound the pytest pin uses (tests/test_ops.py) — DuckDB asserts
    # TRUE, so a broken/drifting sketch flips the row red while the
    # legitimate engine-specific estimate stays out of the hash.
    oracle="""
SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels_exact,
       TRUE AS sketch_ok
FROM embeddings
""",
)
def ann_hll_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the sketch path for
    distinct counting at 100 TB (fixed-size state vs a full shuffle
    of the distinct values). Both aggregates run in ONE pass (a single
    partial-agg shuffle of HLL registers + distinct-hash partials)."""
    e = table(spark, sf_dir, "embeddings")
    agg = e.agg(
        F.count_distinct("label").alias("n_labels_exact"),
        F.approx_count_distinct("label", rsd=0.02).alias("__approx"),
    )
    return agg.select(
        "n_labels_exact",
        (
            F.abs(F.col("__approx") - F.col("n_labels_exact"))
            <= F.greatest(
                F.lit(1), F.col("n_labels_exact").cast("double") * 0.05
            )
        ).alias("sketch_ok"),
    )


@register(
    "text_lang_distribution",
    oracle=f"""
SELECT {X.lang_id_sql(_T)} AS lang_pred, COUNT(*) AS n_docs
FROM documents GROUP BY 1
""",
)
def text_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.groupBy(X.lang_id(F.col(_T)).alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    headline=True,
    oracle=f"""
SELECT {hash64_sql(_NORM)} AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_dups
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(table(spark, sf_dir, "documents"))


def _shingle_cte(k: int = 3, base: str = "documents") -> str:
    """DuckDB CTE producing (doc_id, sh_hash) distinct word-k-gram
    hashes — the SQL twin of ops.dedup.shingle_hashes."""
    return f"""
toks AS (
  SELECT doc_id, regexp_split_to_array({_NORM}, ' ') AS ws FROM {base}
),
shingles AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= {k}
              THEN array_to_string(ws[i : i + {k - 1}], ' ')
              ELSE array_to_string(ws, ' ') END AS sh
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - {k - 1}, 1))) AS i) g
  WHERE len(ws) > 0
),
sh_hashes AS (
  SELECT DISTINCT doc_id, {hash64_sql('sh')} AS sh_hash FROM shingles
)"""


@register(
    "dedup_ngram_jaccard",
    headline=True,
    oracle=f"""
WITH {_shingle_cte(3)},
blocked AS (
  SELECT s.doc_id, s.sh_hash, d.lang AS blk
  FROM sh_hashes s JOIN documents d USING (doc_id)
),
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM blocked GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dups, blocked by lang."""
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5, block_col="lang"
    )


@register(
    "dedup_containment",
    oracle=f"""
WITH {_shingle_cte(3)},
blocked AS (
  SELECT s.doc_id, s.sh_hash, d.lang AS blk
  FROM sh_hashes s JOIN documents d USING (doc_id)
),
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM blocked GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.sh_hash = b.sh_hash AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment,
       CAST(sa.sz AS BIGINT) AS sz_a,
       CAST(sb.sz AS BIGINT) AS sz_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.5
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL shingle containment (|S(A)∩S(B)|/|S(A)| ≥ 0.5,
    word-3-grams, lang blocks): catches a small document living inside
    a larger one (quotes, boilerplate wraps, aggregator pages), which
    symmetric Jaccard misses when the size imbalance crushes the union
    term. PPJoin-style prefix filtering on the contained side; DuckDB
    replays the exact set arithmetic."""
    return D.shingle_containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5, block_col="lang"
    )


def _minhash_oracle(k: int = 3, n_perms: int = 16, bands: int = 4, threshold: float = 0.7) -> str:
    rows = n_perms // bands
    mh_cols = ",\n         ".join(
        f"MIN({perm_hash_sql('sh_hash', i)}) AS mh{i}" for i in range(n_perms)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {h} AS bh FROM sigs".format(
            b=b,
            h=hash64_sql(
                "concat_ws(',', "
                + ", ".join(f"mh{b * rows + r}" for r in range(rows))
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH {_shingle_cte(k)},
sigs AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh_hashes GROUP BY doc_id
),
banded AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh_hashes GROUP BY doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN sh_hashes a ON a.doc_id = c.id_a
  JOIN sh_hashes b ON b.doc_id = c.id_b AND b.sh_hash = a.sh_hash
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= {threshold}
"""


@register("dedup_minhash", headline=True, oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands) candidates, verified with exact
    Jaccard ≥ 0.7. The DuckDB oracle replicates the full pipeline —
    including LSH banding — via the shared deterministic hash
    primitives, so even LSH false-negatives match."""
    return D.minhash_near_duplicates(table(spark, sf_dir, "documents"), threshold=0.7)


def _clean_corpus_oracle(k: int = 3, n_perms: int = 16, bands: int = 4,
                         threshold: float = 0.7, min_quality: float = 0.5) -> str:
    """SQL twin of the full composed pipeline: quality filter → exact
    dedup (min id per content hash) → MinHash+LSH near-dup removal
    (drop the higher id of every verified pair)."""
    rows = n_perms // bands
    q = X.quality_score_sql(_T)
    mh_cols = ",\n         ".join(
        f"MIN({perm_hash_sql('sh_hash', i)}) AS mh{i}" for i in range(n_perms)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {h} AS bh FROM sigs".format(
            b=b,
            h=hash64_sql(
                "concat_ws(',', "
                + ", ".join(f"mh{b * rows + r}" for r in range(rows))
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH quality_pass AS (
  SELECT doc_id, text, lang FROM documents WHERE {q} >= {min_quality}
),
hashed AS (
  SELECT doc_id, {hash64_sql(_NORM)} AS h FROM quality_pass
),
canon AS (SELECT MIN(doc_id) AS doc_id FROM hashed GROUP BY h),
kept AS (SELECT p.* FROM quality_pass p JOIN canon USING (doc_id)),
{_shingle_cte(k, 'kept').lstrip()},
sigs AS (
  SELECT doc_id, {mh_cols}
  FROM sh_hashes GROUP BY doc_id
),
banded AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh_hashes GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN sh_hashes a ON a.doc_id = c.id_a
  JOIN sh_hashes b ON b.doc_id = c.id_b AND b.sh_hash = a.sh_hash
  GROUP BY 1, 2
),
removed AS (
  SELECT DISTINCT id_b AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= {threshold}
)
SELECT k.doc_id, {X.lang_id_sql('k.text')} AS lang_pred, {X.quality_score_sql('k.text')} AS quality
FROM kept k LEFT JOIN removed r ON k.doc_id = r.doc_id
WHERE r.doc_id IS NULL
"""


@register("pipeline_clean_corpus", headline=True, oracle=_clean_corpus_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end-to-end in one plan:
    quality filter (cheap, codegen'd, prunes before any shuffle) →
    exact dedup (hash shuffle) → MinHash+LSH near-dup removal (drop
    the higher id of each verified pair). Returns the surviving
    corpus with language + quality annotations.

    Scale design — TEXT NEVER SHUFFLES, and is READ ONCE: a single
    scan stage computes the content hash, annotations, shingle-hash
    set and all 16 MinHash signature mins per quality-passing doc
    (one regex-normalize pass feeding both the md5 content hash and
    the shingle explode, doc-level columns riding the partial agg as
    first()), so the dedup decisions run over one narrow persisted
    frame. Exact-dedup then prunes the FRAME, not the parquet: LSH
    band hashes and shingle sets are doc-local, so banding the
    survivors of the persisted frame yields bit-identical pairs to
    re-scanning the surviving documents — the second parquet pass,
    second normalize and the scan-pruning semi-join of the staged
    form all disappear (guide §1.2 step 1 / §2.4)."""
    from pyspark import StorageLevel

    docs = table(spark, sf_dir, "documents")
    ann = X.annotate(docs.select("doc_id", _T, "lang"))
    meta = ann.select(
        "doc_id",
        _T,
        D.content_hash64(_T).alias("__ch"),
        "lang_pred",
        "quality",
    ).filter(F.col("quality") >= 0.5)
    enriched = (
        D._shingle_rows(
            meta, _T, "doc_id", 3,
            carry_cols=("__ch", "lang_pred", "quality"),
        )
        .groupBy("doc_id")
        .agg(
            F.first("__ch").alias("__ch"),
            F.first("lang_pred").alias("lang_pred"),
            F.first("quality").alias("quality"),
            *D.minhash_enrich_aggs(),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # _shingle_rows drops docs with no tokens (__n > 0), so `enriched`
    # holds only docs with a shingle row, while the oracle keeps every
    # quality-passing doc. They agree only while NULL text scores NULL
    # quality (filtered above) and split() never yields an empty array
    # (a blank text splits to [""]: one shingle). Pinned by
    # tests/test_ops.py::test_clean_corpus_matches_oracle_on_null_and_blank_texts.
    enriched.count()  # eager: five downstream branches read it
    keep_ids = enriched.groupBy("__ch").agg(F.min("doc_id").alias("doc_id"))
    kept = enriched.join(keep_ids, on="doc_id", how="left_semi")
    pairs = D.verified_pairs_from_enriched(kept, "doc_id", threshold=0.7)
    removed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    out = (
        kept.join(removed, on="doc_id", how="left_anti")
        .select("doc_id", "lang_pred", "quality")
    )
    # release via ops.release_intermediates(out) once materialized
    out._sqlpp_persisted = [enriched]
    return out


def _cluster_oracle(k: int = 3, n_perms: int = 16, bands: int = 4,
                    threshold: float = 0.7) -> str:
    """DuckDB twin of the ITERATIVE clustering: the Spark side runs
    min-label propagation to a fixpoint; the oracle computes the same
    components with a recursive CTE (transitive closure of reachable
    labels, then MIN per node)."""
    pairs_sql = _minhash_oracle(k, n_perms, bands, threshold).strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs_sql}
),
edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b AS s, id_a AS t FROM pairs
),
reach(node, lab) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.t, r.lab FROM reach r JOIN edges e ON e.s = r.node
),
comp AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size
FROM comp c JOIN sizes s USING (cluster_id)
"""


@register("dedup_clusters", oracle=_cluster_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash pairs → iterative connected
    components (driver-side fixpoint loop — the one operator shape a
    single SQL query can't express; the oracle uses a recursive CTE)."""
    return D.near_duplicate_clusters(table(spark, sf_dir, "documents"), threshold=0.7)


@register(
    "dedup_incremental_ingest",
    oracle=f"""
WITH idx AS (
  SELECT DISTINCT {hash64_sql(_NORM)} AS content_hash
  FROM documents WHERE doc_id % 3 = 0
),
batch AS (
  SELECT doc_id, {hash64_sql(_NORM)} AS content_hash
  FROM documents WHERE doc_id % 3 != 0
),
fresh AS (
  SELECT b.* FROM batch b ANTI JOIN idx USING (content_hash)
),
keep AS (
  SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY content_hash
)
SELECT d.doc_id, d.lang FROM documents d SEMI JOIN keep USING (doc_id)
""",
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (doc_id % 3 != 0)
    anti-joins the EXISTING corpus's content-hash index (doc_id % 3 =
    0) — the existing corpus text is never re-read — then keeps one
    row per new hash. The daily-ingest shape at 100 TB: only 8-byte
    hashes move."""
    d = table(spark, sf_dir, "documents")
    index = D.content_hash_index(d.filter(F.col("doc_id") % 3 == 0))
    batch = d.filter(F.col("doc_id") % 3 != 0)
    return D.dedup_against_index(batch, index).select("doc_id", "lang")


def _minhash_ingest_oracle(
    k: int = 3, n_perms: int = 16, bands: int = 4, threshold: float = 0.7
) -> str:
    """Incremental twin of _minhash_oracle: bands are per-doc
    independent, so banding the whole table and restricting the
    candidate join to (batch × index) halves replays exactly what the
    Spark side computes per half."""
    rows = n_perms // bands
    mh_cols = ",\n         ".join(
        f"MIN({perm_hash_sql('sh_hash', i)}) AS mh{i}" for i in range(n_perms)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {h} AS bh FROM sigs".format(
            b=b,
            h=hash64_sql(
                "concat_ws(',', "
                + ", ".join(f"mh{b * rows + r}" for r in range(rows))
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH {_shingle_cte(k)},
sigs AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh_hashes GROUP BY doc_id
),
banded AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT n.doc_id AS id_new, x.doc_id AS id_idx
  FROM banded n JOIN banded x
    ON n.band = x.band AND n.bh = x.bh
  WHERE n.doc_id % 3 != 0 AND x.doc_id % 3 = 0
),
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh_hashes GROUP BY doc_id
),
inter AS (
  SELECT c.id_new, c.id_idx, COUNT(*) AS n_inter
  FROM cands c
  JOIN sh_hashes a ON a.doc_id = c.id_new
  JOIN sh_hashes b ON b.doc_id = c.id_idx AND b.sh_hash = a.sh_hash
  GROUP BY 1, 2
)
SELECT id_new, id_idx,
       CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_new
JOIN sizes sb ON sb.doc_id = id_idx
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= {threshold}
"""


@register("dedup_minhash_ingest", oracle=_minhash_ingest_oracle())
def dedup_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup at ingest: the new batch (doc_id % 3 != 0)
    probes the existing corpus's banded MinHash index (doc_id % 3 = 0)
    on (band, band_hash) and verifies exact Jaccard from the index's
    stored shingle sets — corpus text never re-read."""
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 == 0)
    index = D.minhash_band_index(corpus)
    sets = D.shingle_set_index(corpus)
    batch = d.filter(F.col("doc_id") % 3 != 0)
    return D.near_duplicates_against_index(batch, index, sets)


def _passage_dedup_oracle(p: int = 8) -> str:
    """DuckDB twin of ops.dedup.passage_dedup — identical chunking
    (fixed p-word windows over normalized text), winner-per-hash by
    min (doc, position), ordered reassembly."""
    return f"""
WITH norm AS (SELECT doc_id, {_NORM} AS s FROM documents),
toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM norm),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
         array_to_string(
           t[CAST(g.i*{p}+1 AS BIGINT):CAST(least((g.i+1)*{p}, len(t)) AS BIGINT)],
           ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{p}.0) AS BIGINT) - 1)) AS g(i)
),
hashed AS (
  SELECT doc_id, chunk_id, {hash64_sql("chunk_text")} AS ph FROM chunks
),
winners AS (
  SELECT doc_id, chunk_id FROM (
    SELECT doc_id, chunk_id,
           ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, chunk_id) AS rk
    FROM hashed
  ) WHERE rk = 1
),
kept AS (
  SELECT c.doc_id, c.chunk_id, c.chunk_text
  FROM chunks c SEMI JOIN winners w
    ON c.doc_id = w.doc_id AND c.chunk_id = w.chunk_id
),
agg AS (
  SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_total FROM chunks GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       COALESCE(a.n_kept, 0) AS n_kept,
       t.n_total - COALESCE(a.n_kept, 0) AS n_dropped
FROM totals t LEFT JOIN agg a USING (doc_id)
"""


@register("dedup_passages", oracle=_passage_dedup_oracle(), headline=True)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup (Dolma/RefinedWeb paragraph-dedup shape over
    fixed 8-word windows): every passage appearing verbatim elsewhere
    keeps only its first (doc, position) occurrence; documents are
    rewritten from survivors. Winner selection is a min-struct partial
    agg over 8-byte hashes — no per-cluster window, text moves once."""
    # persist_chunks=False: the input is a bare parquet scan, so
    # rechunking it for the second consumer is cheaper than the
    # persist materialization barrier (see passage_dedup docstring;
    # the capstones, whose upstream is a parse pipeline, keep True)
    return D.passage_dedup(
        table(spark, sf_dir, "documents"), passage_tokens=8,
        persist_chunks=False,
    )


def _boilerplate_oracle(p: int = 8, max_df: int = 1) -> str:
    """DuckDB twin of ops.dedup.boilerplate_filter — identical chunking;
    passages in more than ``max_df`` distinct docs drop EVERYWHERE."""
    return f"""
WITH norm AS (SELECT doc_id, {_NORM} AS s FROM documents),
toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM norm),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
         array_to_string(
           t[CAST(g.i*{p}+1 AS BIGINT):CAST(least((g.i+1)*{p}, len(t)) AS BIGINT)],
           ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{p}.0) AS BIGINT) - 1)) AS g(i)
),
hashed AS (
  SELECT doc_id, chunk_id, chunk_text, {hash64_sql("chunk_text")} AS ph
  FROM chunks
),
bad AS (
  SELECT ph FROM hashed GROUP BY ph
  HAVING COUNT(DISTINCT doc_id) > {max_df}
),
kept AS (SELECT h.* FROM hashed h ANTI JOIN bad USING (ph)),
agg AS (
  SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_total FROM chunks GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       COALESCE(a.n_kept, 0) AS n_kept,
       t.n_total - COALESCE(a.n_kept, 0) AS n_dropped
FROM totals t LEFT JOIN agg a USING (doc_id)
"""


@register("text_boilerplate_filter", oracle=_boilerplate_oracle(), headline=True)
def text_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (C4/RefinedWeb hygiene): passages appearing
    in 2+ distinct documents drop from ALL of them (boilerplate is
    noise, not content — unlike dedup_passages no first copy survives).
    Doc-frequency is a partial agg over 8-byte hashes; the anti-join
    carries no forced broadcast (at this threshold the duplicated-
    passage set scales with the corpus — AQE handles the small case)."""
    return D.boilerplate_filter(
        table(spark, sf_dir, "documents"), passage_tokens=8, max_doc_frequency=1
    )


def _substring_rate_oracle(k: int = 8) -> str:
    """DuckDB twin of ops.dedup.substring_duplication_rate — identical
    polynomial gram hashes (ops/text.rolling_hashes arithmetic)."""
    from sqlpp_spark.ops.text import NORMALIZE_SQL, ROLL_B, ROLL_M

    s = NORMALIZE_SQL.format(c="text")
    pows = [pow(ROLL_B, k - 1 - j, ROLL_M) for j in range(k)]
    terms = " + ".join(
        f"(CAST(ascii(substr(s, CAST(i + {j} AS INT), 1)) AS BIGINT)"
        f" * {pows[j]}) % {ROLL_M}"
        for j in range(k)
    )
    return f"""
WITH norm AS (SELECT doc_id, {s} AS s FROM documents),
grams AS (
  SELECT DISTINCT doc_id, ({terms}) % {ROLL_M} AS g
  FROM norm, unnest(generate_series(1, length(s) - {k - 1})) AS t(i)
  WHERE length(s) >= {k}
),
freq AS (SELECT g, COUNT(*) AS nd FROM grams GROUP BY g),
stats AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM grams JOIN freq USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(CAST(st.n_grams AS BIGINT), 0) AS n_grams,
       COALESCE(CAST(st.n_dup AS BIGINT), 0) AS n_dup,
       COALESCE(CAST(st.n_dup AS DOUBLE) / CAST(st.n_grams AS DOUBLE), 0.0)
         AS dup_rate
FROM documents d LEFT JOIN stats st USING (doc_id)
"""


@register("dedup_substring_rate", oracle=_substring_rate_oracle(), headline=True)
def dedup_substring_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication rate per document (Lee et al.
    arXiv:2107.06499 metric): fraction of a doc's distinct char-8-gram
    hashes appearing in ≥1 other doc. Only 8-byte gram keys shuffle."""
    return D.substring_duplication_rate(table(spark, sf_dir, "documents"))


def _canonical_oracle() -> str:
    """DuckDB twin of ops.dedup.canonical_by_quality: the recursive-CTE
    cluster oracle + bit-exact quality score + per-cluster argmax."""
    from sqlpp_spark.ops.text import quality_score_sql

    return f"""
WITH clust AS ({_cluster_oracle()}),
scored AS (SELECT doc_id, {quality_score_sql("text")} AS quality FROM documents),
full_t AS (
  SELECT s.doc_id, s.quality,
         COALESCE(c.cluster_id, s.doc_id) AS cluster_id,
         COALESCE(CAST(c.cluster_size AS BIGINT), 1) AS cluster_size
  FROM scored s LEFT JOIN clust c USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, quality,
       (ROW_NUMBER() OVER (
          PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1)
         AS keep
FROM full_t
"""


@register("dedup_canonical_keep", oracle=_canonical_oracle())
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with the production retention policy: keep the
    HIGHEST-QUALITY member of each cluster (ties → smaller id);
    singletons always kept."""
    return D.canonical_by_quality(table(spark, sf_dir, "documents"), threshold=0.7)


def _simhash_sigs_cte(bits: int = 32) -> str:
    """Shared WITH-chain computing per-doc SimHash signatures (twin of
    ops.dedup.simhash) — terminates in a ``sigs(doc_id, simhash)``."""
    tok_hash = hash64_sql("tok")
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (th // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array({_NORM}, ' ')) AS tok
  FROM documents
),
th AS (SELECT doc_id, {tok_hash} AS th FROM toks),
bitsums AS (
  SELECT doc_id,
         {bit_sums}
  FROM th GROUP BY doc_id
),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bitsums)"""


def _simhash_oracle(bits: int = 32) -> str:
    return f"""
{_simhash_sigs_cte(bits)}
SELECT simhash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
FROM sigs GROUP BY simhash HAVING COUNT(*) > 1
""";


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) signature collisions."""
    return D.simhash_duplicates(table(spark, sf_dir, "documents"))


def _simhash_h3_oracle(bits: int = 32, max_hamming: int = 3) -> str:
    from sqlpp_spark.ops.dedup import _simhash_chunk_bounds

    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS band, "
        f"(simhash // {1 << lo}) % {1 << width} AS chunk FROM sigs"
        for c, (lo, width) in enumerate(
            _simhash_chunk_bounds(bits, max_hamming + 1)
        )
    )
    return f"""
{_simhash_sigs_cte(bits)},
bands AS ({bands}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sa,
                  b.doc_id AS id_b, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cands WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


@register("dedup_simhash_h3", oracle=_simhash_h3_oracle())
def dedup_simhash_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming ≤ 3 — banded d+1-chunk
    self-join (pigeonhole-complete, so the result is EXACT) + XOR
    popcount verification; no all-pairs step (ops/dedup.py
    simhash_near_duplicates). Oracle replays the identical banding in
    DuckDB."""
    return D.simhash_near_duplicates(
        table(spark, sf_dir, "documents"), max_hamming=3
    )


def _embedding_cosine_oracle() -> str:
    # replay of embedding_near_duplicates' DEFAULT (LSH) path at its
    # high-recall setting: n_planes=3, n_tables=3 — defined after
    # _lsh_pairs_oracle below, wired via late registration
    return _lsh_pairs_oracle(n_planes=3, n_tables=3, threshold=0.4)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs through the operator's DEFAULT
    path — LSH-bucketed candidates (no all-pairs nested loop anywhere
    in the plan; pinned by tests/test_plans.py), here at a
    higher-recall setting (3 planes × 3 tables) than the
    dedup_embedding_lsh entry's 4×2. cos ≥ 0.4 because the driver's
    synthetic embeddings are near-orthogonal (max pairwise cosine
    ≈0.51 at sf0.01) — a production-style 0.8 threshold would make the
    oracle a vacuous 0-row check. The exact all-pairs baseline remains
    available as embedding_near_duplicates(exact=True), used for
    recall measurement in tests/test_ops.py only."""
    return D.embedding_near_duplicates(
        table(spark, sf_dir, "embeddings"), threshold=0.4,
        dim=64, n_planes=3, n_tables=3,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_bruteforce_topk",
    headline=True,
    oracle="""
SELECT * FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id
         ) AS BIGINT) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 8
) WHERE rank <= 10
""",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 8 query vectors over the corpus."""
    emb = table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=10)


def _jl_proj_sql(out_dim: int, dim: int, seed: int) -> str:
    """DuckDB list literal computing the SAME JL projection as
    similarity.jl_project — plane literals via repr() (exact double
    round-trip), left-to-right fold in both engines."""
    from sqlpp_spark.ops.similarity import _planes

    scale = repr(1.0 / math.sqrt(out_dim))
    comps = []
    for plane in _planes(out_dim, dim, seed):
        lits = ",".join(repr(x) for x in plane)
        comps.append(f"list_inner_product(v, [{lits}]::DOUBLE[]) * {scale}")
    return "[" + ", ".join(comps) + "]"


def _projected_rerank_oracle(
    k: int = 10, shortlist: int = 150, out_dim: int = 32, dim: int = 64,
    seed: int = 7,
) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT vec_id, v, {_jl_proj_sql(out_dim, dim, seed)} AS pv FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, pv AS qp FROM p WHERE vec_id < 8),
s1 AS (
  SELECT query_id, c.vec_id AS cand_id, qv, c.v AS cv,
         list_cosine_similarity(qp, c.pv) AS pcos
  FROM p c, q WHERE c.vec_id != query_id
),
short AS (
  SELECT query_id, cand_id, qv, cv FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY pcos DESC, cand_id ASC) AS r1
    FROM s1
  ) WHERE r1 <= {shortlist}
)
SELECT query_id, cand_id, cos, rank FROM (
  SELECT query_id, cand_id,
         list_cosine_similarity(qv, cv) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id ASC) AS rank
  FROM short
) WHERE rank <= {k}
"""


@register("ann_projected_rerank", oracle=_projected_rerank_oracle())
def ann_projected_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: JL-projected (64→32) cosine shortlist of
    150 per query, exact full-dimension rerank to top-10 — the
    production recall/cost dial (recall@10 ≥ 0.9 even on near-uniform
    synthetic vectors, the adversarial case for JL; clustered real
    embeddings need far smaller shortlists), fully oracled because the
    deterministic xorshift planes make even the approximate stage
    bit-reproducible."""
    emb = table(spark, sf_dir, "embeddings")
    return S.projected_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=10, shortlist=150
    )


def _lsh_bucket_sql(n_planes: int, dim: int, seed: int) -> str:
    """DuckDB expression computing the SAME sign-concatenation bucket
    as ``similarity.lsh_bucket_col``: the hyperplanes are Python
    floats generated by the shared xorshift PRNG and embedded here as
    literals (repr() round-trips doubles exactly), and both engines
    fold the dot product left-to-right in element order, so the
    bucket ids are bit-identical (pinned by
    tests/test_ops.py::test_lsh_bucket_cross_engine_bit_equal)."""
    from sqlpp_spark.ops.similarity import _planes

    terms = []
    for i, plane in enumerate(_planes(n_planes, dim, seed)):
        lits = ",".join(repr(x) for x in plane)
        terms.append(
            f"CASE WHEN list_inner_product(v, [{lits}]::DOUBLE[]) > 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(terms)


def _lsh_tables_cte(n_planes: int, dim: int, seed: int, n_tables: int) -> str:
    """UNION ALL of one bucket assignment per hash table (seed offset
    1000·t, matching lsh_near_duplicate_pairs / lsh_topk)."""
    parts = [
        f"SELECT vec_id, {t} AS tbl, "
        f"{_lsh_bucket_sql(n_planes, dim, seed + 1000 * t)} AS bucket FROM e"
        for t in range(n_tables)
    ]
    return " UNION ALL ".join(parts)


def _lsh_pairs_oracle(
    n_planes: int = 4, dim: int = 64, seed: int = 42, n_tables: int = 2,
    threshold: float = 0.8,
) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS ({_lsh_tables_cte(n_planes, dim, seed, n_tables)}),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT p.id_a, p.id_b, list_cosine_similarity(x.v, y.v) AS cos
FROM pairs p JOIN e x ON x.vec_id = p.id_a JOIN e y ON y.vec_id = p.id_b
WHERE list_cosine_similarity(x.v, y.v) >= {threshold}
"""


@register("dedup_embedding_lsh", oracle=_lsh_pairs_oracle(threshold=0.4))
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: LSH-bucketed candidate pairs
    (cos ≥ 0.4, see dedup_embedding_cosine for why), |corpus|²/2^planes
    work per table instead of all pairs. Fully oracled: the DuckDB
    side replays the identical hyperplane literals, so even the
    approximate candidate set is deterministic and hash-checked
    (recall vs the exact pair set is separately pinned in
    tests/test_ops.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return S.lsh_near_duplicate_pairs(emb, dim=64, threshold=0.4)


# late registration: the oracle replays _lsh_pairs_oracle, defined above
register("dedup_embedding_cosine", oracle=_embedding_cosine_oracle())(
    dedup_embedding_cosine
)


def _lsh_topk_oracle(
    n_planes: int = 4, dim: int = 64, seed: int = 42, n_tables: int = 2,
    k: int = 10, n_queries: int = 8,
) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS ({_lsh_tables_cte(n_planes, dim, seed, n_tables)}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM b c JOIN b q ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE q.vec_id < {n_queries} AND q.vec_id != c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.cand_id, list_cosine_similarity(x.v, y.v) AS cos
  FROM cand JOIN e x ON x.vec_id = cand.query_id JOIN e y ON y.vec_id = cand.cand_id
)
SELECT * FROM (
  SELECT query_id, cand_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, cand_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@register("ann_lsh_topk", oracle=_lsh_topk_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN top-10 — oracled end to end (bucketing
    replayed from identical plane literals in DuckDB); recall vs
    brute force separately pinned in tests/test_ops.py."""
    emb = table(spark, sf_dir, "embeddings")
    dim = 64
    return S.lsh_topk(emb, emb.filter(F.col("vec_id") < 8), dim=dim, k=10, n_planes=4)


def _sqdist_sql(a: str, b: str, dim: int) -> str:
    """Explicit left-associated squared-L2 chain — the SAME float
    addition order as Spark's sequential F.aggregate fold, so cell
    distances are bit-equal across engines."""
    return " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
        for i in range(1, dim + 1)
    )


def _ivf_topk_oracle(
    n_cells: int = 16, n_probe: int = 4, k: int = 10, n_queries: int = 8,
    dim: int = 64,
) -> str:
    d = _sqdist_sql("e.v", "piv.pv", dim)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
piv AS (SELECT vec_id AS cell, v AS pv FROM e ORDER BY vec_id LIMIT {n_cells}),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, piv.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d}, piv.cell) AS rn
    FROM e CROSS JOIN piv
  ) WHERE rn = 1
),
qcells AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, piv.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d}, piv.cell) AS rn
    FROM e CROSS JOIN piv
    WHERE e.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT q.query_id, a.vec_id AS cand_id
  FROM qcells q JOIN assign a ON a.cell = q.cell
  WHERE a.vec_id != q.query_id
),
scored AS (
  SELECT c.query_id, c.cand_id, list_cosine_similarity(x.v, y.v) AS cos
  FROM cand c JOIN e x ON x.vec_id = c.query_id JOIN e y ON y.vec_id = c.cand_id
)
SELECT * FROM (
  SELECT query_id, cand_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, cand_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _knn_graph_oracle(n_cells: "int | str" = 16, n_probe: int = 2,
                      k: int = 5, dim: int = 64) -> str:
    """Self-KNN twin of _ivf_topk_oracle: the query side is the whole
    corpus (no vec_id cutoff) — every vector probes its n_probe
    nearest pivot cells. ``n_cells="auto"`` replays the operator's
    auto-√n rule (max(16, ⌊√count + 0.5⌋)) in SQL. FLOOR(x + 0.5)
    rather than ROUND: tie-free, so SQL half-away and Python
    half-even rounding can never disagree even when the correctly-
    rounded DOUBLE √n lands exactly on x.5."""
    d = _sqdist_sql("e.v", "piv.pv", dim)
    if n_cells == "auto":
        nc = ("SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*)) + 0.5)"
              " AS BIGINT)) AS n FROM e")
    else:
        nc = f"SELECT {int(n_cells)} AS n"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nc AS ({nc}),
piv AS (
  SELECT cell, pv FROM (
    SELECT vec_id AS cell, v AS pv,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS prn
    FROM e
  ) JOIN nc ON prn <= nc.n
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, piv.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d}, piv.cell) AS rn
    FROM e CROSS JOIN piv
  ) WHERE rn = 1
),
qcells AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, piv.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d}, piv.cell) AS rn
    FROM e CROSS JOIN piv
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT q.query_id, a.vec_id AS cand_id
  FROM qcells q JOIN assign a ON a.cell = q.cell
  WHERE a.vec_id != q.query_id
),
scored AS (
  SELECT c.query_id, c.cand_id, list_cosine_similarity(x.v, y.v) AS cos
  FROM cand c JOIN e x ON x.vec_id = c.query_id JOIN e y ON y.vec_id = c.cand_id
)
SELECT * FROM (
  SELECT query_id, cand_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, cand_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@register("ann_knn_graph", oracle=_knn_graph_oracle())
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-KNN graph at a FIXED 16-cell quantizer — the
    strategy BASELINE, demoted from the headline bench (r17 verdict
    task 2): SF1_REHEARSAL showed x21.4 wall at x10 data (quadratic in
    bucket population by construction, shuffle stays linear), so the
    flagship row is ann_knn_graph_auto, whose sqrt-n cell rule holds
    x5.7. Kept registered (and driver-oracled) as the fixed_cells
    opt-in a recall study would pin. Both join sides are the corpus,
    so candidates meet via a co-partitioned cell equi-join instead of
    a broadcast; fully oracled via the deterministic pivot quantizer.
    KMeans cells stay the production default (recall pinned in
    tests/test_ops.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=5, n_cells=16, n_probe=2, quantizer="pivot")


@register("ann_knn_graph_auto", oracle=_knn_graph_oracle("auto"),
          headline=True)
def ann_knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-KNN graph with the SCALE-RECOMMENDED cell count:
    n_cells="auto" = max(16, ⌊√n + 0.5⌋) from one metadata-scale
    count() — the √n rule the 10× rehearsal proved necessary (fixed
    cells kept shuffle linear but wall went 20.5× at 10× data;
    SCALING.md). The oracle recomputes the same cell count in SQL
    (GREATEST(16, FLOOR(SQRT(COUNT(*)) + 0.5))) over the same
    smallest-vec_id pivots, so the auto configuration — the one a
    100 TB deployment would run — is itself hash-verified, closing
    the bench-vs-scale configuration gap (round-8 ask #3)."""
    emb = table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=5, n_cells="auto", n_probe=2,
                       quantizer="pivot")


@register(
    "ann_knn_density",
    oracle=f"""
WITH g AS ({_knn_graph_oracle()})
SELECT query_id AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(SUM(CAST(ROUND(cos, 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*)
         AS density
FROM g GROUP BY query_id
""",
)
def ann_knn_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN density per vector (mean cos to the 5 nearest via the
    self-KNN graph): the redundancy/outlier signal prototype-pruning
    curation ranks by. Decimal-exact mean → bit-equal oracle."""
    emb = table(spark, sf_dir, "embeddings")
    return S.knn_density(emb, k=5, n_cells=16, n_probe=2, quantizer="pivot")


def _centroid_outlier_oracle(top_n: int = 10, dim: int = 64) -> str:
    chain = " + ".join(
        f"(e.v[{i}] - c.cv[{i}]) * (e.v[{i}] - c.cv[{i}])"
        for i in range(1, dim + 1)
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ex AS (
  SELECT label, i AS pos, ROUND(v[i], 9) AS val
  FROM e, unnest(generate_series(1, {dim})) AS t(i)
),
sums AS (
  SELECT label, pos, SUM(CAST(val AS DECIMAL(30,9))) AS s, COUNT(*) AS n
  FROM ex GROUP BY label, pos
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS cv
  FROM sums GROUP BY label
),
d AS (
  SELECT e.vec_id, e.label, {chain} AS d2
  FROM e JOIN cent c USING (label)
)
SELECT vec_id, label, d2, rank FROM (
  SELECT vec_id, label, d2,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY label ORDER BY d2 DESC, vec_id ASC) AS BIGINT) AS rank
  FROM d
) WHERE rank <= {top_n}
"""


@register("emb_label_outliers", oracle=_centroid_outlier_oracle())
def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-label mining: top-10 vectors farthest (squared L2) from
    their own label's centroid — mislabel/OOD suspects. Centroids from
    order-independent decimal sums; distances fold left-associated, so
    DuckDB replays bit-equally."""
    emb = table(spark, sf_dir, "embeddings")
    return S.label_centroid_outliers(emb, top_n=10)


@register("ann_ivf_topk", oracle=_ivf_topk_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, probe 4 of 16 cells — FULLY ORACLED via the
    deterministic pivot quantizer (cells = embeddings of the 16
    smallest vec_ids; DuckDB re-derives the identical centroids from
    the table and replays cell assignment with a bit-equal explicit
    squared-L2 chain). The KMeans quantizer remains the production
    default (ops/similarity.ivf_index); its recall is pinned in
    tests/test_ops.py."""
    emb = table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=10, n_cells=16, n_probe=4,
        quantizer="pivot",
    )


# ---------------------------------------------------------------------------
# Scalar quantization (int8)
# ---------------------------------------------------------------------------

_QSCALE_SQL = (
    "SELECT max(list_max(list_transform(CAST(embedding AS DOUBLE[]),"
    " x -> abs(x)))) AS scale FROM embeddings"
)
# NB: DuckDB forbids subqueries inside lambdas, so the scale CTE is
# cross-joined and referenced as a plain column
_QVEC_SQL = (
    "list_transform(CAST(embedding AS DOUBLE[]),"
    " x -> CAST(floor(x * 127.0 / scale + 0.5) AS INT))"
)


@register(
    "emb_quantize",
    oracle=f"""
WITH s AS ({_QSCALE_SQL})
SELECT vec_id,
       array_to_string({_QVEC_SQL}, ',') AS qvec,
       scale
FROM embeddings, s
""",
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 scalar quantization of the embedding
    corpus (ops/similarity.py quantize_embeddings) — 4× smaller at
    rest, integer-exact dot products downstream. The oracle replays
    the identical floor(x·127/scale + 0.5) arithmetic in DuckDB; the
    vector is exposed as a joined string so the comparison is
    type-unambiguous."""
    q = S.quantize_embeddings(table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",").alias(
            "qvec"
        ),
        "scale",
    )


@register(
    "ann_quantized_topk",
    oracle=f"""
WITH s AS ({_QSCALE_SQL}),
q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings, s)
SELECT * FROM (
  SELECT a.vec_id AS query_id, c.vec_id AS cand_id,
         list_inner_product(a.qv, c.qv)
           / (sqrt(list_inner_product(a.qv, a.qv))
              * sqrt(list_inner_product(c.qv, c.qv))) AS qcos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_inner_product(a.qv, c.qv)
                      / (sqrt(list_inner_product(a.qv, a.qv))
                         * sqrt(list_inner_product(c.qv, c.qv))) DESC,
                    c.vec_id
         ) AS BIGINT) AS rank
  FROM q a JOIN q c ON a.vec_id != c.vec_id
  WHERE a.vec_id < 8
) WHERE rank <= 10
""",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 over int8-quantized vectors — the compressed
    scorer (integer dots are exact in both engines, so even this
    APPROXIMATE operator is bit-oracled; recall vs the float exact
    top-k is pinned in tests/test_ops.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return S.quantized_topk(emb, emb.filter(F.col("vec_id") < 8), k=10)


def _semantic_dedup_oracle(
    n_cells: int = 16, threshold: float = 0.4, dim: int = 64
) -> str:
    d = _sqdist_sql("e.v", "piv.pv", dim)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
piv AS (SELECT vec_id AS cell, v AS pv FROM e ORDER BY vec_id LIMIT {n_cells}),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, piv.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d}, piv.cell) AS rn
    FROM e CROSS JOIN piv
  ) WHERE rn = 1
)
SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(x.v, y.v) AS cos
FROM assign a
JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
JOIN e x ON x.vec_id = a.vec_id
JOIN e y ON y.vec_id = b.vec_id
WHERE list_cosine_similarity(x.v, y.v) >= {threshold}
"""


@register("dedup_semantic", oracle=_semantic_dedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: coarse-quantizer cells bound the pairwise-cosine
    search to within-cell candidates (ops/similarity.py
    semantic_dedup_pairs) — the cluster-then-dedup shape of Abbas et
    al. 2023. Oracled via the deterministic pivot quantizer (same
    replay as ann_ivf_topk); KMeans cells are the production default.
    cos ≥ 0.4 matches dedup_embedding_cosine's threshold rationale
    (synthetic embeddings are near-orthogonal)."""
    return S.semantic_dedup_pairs(
        table(spark, sf_dir, "embeddings"), n_cells=16, threshold=0.4,
        quantizer="pivot",
    )


@register(
    "ann_hard_negatives",
    oracle="""
SELECT * FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS c_label,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id
         ) AS BIGINT) AS rank
  FROM embeddings q JOIN embeddings c
    ON q.vec_id != c.vec_id AND q.label != c.label
  WHERE q.vec_id < 8
) WHERE rank <= 10
""",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: per query, the 10 most
    cosine-similar corpus vectors with a DIFFERENT label
    (ops/similarity.py hard_negative_topk). Broadcast queries, corpus
    scan never shuffles, bounded per-query window."""
    emb = table(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(emb, emb.filter(F.col("vec_id") < 8), k=10)


# -- oracle-exact Lloyd k-means (r13) -----------------------------------------

_KM_K, _KM_DIM, _KM_SCALE = 8, 64, 1 << 20


def _km_chain(a: str, b: str, dim: int) -> str:
    """Left-associated quantized squared-L2 chain — same fold order as
    the Spark zip_with/aggregate in _nearest_cells (see _sqdist_sql)."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - {b}[{i}])"
        f" * (CAST({a}[{i}] AS DOUBLE) - {b}[{i}])"
        for i in range(1, dim + 1)
    )


def _km_assign_sql(cent_cte: str, dim: int) -> str:
    return f"""
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_km_chain('e.qv', 'c.cv', dim)} ASC, c.cell ASC) AS rn
    FROM e CROSS JOIN {cent_cte} c
  ) WHERE rn = 1
"""


def _kmeans_oracle(k: int, dim: int, scale: int) -> str:
    means = ", ".join(
        f"CAST(SUM(e.qv[{i}]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {float(scale)}) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cell, list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
  FROM e ORDER BY vec_id LIMIT {k}
),
a1 AS ({_km_assign_sql('c0', dim)}),
m1 AS (
  SELECT a1.cell, [{means}] AS cv
  FROM a1 JOIN e USING (vec_id) GROUP BY a1.cell
),
c1 AS (
  SELECT c0.cell, COALESCE(m1.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN m1 USING (cell)
),
a2 AS ({_km_assign_sql('c1', dim)})
SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a2 ORDER BY vec_id
"""


@register("ann_kmeans_lloyd", oracle=_kmeans_oracle(_KM_K, _KM_DIM, _KM_SCALE))
def ann_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means with EXACT cross-engine parity (ops/similarity.py
    kmeans_lloyd): fixed-point quantized coords, deterministic init
    (k smallest ids), left-associated distance chains, integer-exact
    centroid sums with SQL-side double division — one full
    assign→recompute→assign cycle replayed step-for-step by the DuckDB
    oracle. The engine-specific fast path (pyspark.ml KMeans) remains
    ivf_centroids; this is the auditable variant a pipeline uses when
    cluster assignments must be reproducible across engines/runs."""
    from sqlpp_spark.ops.similarity import kmeans_lloyd

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=_KM_K, n_rounds=1, dim=_KM_DIM).orderBy("vec_id")


_KC_K, _KC_DIM, _KC_SCALE = 6, 64, 1 << 20


def _kc_dist(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(1, dim + 1)
    )


def _kcenter_oracle(k: int, dim: int, scale: int) -> str:
    """Unrolled greedy max-min selection — one CTE pair per iteration
    (farthest point, then min-distance refresh), all-integer."""
    d = _kc_dist("e.qv", "c.qv", dim)
    parts = [f"""
WITH e AS (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         x -> CAST(floor(x * {float(scale)}) AS BIGINT)) AS qv
  FROM embeddings
),
c1 AS (SELECT vec_id AS cid, qv FROM e ORDER BY vec_id LIMIT 1),
md1 AS (SELECT e.vec_id, {d} AS md FROM e CROSS JOIN c1 c)"""]
    for i in range(2, k + 1):
        parts.append(f""",
c{i} AS (SELECT e.vec_id AS cid, e.qv FROM md{i - 1} m JOIN e USING (vec_id)
         ORDER BY m.md DESC, e.vec_id ASC LIMIT 1)""")
        if i < k:
            parts.append(f""",
md{i} AS (SELECT m.vec_id, LEAST(m.md, {d}) AS md
          FROM md{i - 1} m JOIN e USING (vec_id) CROSS JOIN c{i} c)""")
    cen = " UNION ALL ".join(f"SELECT cid, qv FROM c{i}" for i in range(1, k + 1))
    parts.append(f""",
cen AS ({cen}),
a AS (
  SELECT e.vec_id, c.cid AS center_id, {_kc_dist('e.qv', 'c.qv', dim)} AS sqdist,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {_kc_dist('e.qv', 'c.qv', dim)} ASC, c.cid ASC) AS rn
  FROM e CROSS JOIN cen c
)
SELECT vec_id, CAST(center_id AS BIGINT) AS center_id,
       CAST(sqdist AS BIGINT) AS sqdist
FROM a WHERE rn = 1""")
    return "".join(parts)


@register("ann_kcenter_coreset", oracle=_kcenter_oracle(_KC_K, _KC_DIM, _KC_SCALE))
def ann_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset / diversity selection (Gonzalez max-min,
    the standard 2-approximation used for coreset-based data
    selection): ALL-INTEGER arithmetic — selection order and coverage
    map are bit-identical in any engine; the DuckDB oracle replays
    every selection step. See ops/similarity.py kcenter_greedy."""
    from sqlpp_spark.ops.similarity import kcenter_greedy

    emb = table(spark, sf_dir, "embeddings")
    return kcenter_greedy(emb, k=_KC_K, dim=_KC_DIM).orderBy("vec_id")
