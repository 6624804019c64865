"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (100 TB):
- every operator is a pure DataFrame composition — shuffles only on
  hash keys (uniformly distributed by construction), partial
  aggregation map-side, no driver materialization
- exact dedup shuffles one 60-bit key per doc (not the text)
- MinHash: explode→min-agg computes the signature in ONE shuffle per
  doc (all permutations as independent agg columns); LSH banding then
  shuffles (band_idx, band_hash) pairs — docs only meet when a band
  collides, which is the whole point of LSH at scale
- pair verification joins shingle sets only for candidate pairs
- embedding near-dup: blocked cross-join; at scale replace the block
  predicate with the LSH bucketer from similarity.py
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlpp_spark.ops import ensure_parallelism
from sqlpp_spark.ops._exprcache import cached_expr, cached_exprs
from sqlpp_spark.ops.hashing import (
    HASH_MOD, MINHASH_A, N_PERMS, hash64, perm_hash,
)
from sqlpp_spark.ops.text import normalize_text

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_hash64(text_col: str = "text") -> Column:
    """Memoized ``hash64(normalize_text(text_col))`` tree (the same
    tree as text.fingerprint — shared cache key)."""
    return cached_expr(
        ("fingerprint", text_col),
        lambda: hash64(normalize_text(F.col(text_col))),
    )


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) docs: canonical id = min id,
    n_dups = group size. One shuffle on the 60-bit content hash."""
    h = content_hash64(text_col).alias("content_hash")
    df = ensure_parallelism(df)
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one doc per content hash (the min-id row)."""
    groups = exact_duplicates(df, text_col, id_col)
    return df.join(
        groups.select(F.col("canonical_id").alias(id_col)), on=id_col, how="left_semi"
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def _shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int,
    fast_hash: bool = False, carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc, shingle_hash) rows (NOT deduplicated) with the shingle
    built inside whole-stage codegen: explode a position sequence,
    then slice/array_join the token array per position. Spark's
    higher-order functions (transform/zip_with) run interpreted, so
    this explode form is ~2× their throughput on the same data —
    byte-identical shingle strings either way. Docs shorter than k
    tokens produce one whole-doc shingle (position marker 0).

    ``carry_cols`` are per-doc columns replicated onto every shingle
    row — they ride only to the map-side partial aggregation of the
    consumer's groupBy(doc), so a fused caller (pipeline_clean_corpus)
    can compute doc-level metadata and shingles in ONE text pass."""
    df = ensure_parallelism(df)
    # constant unresolved trees, memoized (driver-side py4j cost —
    # ops/_exprcache.py); aliases applied fresh at each use
    toks = cached_expr(
        ("shingle_toks", text_col),
        lambda: F.split(normalize_text(F.col(text_col)), " "),
    )
    n_toks = cached_expr(("shingle_ntoks", text_col), lambda: F.size(toks))
    pos = cached_expr(
        ("shingle_pos", k),
        lambda: F.when(
            F.col("__n") >= k, F.sequence(F.lit(1), F.col("__n") - (k - 1))
        ).otherwise(F.array(F.lit(0))),
    )
    sh_hash = cached_expr(
        ("shingle_hash", k, fast_hash),
        lambda: (F.xxhash64 if fast_hash else hash64)(
            F.when(
                F.col("__i") > 0,
                F.array_join(F.slice("__t", F.col("__i"), k), " "),
            ).otherwise(F.array_join("__t", " "))
        ),
    )
    carry = [F.col(c) for c in carry_cols]
    base = df.select(
        F.col(id_col), *carry, toks.alias("__t"), n_toks.alias("__n")
    ).filter(F.col("__n") > 0)
    ex = base.select(
        F.col(id_col), *carry, F.col("__t"), F.explode(pos).alias("__i")
    )
    return ex.select(F.col(id_col), *carry, sh_hash.alias("sh_hash"))


def shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
    fast_hash: bool = False,
) -> DataFrame:
    """(doc, shingle_hash) pairs, distinct per doc.

    fast_hash=True swaps the md5-based cross-engine ``hash64`` for
    JVM-native ``xxhash64`` (~3× cheaper). Safe whenever downstream
    only tests shingle EQUALITY (intersection/Jaccard counts are
    hash-agnostic); keep the default for minhash, whose signatures
    embed the hash values themselves and must match the oracle."""
    return _shingle_rows(df, text_col, id_col, k, fast_hash).distinct()


def _signatures_from_sh(sh: DataFrame, id_col: str, n_perms: int = N_PERMS) -> DataFrame:
    aggs = [
        F.min(perm_hash(F.col("sh_hash"), i)).alias(f"mh{i}") for i in range(n_perms)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, n_perms: int = N_PERMS, bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.
    bands=4 over 16 perms → r=4 rows/band; P(candidate) = 1-(1-j^4)^4."""
    sh = shingle_hashes(df, text_col, id_col, k)
    return _lsh_pairs_from_sh(sh, id_col, n_perms, bands)


def _lsh_pairs_from_sh(
    sh: DataFrame, id_col: str, n_perms: int = N_PERMS, bands: int = 4,
) -> DataFrame:
    sigs = _signatures_from_sh(sh, id_col, n_perms)
    return _band_pairs(sigs, id_col, n_perms, bands)


def _check_bands(n_perms: int, bands: int) -> None:
    """LSH banding is only well-defined when every permutation lands in
    exactly one band; silently dropping the remainder (n_perms=16,
    bands=5 → 15 used) would weaken band hashes vs the requested
    config and diverge from a same-parameter oracle."""
    if bands < 1 or n_perms % bands != 0:
        raise ValueError(
            f"n_perms ({n_perms}) must be a positive multiple of bands ({bands})"
        )


def _banded_rows(
    sigs: DataFrame, id_col: str, n_perms: int = N_PERMS, bands: int = 4,
) -> DataFrame:
    """(id, band, bh) rows from a signature frame — the LSH banding
    primitive shared by the batch pair-join and the persistent probe
    index. Band hash via the cross-engine md5 primitive so the whole
    LSH pipeline stays oracle-checkable; swap to F.hash (murmur3) for
    raw throughput in production."""
    _check_bands(n_perms, bands)
    rows = n_perms // bands
    band_hashes = cached_exprs(
        ("band_hashes", n_perms, bands),
        lambda: [
            hash64(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                )
            )
            for b in range(bands)
        ],
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bh.alias("bh"))
            for b, bh in enumerate(band_hashes)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_structs).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh")
    )


def _band_pairs(
    sigs: DataFrame, id_col: str, n_perms: int = N_PERMS, bands: int = 4,
    persist_banded: bool = True,
) -> DataFrame:
    banded = _banded_rows(sigs, id_col, n_perms, bands)
    # persist unless the caller already cached the signature stage
    # (then re-deriving band hashes per side is just md5s, and the
    # extra eager job costs more than the recompute)
    if persist_banded:
        from pyspark import StorageLevel

        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        banded.count()  # eager: the join's two map stages would race a lazy persist
    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if persist_banded:
        # caller releases via ops.release_intermediates(result)
        out._sqlpp_persisted = [banded]
    return out


def shingle_hash_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
) -> DataFrame:
    """One row per doc with the DISTINCT shingle-hash ARRAY, built as
    collect_set over the codegen'd exploded shingle rows. Trade-off vs
    the zero-shuffle ``array_distinct(transform(...))`` form: one
    extra shuffle of the hash sets (groupBy id, partial-aggregated
    map-side since a doc's rows are co-partitioned), but the shingle
    construction and md5 run inside whole-stage codegen instead of the
    interpreted higher-order-function evaluator — ~2× faster end to
    end. Set order is nondeterministic; every consumer (array_min
    signatures, array_intersect Jaccard) is order-insensitive."""
    return (
        _shingle_rows(df, text_col, id_col, k)
        .groupBy(id_col)
        .agg(F.collect_set("sh_hash").alias("shs"))
    )


def minhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash+LSH pipeline: candidates via banding, then exact
    Jaccard verification ≥ threshold.

    Array formulation — the scale design: signatures are per-ROW
    ``array_min(transform(shs, perm_i))`` over the doc's shingle-hash
    array, so the signature stage needs NO shuffle at all (the
    explode→groupBy formulation shuffles every (doc, shingle) pair).
    The only shuffles left are the tiny (band, band_hash) candidate
    join and the per-candidate array fetch; Jaccard verification is
    per-pair ``array_intersect`` arithmetic.

    ONE persist, ONE eager job: the arrays and the 16 signature
    columns are materialized together, so banding (both self-join
    sides) and verification (both array fetches) all read the same
    cached frame. Re-deriving band hashes from cached signatures is
    16 cheap md5s per doc per side — persisting the banded rows too
    (a second eager job) costs more in job latency than it saves."""
    from pyspark import StorageLevel

    # ONE groupBy computes both the shingle-hash set (for Jaccard
    # verification) and the 16 signature mins: perm_hash evaluates in
    # whole-stage codegen on the exploded rows and each min is
    # partial-aggregated map-side, so the signatures cost no extra
    # shuffle AND no interpreted higher-order-function pass (the
    # previous array_min(transform(...)) form ran 16 interpreted array
    # walks per doc). min over the multiset equals min over the set —
    # perm_hash is a pure function of the shingle hash.
    enriched = (
        _shingle_rows(df, text_col, id_col, k)
        .groupBy(id_col)
        .agg(*minhash_enrich_aggs())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    enriched.count()  # eager: four branches would race a lazy persist
    out = verified_pairs_from_enriched(enriched, id_col, threshold)
    # caller releases the cached enriched frame via
    # ops.release_intermediates(result) after materializing
    out._sqlpp_persisted = [enriched]
    return out


def minhash_enrich_aggs(n_perms: int = N_PERMS) -> list[Column]:
    """The per-doc aggregate columns of the MinHash pipeline: the
    distinct shingle-hash set (Jaccard verification) plus the n_perms
    signature mins — shared between minhash_near_duplicates and fused
    callers that fold extra doc-level aggregates into the same
    groupBy (pipeline_clean_corpus)."""
    mins = cached_exprs(
        ("minhash_mins", "sh_hash", n_perms),
        lambda: [
            F.min(perm_hash(F.col("sh_hash"), i)) for i in range(n_perms)
        ],
    )
    collect = cached_expr(
        ("collect_set", "sh_hash"), lambda: F.collect_set("sh_hash")
    )
    return [
        collect.alias("shs"),
        *[m.alias(f"mh{i}") for i, m in enumerate(mins)],
    ]


def verified_pairs_from_enriched(
    enriched: DataFrame, id_col: str = "doc_id", threshold: float = 0.7,
    n_perms: int = N_PERMS, bands: int = 4,
) -> DataFrame:
    """LSH banding + exact-Jaccard verification over a (persisted)
    per-doc frame carrying ``shs`` and ``mh0..mh{n-1}``. Band hashes
    are doc-local functions of the signature columns, so filtering
    ``enriched`` BEFORE this call (e.g. to exact-dedup survivors)
    yields exactly the pairs a from-scratch run over the filtered
    corpus would."""
    sigs = enriched.select(id_col, *[f"mh{i}" for i in range(n_perms)])
    cands = _band_pairs(sigs, id_col, n_perms, bands, persist_banded=False)
    a = enriched.select(F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a"))
    b = enriched.select(F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - inter
    return (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a", "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Min-label propagation connected components over an edge list —
    the iterative-algorithm pattern Spark SQL alone can't express.
    Each round every node adopts the minimum label among itself and
    its neighbors, then POINTER-JUMPS: it also adopts its label's own
    label (the shortcutting step of Shiloach–Vishkin / the star
    contraction in Kiveris et al.'s MapReduce CC). The jump halves the
    remaining label-chain depth every round, so convergence is
    O(log diameter) rounds instead of O(diameter) — a 1000-node path
    graph labels in ~10 rounds, not 999 (pinned in
    tests/test_ops.py::test_connected_components_path_graph_log_rounds).
    Each iteration is two key-shuffles (neighbor-min agg + label
    lookup); intermediate labels persist so lineage doesn't re-grow;
    loop exits when no label changes.

    Returns (node, component) with component = min node id reachable,
    materialized via localCheckpoint (lineage-free). The round count is
    exposed as ``result._sqlpp_cc_rounds``.
    """
    import warnings

    from pyspark import StorageLevel

    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).unionByName(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
    )
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    # localCheckpoint (not persist): the jump step references the
    # round's label table twice, so lineage would DOUBLE per round —
    # persist caches data but the analyzed plan still grows 2^rounds.
    # Checkpointing truncates the plan to the materialized RDD. Labels
    # are a narrow (node, comp) table, so executor-local storage is
    # cheap; on a real cluster a reliable checkpoint dir trades a
    # little IO for fault tolerance on long runs.
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        msgs = (
            sym.join(labels, on=sym.s == labels.node)
            .select(F.col("t").alias("node"), F.col("comp"))
        )
        nmin = (
            labels.select("node", "comp").unionByName(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp ← comp(comp). Labels are always node ids
        # (mins of reachable ids), so every comp is a key in nmin; the
        # left join + coalesce only guards degenerate inputs.
        lut = nmin.select(
            F.col("node").alias("__k"), F.col("comp").alias("__v")
        )
        new_labels = (
            nmin.join(lut, on=nmin.comp == lut.__k, how="left")
            .select("node", F.coalesce("__v", "comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("comp", "old"), on="node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    if changed > 0:
        # long-diameter chains can exhaust the round budget; a silent
        # partial answer would split one component into several
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — components may be split; "
            "raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    labels._sqlpp_cc_rounds = rounds
    return labels


def near_duplicate_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash+LSH verified pairs → connected
    components → (doc_id, cluster_id, cluster_size), cluster_id = the
    component's minimum doc id (its canonical representative). The
    real-world dedup output: keep cluster_id rows, drop the rest."""
    pairs = minhash_near_duplicates(df, text_col, id_col, k, threshold)
    comp = connected_components(pairs.select("id_a", "id_b"))
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = (
        comp.join(sizes, on="comp")
        .select(
            F.col("node").alias(id_col),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
        )
    )
    out._sqlpp_persisted = [
        *getattr(pairs, "_sqlpp_persisted", ()),
        comp,  # connected_components returns its labels persisted
    ]
    return out


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked all-pairs — the exact baseline MinHash approximates)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.5, block_col: str | None = "lang",
    allow_quadratic: bool = False, strategy: str = "auto",
    skew_factor: float = 4.0,
) -> DataFrame:
    """Exact Jaccard over word k-grams within a block (default: same
    ``lang``). Two exact candidate strategies, identical results
    (pinned by tests/test_ops.py::test_ngram_jaccard_strategies_agree),
    plus ``"auto"`` (default) which picks between them from the
    measured shingle document-frequency distribution: the equality
    join EMITS exactly ``Σ_shingle df²`` rows, so ``auto`` reads that
    sum off the frequency agg (which the prefix path needs anyway) and
    chooses ``"prefix"`` when ``Σ df² > skew_factor × total shingle
    rows`` — i.e. when the join would rewrite the input more than
    ``skew_factor`` times over. The earlier ``max(df)²`` form of this
    test caught only a Zipf hot head; the 10× scale rehearsal
    (SCALING.md) showed a FLAT distribution also goes quadratic as a
    fixed-vocabulary corpus grows (every df ∝ corpus ⇒ Σ df² ∝ n²)
    while max(df)² stays far below the threshold — Σ df² is the
    join's actual output-row count, so the decision now tracks the
    real cost on any distribution.

    - ``strategy="join"``: shingle-equality self-join +
      per-pair count. One partial-aggregated shuffle; fastest when the
      shingle document-frequency distribution is flat (measured ~2×
      the prefix path on the synthetic fixtures, whose tiny vocabulary
      has no Zipf head).
    - ``strategy="prefix"``: PREFIX FILTERING (AllPairs/PPJoin). Order
      every doc's shingles by global document frequency (rarest
      first); join candidates only on each doc's first
      ``|d| − ⌈t·|d|⌉ + 1`` shingles — any pair with Jaccard ≥ t must
      share a prefix shingle (pigeonhole on the ≥ t·|A∪B| common
      shingles), so the result is EXACT while the join never touches
      the hot head of the distribution. Candidates verify with one
      array_intersect over per-doc hash sets. On real (Zipf) web text
      the hot head is what makes the equality join quadratic — at
      100 TB this is the strategy to pick.

    Still, at corpus scale use minhash_near_duplicates and keep this
    as the verification oracle on a bounded sample.

    Guard: ``block_col=None`` means a single global block — refuse
    unless the caller passes ``allow_quadratic=True``, acknowledging
    the worst case on their (sampled) input."""
    from pyspark import StorageLevel

    if strategy not in ("auto", "join", "prefix"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if block_col is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs with block_col=None is all-pairs "
            "quadratic; pass allow_quadratic=True for a bounded sample "
            "or use minhash_near_duplicates at scale"
        )

    # hash values never leave this operator (only shingle equality
    # matters) → xxhash64; persist: the table feeds 3 plan branches
    sh = shingle_hashes(df, text_col, id_col, k, fast_hash=True)
    if block_col is not None:
        blocks = df.select(F.col(id_col), F.col(block_col).alias("__blk"))
        sh = sh.join(blocks, on=id_col)
    else:
        sh = sh.withColumn("__blk", F.lit(1))
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()  # eager: three downstream branches would race a lazy persist

    freq = None
    if strategy in ("auto", "prefix"):
        # the prefix path needs this agg anyway; auto reads two scalars
        # off it to decide, so the decision costs one narrow (hash, df)
        # shuffle over the already-persisted shingle table
        freq = sh.groupBy("__blk", "sh_hash").agg(
            F.count(F.lit(1)).alias("__df")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    if strategy == "auto":
        stats = freq.agg(
            # double, not bigint: at the web scale this guard exists
            # for, Σ df² exceeds 2^63 and a long sum would wrap
            # silently (threshold test needs magnitude, not exactness)
            F.sum(F.col("__df").cast("double") * F.col("__df")).alias("sum_df2"),
            F.sum("__df").alias("n_rows"),
        ).first()
        hot = (
            stats["sum_df2"] is not None
            and stats["sum_df2"] > skew_factor * stats["n_rows"]
        )
        strategy = "prefix" if hot else "join"

    if strategy == "prefix":
        w = W.partitionBy("__blk", id_col)
        ranked = sh.join(freq, on=["__blk", "sh_hash"]).select(
            F.col(id_col), F.col("__blk"), F.col("sh_hash"),
            F.row_number()
            .over(w.orderBy(F.col("__df").asc(), F.col("sh_hash").asc()))
            .alias("__rn"),
            F.count(F.lit(1)).over(w).alias("sz"),
        )
        prefix = ranked.filter(
            F.col("__rn")
            <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
        )
        cand = (
            prefix.select(F.col(id_col).alias("id_a"), "__blk", "sh_hash")
            .join(
                prefix.select(F.col(id_col).alias("id_b"), "__blk", "sh_hash"),
                on=["__blk", "sh_hash"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # verify: per-doc hash sets, candidate side hash-joined twice
        sets = sh.groupBy(id_col).agg(
            F.collect_set("sh_hash").alias("shs"),
            F.count(F.lit(1)).alias("sz"),
        )
        inter = (
            cand.join(
                sets.select(
                    F.col(id_col).alias("id_a"),
                    F.col("shs").alias("__sa"),
                    F.col("sz").alias("sz_a"),
                ),
                on="id_a",
            )
            .join(
                sets.select(
                    F.col(id_col).alias("id_b"),
                    F.col("shs").alias("__sb"),
                    F.col("sz").alias("sz_b"),
                ),
                on="id_b",
            )
            .select(
                "id_a", "id_b", "sz_a", "sz_b",
                F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
            )
        )
    else:
        sizes = sh.groupBy(id_col, "__blk").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.select(F.col(id_col).alias("id_a"), F.col("sh_hash"), F.col("__blk"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("sh_hash"), F.col("__blk"))
        pair_counts = (
            a.join(b, on=["__blk", "sh_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        inter = pair_counts.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            on="id_a",
        ).join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            on="id_b",
        )
    out = (
        inter.select(
            "id_a", "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # release via ops.release_intermediates
    out._sqlpp_persisted = [sh] if freq is None else [sh, freq]
    out._sqlpp_jaccard_strategy = strategy  # observable for tests/tuning
    return out


def shingle_containment_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.5, block_col: str | None = "lang",
    allow_quadratic: bool = False,
) -> DataFrame:
    """DIRECTIONAL near-duplication: containment(A→B) =
    |S(A) ∩ S(B)| / |S(A)| — the fraction of A's word-k-gram shingles
    that also occur in B. Unlike (symmetric) Jaccard, containment
    detects a SMALL document living inside a big one — quoted
    passages, boilerplate-wrapped copies, article-in-aggregator pages
    — which resemblance misses because the size imbalance crushes the
    union term. Emits ordered pairs (id_a = the contained side) with
    both set sizes so callers can distinguish wrap (sz_b >> sz_a)
    from mutual near-dup (also caught by ngram_jaccard_pairs).

    Scale path: PPJoin-style prefix filtering applied to the CONTAINED
    side only (the asymmetry means the container side cannot be
    pruned by its own size). Order each doc's shingles rarest-first by
    global document frequency; if containment ≥ t then B must share
    at least one of A's first ``sz_a - ceil(t·sz_a) + 1`` shingles —
    otherwise at most ``ceil(t·sz_a) - 1`` could intersect. Candidates
    are therefore prefix(A) equi-joined to the full shingle table
    (bounded by Σ_s df_prefix(s)·df(s); rarest-first keeps
    df_prefix small), then verified exactly via per-doc hash sets.
    Same blocking/guard contract as ``ngram_jaccard_pairs``."""
    from pyspark import StorageLevel

    if block_col is None and not allow_quadratic:
        raise ValueError(
            "shingle_containment_pairs with block_col=None is all-pairs "
            "quadratic; pass allow_quadratic=True for a bounded sample"
        )
    sh = shingle_hashes(df, text_col, id_col, k, fast_hash=True)
    if block_col is not None:
        blocks = df.select(F.col(id_col), F.col(block_col).alias("__blk"))
        sh = sh.join(blocks, on=id_col)
    else:
        sh = sh.withColumn("__blk", F.lit(1))
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()  # eager: prefix + verify branches would race a lazy persist
    freq = sh.groupBy("__blk", "sh_hash").agg(
        F.count(F.lit(1)).alias("__df")
    )
    w = W.partitionBy("__blk", id_col)
    ranked = sh.join(freq, on=["__blk", "sh_hash"]).select(
        F.col(id_col), F.col("__blk"), F.col("sh_hash"),
        F.row_number()
        .over(w.orderBy(F.col("__df").asc(), F.col("sh_hash").asc()))
        .alias("__rn"),
        F.count(F.lit(1)).over(w).alias("sz"),
    )
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    )
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "__blk", "sh_hash")
        .join(
            sh.select(F.col(id_col).alias("id_b"), "__blk", "sh_hash"),
            on=["__blk", "sh_hash"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = sh.groupBy(id_col).agg(
        F.collect_set("sh_hash").alias("shs"),
        F.count(F.lit(1)).alias("sz"),
    )
    inter = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("shs").alias("__sa"),
                F.col("sz").alias("sz_a"),
            ),
            on="id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("shs").alias("__sb"),
                F.col("sz").alias("sz_b"),
            ),
            on="id_b",
        )
        .select(
            "id_a", "id_b", "sz_a", "sz_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
        )
    )
    out = inter.select(
        "id_a", "id_b",
        (F.col("n_inter").cast("double") / F.col("sz_a").cast("double"))
        .alias("containment"),
        F.col("sz_a").cast("long").alias("sz_a"),
        F.col("sz_b").cast("long").alias("sz_b"),
    ).filter(F.col("containment") >= threshold)
    out._sqlpp_persisted = [sh]
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-doc SimHash signature, computed per-ROW with a single array
    aggregate: fold the token-hash array into `bits` running ±1 sums
    (zip_with against the bit-mask literal array), then collapse signs
    into the signature. NO shuffle, no explode — each token's md5 is
    computed exactly once inside the fold. The explode→groupBy
    formulation this replaces shuffled every (doc, token) pair."""
    pows = F.array(*[F.lit(1 << i).cast("bigint") for i in range(bits)])
    toks = F.split(normalize_text(F.col(text_col)), " ")

    def step(acc, tok):
        th = hash64(tok)
        signs = F.transform(
            pows,
            lambda p: F.when(th.bitwiseAND(p) != 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint"),
        )
        return F.zip_with(acc, signs, lambda a, b: a + b)

    sums = F.aggregate(
        toks, F.array_repeat(F.lit(0).cast("bigint"), bits), step
    )
    sig = F.aggregate(
        F.zip_with(
            sums, pows, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    return ensure_parallelism(df).select(F.col(id_col), sig.alias("simhash"))


def simhash_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs whose SimHash signatures collide exactly (hamming 0). For
    hamming ≤ d, see ``simhash_near_duplicates`` (banded join)."""
    sigs = simhash(df, text_col, id_col)
    return sigs.groupBy("simhash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_docs")
    ).filter(F.col("n_docs") > 1)


def _simhash_chunk_bounds(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(low_bit, width) per chunk; remainder bits go to the last chunk."""
    base = bits // n_chunks
    bounds, lo = [], 0
    for c in range(n_chunks):
        width = base + (bits - base * n_chunks if c == n_chunks - 1 else 0)
        bounds.append((lo, width))
        lo += width
    return bounds


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 32, max_hamming: int = 3,
) -> DataFrame:
    """EXACT hamming ≤ d pairs via the banded LSH trick: split the
    signature into d+1 chunks — two signatures within hamming d must
    agree on at least one chunk (pigeonhole), so an equi self-join per
    chunk finds EVERY qualifying pair; XOR-popcount verification then
    drops the false candidates. No all-pairs step anywhere: candidate
    volume is same-chunk-value collisions only (~n²/2^(bits/(d+1))
    per band for uniform signatures).

    Returns (id_a, id_b, hamming) with hamming ≤ max_hamming.
    """
    from pyspark import StorageLevel

    sigs = simhash(df, text_col, id_col, bits).persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()  # eager: both self-join sides read it
    out = hamming_near_duplicates(
        sigs, sig_col="simhash", id_col=id_col, bits=bits,
        max_hamming=max_hamming,
    )
    out._sqlpp_persisted = [sigs]  # release via ops.release_intermediates
    return out


def hamming_near_duplicates(
    sigs: DataFrame, sig_col: str, id_col: str,
    bits: int = 64, max_hamming: int = 3,
) -> DataFrame:
    """EXACT hamming ≤ d pairs over any integer-signature frame
    (simhash text signatures, image dHashes, ...): the banded
    pigeonhole join simhash_near_duplicates always used, factored
    generic in r12. ``shiftrightunsigned`` (not arithmetic shift)
    keeps full-width 64-bit signatures correct — the sign bit of a
    packed int64 must not smear across chunks. Caller persists
    ``sigs`` if its lineage is expensive (both self-join sides read
    it). Returns (id_a, id_b, hamming)."""
    n_chunks = max_hamming + 1

    def _chunk(lo: int, width: int):
        c = F.shiftrightunsigned(F.col(sig_col), lo)
        # a 64-bit-wide chunk needs no mask (and its mask literal
        # would not fit a signed long)
        return c if width >= 64 else c.bitwiseAND(F.lit((1 << width) - 1))

    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("band"),
                _chunk(lo, width).alias("chunk"),
            )
            for c, (lo, width) in enumerate(
                _simhash_chunk_bounds(bits, n_chunks)
            )
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(chunk_structs).alias("bc")
    ).select(
        id_col, sig_col,
        F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sa"),
        "band", "chunk",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sb"),
        "band", "chunk",
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, computed JVM-side
    with zip_with + aggregate (no UDF). Sequential accumulation gives
    deterministic doubles."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def embedding_near_duplicates(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = 0.95, exact: bool = False,
    dim: int | None = None, n_planes: int = 4, n_tables: int = 2,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    DEFAULT is the random-hyperplane LSH bucketed path
    (similarity.lsh_near_duplicate_pairs): only same-bucket pairs are
    scored — ~|corpus|²/2^n_planes candidates per table instead of
    all pairs, the shape that survives 100 TB. Perfect precision
    (candidates are verified), recall tunable via n_planes/n_tables.

    ``exact=True`` runs the all-pairs quadratic baseline — a
    VERIFICATION mode for bounded samples (recall measurement, oracle
    checks), never the default: its candidate step is a nested-loop
    cross product.

    ``dim`` (LSH path) is inferred from the first row when omitted —
    one tiny driver probe; pass it explicitly in pipelines.
    """
    if not exact:
        from sqlpp_spark.ops.similarity import lsh_near_duplicate_pairs

        if dim is None:
            dim = df.select(F.size(F.col(vec_col))).first()[0]
        return lsh_near_duplicate_pairs(
            df, dim=dim, threshold=threshold, n_planes=n_planes,
            n_tables=n_tables, vec_col=vec_col, id_col=id_col,
        )
    df = ensure_parallelism(df)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, on=F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Exact-substring duplication rate (Lee et al. 2021, arXiv:2107.06499)
# ---------------------------------------------------------------------------


def substring_duplication_rate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, sample_mod: int = 1,
) -> DataFrame:
    """Per-document EXACT-substring duplication rate: the fraction of a
    document's distinct character-k-gram hashes that occur in at least
    one other document ("Deduplicating Training Data Makes Language
    Models Better" measures cross-document substring duplication this
    way; suffix arrays find the spans, this finds the rate).

    Scale shape: only (doc_id, 8-byte gram hash) rows ever shuffle —
    the text stays in the scan stage (rolling hashes are computed
    per-row JVM-side, ops/text.rolling_hashes). One partial-aggregated
    shuffle for gram document-frequency, one hash join back (AQE reuses
    the gram partitioning), one doc_id agg. ``sample_mod > 1`` keeps
    only hashes ≡ 0 (mod sample_mod) on BOTH the numerator and
    denominator — winnowing-style 1/m sampling that cuts the exploded
    volume by m at 100 TB with an unbiased rate estimate.

    Documents shorter than k characters (after normalization) have no
    k-grams: they return ``n_grams = 0, dup_rate = 0.0``.

    Returns (id_col, n_grams, n_dup, dup_rate).
    """
    from sqlpp_spark.ops.text import rolling_hashes

    base = df.select(F.col(id_col), F.col(text_col))
    eligible = base.filter(F.length(normalize_text(F.col(text_col))) >= k)
    grams = eligible.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(rolling_hashes(F.col(text_col), k))
        ).alias("g"),
    )
    if sample_mod > 1:
        grams = grams.filter(F.col("g") % sample_mod == 0)
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__nd"))
    stats = (
        grams.join(freq, on="g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__nd") > 1).cast("bigint")).alias("n_dup"),
        )
    )
    return (
        base.select(id_col)
        .join(stats, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce("n_dup", F.lit(0).cast("bigint")).alias("n_dup"),
            F.coalesce(
                F.col("n_dup").cast("double") / F.col("n_grams").cast("double"),
                F.lit(0.0),
            ).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-based canonical selection (production dedup retention policy)
# ---------------------------------------------------------------------------


def canonical_by_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.7,
) -> DataFrame:
    """Near-dup clustering with a RETENTION POLICY: instead of keeping
    each cluster's minimum id, keep its highest-quality member
    (ops/text.quality_score; ties break to the smaller id). This is
    what production pipelines actually do — the canonical doc should
    be the best copy, not an arbitrary one.

    Docs outside any near-dup cluster are their own singleton cluster
    and are always kept. Only cluster labels and (id, quality) pairs
    shuffle; the clustering itself is minhash-LSH + pointer-jumped
    connected components.

    Returns (id_col, cluster_id, cluster_size, quality, keep).
    """
    from sqlpp_spark.ops.text import quality_score

    clusters = near_duplicate_clusters(df, text_col, id_col, k, threshold)
    scored = df.select(
        F.col(id_col), quality_score(F.col(text_col)).alias("quality")
    )
    full = (
        scored.join(
            clusters.select(id_col, "cluster_id", "cluster_size"),
            on=id_col, how="left",
        )
        .select(
            id_col, "quality",
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce(
                "cluster_size", F.lit(1).cast("bigint")
            ).alias("cluster_size"),
        )
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    out = full.select(
        id_col, "cluster_id", "cluster_size", "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    out._sqlpp_persisted = getattr(clusters, "_sqlpp_persisted", [])
    return out


# ---------------------------------------------------------------------------
# Passage-level dedup (remove duplicated passages, keep documents)
# ---------------------------------------------------------------------------


def passage_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    passage_tokens: int = 32, persist_chunks: bool = True,
) -> DataFrame:
    """Corpus-level PASSAGE dedup (the Dolma/RefinedWeb paragraph-dedup
    shape, over fixed ``passage_tokens``-word windows when the corpus
    has no paragraph marks): every passage that appears verbatim
    elsewhere in the corpus is removed except its FIRST occurrence
    (min (doc, position)), and documents are rewritten from their
    surviving passages. Returns (id, clean_text, n_kept, n_dropped) —
    docs whose every passage is duplicated elsewhere come back with
    empty clean_text, for the caller to drop or keep.

    Scale: the winner per passage hash is a ``min(struct(doc, pos,
    text))`` partial aggregation — map-side combined, so a passage
    duplicated a million times never funnels through one task (a
    window over the hash would). Carrying the text INSIDE the
    min-struct removes the semi-join pass the first formulation
    needed (winner ids back to passage rows): text moves exactly
    twice — once into the hash groupBy (collapsed map-side to one
    candidate per distinct passage per partition) and once keyed by
    doc id for reassembly; since (doc, pos) is unique the text field
    never decides the min. The chunk frame feeds two consumers
    (winners + per-doc totals); ``persist_chunks`` (default True)
    caches it MEMORY_AND_DISK with an eager count (the minhash
    pattern — lazy persist races) and hands it to the caller on
    ``_sqlpp_persisted`` for release — the right trade whenever the
    input's lineage is expensive (a parse/extract/cap pipeline: the
    r12 stage profile, PROFILE_pipeline_crawl_ingest.json, measured
    this form faster than both the semi-join original and a
    narrow-hash persist at sf0.1, bit-identical output). Callers
    whose input is a BARE SCAN pass False: rechunking a cheap scan
    twice costs less than the persist materialization barrier
    (standalone dedup_passages measured ~1.4x slower with the
    persist at sf0.1).
    """
    from pyspark import StorageLevel

    from sqlpp_spark.ops.corpus import chunk_documents

    ch = chunk_documents(
        df, text_col=text_col, id_col=id_col,
        chunk_tokens=passage_tokens, overlap=0,
    )
    if persist_chunks:
        ch = ch.persist(StorageLevel.MEMORY_AND_DISK)
        ch.count()  # eager: two consumers would race a lazy persist
    hashed = ch.select(
        F.col(id_col), "chunk_id", "chunk_text",
        hash64(F.col("chunk_text")).alias("__ph"),
    )
    winners = (
        hashed.groupBy("__ph")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"),
                    F.col("chunk_id").alias("c"),
                    F.col("chunk_text").alias("t"),
                )
            ).alias("w")
        )
        .select(
            F.col("w.i").alias(id_col),
            F.col("w.c").alias("chunk_id"),
            F.col("w.t").alias("chunk_text"),
        )
    )
    kept_agg = (
        winners.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = ch.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_total"))
    out = (
        totals.join(kept_agg, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n_total") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )
    out._sqlpp_persisted = [ch] if persist_chunks else []
    return out


def boilerplate_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    passage_tokens: int = 8, max_doc_frequency: int = 3,
) -> DataFrame:
    """Boilerplate removal (the C4/RefinedWeb hygiene stage): drop
    every passage that appears in MORE than ``max_doc_frequency``
    distinct documents — navigation chrome, cookie banners, license
    footers — from ALL documents (unlike ``passage_dedup``, no first
    occurrence survives; boilerplate is noise, not content). Returns
    (id, clean_text, n_kept, n_dropped).

    Scale: passage doc-frequency is a count-distinct-by-hash partial
    aggregation over (hash, doc) pairs — 8-byte keys only. The verdict
    joins back to passage rows as a hash-keyed anti-join with NO
    forced broadcast: at a high threshold the over-threshold set is
    tiny and AQE broadcasts it at runtime, but at ``max_doc_frequency
    = 1`` it is every cross-doc duplicated passage — corpus-scale — and
    the join must be allowed to shuffle its 8-byte hashes instead of
    broadcasting. Text shuffles once, for the per-doc reassembly."""
    from sqlpp_spark.ops.corpus import chunk_documents

    ch = chunk_documents(
        df, text_col=text_col, id_col=id_col,
        chunk_tokens=passage_tokens, overlap=0,
    )
    hashed = ch.select(
        F.col(id_col), "chunk_id", "chunk_text",
        hash64(F.col("chunk_text")).alias("__ph"),
    )
    bad = (
        hashed.groupBy("__ph")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_doc_frequency)
        .select("__ph")
    )
    kept = hashed.join(bad, on="__ph", how="left_anti")
    kept_agg = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = ch.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_total"))
    return (
        totals.join(kept_agg, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n_total") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup (ingest batches against an existing corpus index)
# ---------------------------------------------------------------------------


def content_hash_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The persistent dedup index of a corpus: its distinct normalized
    content hashes. At 100 TB, write this bucketed by content_hash so
    ingest anti-joins co-locate with zero shuffle of the index side."""
    return (
        df.select(hash64(normalize_text(F.col(text_col))).alias("content_hash"))
        .distinct()
    )


def dedup_against_index(
    new_docs: DataFrame, index: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time exact dedup AGAINST an existing corpus: drop new
    rows whose content hash already appears in the index, keep one row
    per new hash (min id — batches carry their own internal dups too).
    This is the incremental shape: the existing corpus is never
    re-read, only its hash index joins. One anti-join on the 8-byte
    hash (broadcast when the index is small, bucket-co-located at
    scale) + one min-id agg over the batch."""
    h = hash64(normalize_text(F.col(text_col))).alias("content_hash")
    hashed = new_docs.select(F.col(id_col), h)
    fresh = hashed.join(index, on="content_hash", how="left_anti")
    keep = fresh.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return new_docs.join(
        keep.select(id_col), on=id_col, how="left_semi"
    )


def minhash_band_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, n_perms: int = N_PERMS, bands: int = 4,
) -> DataFrame:
    """Persistent NEAR-dup PROBE index: one SLIM row per (doc, LSH
    band) — (id, band, bh), 3 fixed-width columns. The doc's shingle
    set lives in the separate doc-keyed ``shingle_set_index`` so it is
    stored ONCE per doc, not duplicated across its ``bands`` rows, and
    the probe join shuffles 8-byte ids, never arrays. Write this
    bucketed by (band, bh) so ingest probes co-locate with zero
    index-side shuffle; text never enters the index. Incremental
    companion of ``minhash_near_duplicates``."""
    sh = shingle_hashes(df, text_col, id_col, k)
    sigs = _signatures_from_sh(sh, id_col, n_perms)
    return _banded_rows(sigs, id_col, n_perms, bands)


def shingle_set_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
) -> DataFrame:
    """Doc-keyed verification companion of ``minhash_band_index``:
    (id, shs, sz), each doc's distinct shingle-hash set stored exactly
    once. At 100 TB, write bucketed by id so candidate-verification
    fetches co-locate."""
    return (
        shingle_hash_arrays(df, text_col, id_col, k)
        .select(F.col(id_col), F.col("shs"), F.size("shs").alias("sz"))
    )


def near_duplicates_against_index(
    new_docs: DataFrame, index: DataFrame, sets: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, n_perms: int = N_PERMS, bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Ingest-time NEAR-dup detection: band the new batch, probe the
    SLIM stored index on (band, band_hash), dedupe candidate id pairs,
    and only then fetch shingle sets (batch side computed here, corpus
    side from the stored ``sets`` table) for exact Jaccard — the
    existing corpus text is never re-read, the probe join moves only
    (band, bh, id) triples, and set arrays are joined once per DISTINCT
    candidate pair rather than once per band collision.
    Returns (id_new, id_idx, jaccard) for verified pairs ≥ threshold."""
    batch_slim = minhash_band_index(new_docs, text_col, id_col, k, n_perms, bands)
    b = batch_slim.select(F.col(id_col).alias("id_new"), "band", "bh")
    i = index.select(F.col(id_col).alias("id_idx"), "band", "bh")
    cand = (
        b.join(i, on=["band", "bh"])
        .select("id_new", "id_idx")
        .dropDuplicates(["id_new", "id_idx"])
    )
    batch_sets = shingle_set_index(new_docs, text_col, id_col, k).select(
        F.col(id_col).alias("id_new"), F.col("shs").alias("shs_new"),
        F.col("sz").alias("sz_new"),
    )
    idx_sets = sets.select(
        F.col(id_col).alias("id_idx"), F.col("shs").alias("shs_idx"),
        F.col("sz").alias("sz_idx"),
    )
    verified = cand.join(batch_sets, on="id_new").join(idx_sets, on="id_idx")
    inter = F.size(F.array_intersect("shs_new", "shs_idx"))
    return (
        verified.select(
            "id_new", "id_idx", "sz_new", "sz_idx", inter.alias("n_inter")
        )
        .select(
            "id_new", "id_idx",
            (
                F.col("n_inter").cast("double")
                / (
                    F.col("sz_new") + F.col("sz_idx") - F.col("n_inter")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Index maintenance — close the daily-ingest loop
# ---------------------------------------------------------------------------


def updated_content_index(
    index: DataFrame, accepted: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """The content-hash index AFTER absorbing an accepted batch: union
    of the old index and the batch's hashes, distinct. Incremental by
    construction — the old index is passed through, never rebuilt from
    corpus text; at 100 TB this is an append of ~batch-sized 8-byte
    hashes into the hash-bucketed index table (the distinct collapses
    within buckets, no corpus-wide shuffle)."""
    return index.unionByName(content_hash_index(accepted, text_col, id_col)).distinct()


def updated_band_index(
    index: DataFrame, sets: DataFrame, accepted: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, n_perms: int = N_PERMS, bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """(index', sets') after absorbing an accepted batch into the
    banded MinHash index: both tables grow by exactly the accepted
    docs' rows — an append into the (band, bh)- and id-bucketed
    layouts, no rebuild. Because band hashes are per-doc independent,
    indexing two batches sequentially equals indexing their union
    (pinned by the consistency test)."""
    new_slim = minhash_band_index(accepted, text_col, id_col, k, n_perms, bands)
    new_sets = shingle_set_index(accepted, text_col, id_col, k)
    return index.unionByName(new_slim), sets.unionByName(new_sets)
