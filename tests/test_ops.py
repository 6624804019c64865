"""Semantic tests for the pipeline operators beyond the oracle gate:
approximate methods are checked against their exact counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup_keeps_one_per_group(spark, docs):
    from sqlpp_spark.ops.dedup import dedup_exact, exact_duplicates

    groups = exact_duplicates(docs).count()
    kept = dedup_exact(docs).count()
    assert kept == groups  # one survivor per content group
    assert kept <= docs.count()


def test_minhash_pairs_are_real_near_dups(spark, docs):
    from sqlpp_spark.ops.dedup import minhash_near_duplicates, ngram_jaccard_pairs

    mh = {(r.id_a, r.id_b) for r in minhash_near_duplicates(docs, threshold=0.7).collect()}
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.7, block_col=None, allow_quadratic=True
        ).collect()
    }
    # verification step guarantees soundness: every reported pair IS a
    # true near-dup pair
    assert mh <= exact
    # LSH with 16 perms / 4 bands at j>=0.7 should find a decent share
    if exact:
        recall = len(mh) / len(exact)
        assert recall >= 0.3, f"minhash recall suspiciously low: {recall}"


def test_connected_components_chain_and_triangle(spark):
    """Chain 1-2-3-4 (diameter > 1 → needs multiple propagation
    rounds), triangle 10-11-12, isolated edge 20-21."""
    from sqlpp_spark.ops.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_path_graph_log_rounds(spark):
    """1000-node path graph (diameter 999): pointer jumping must label
    the whole chain with node 0 in O(log diameter) rounds — one-hop
    propagation alone would need 999 and trip the max_iter warning."""
    from sqlpp_spark.ops.dedup import connected_components

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).coalesce(4)
    labels = connected_components(edges, max_iter=25)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r.comp == 0 for r in rows)
    assert labels._sqlpp_cc_rounds <= 15, labels._sqlpp_cc_rounds
    labels.unpersist()


def test_lsh_near_dup_pairs_subset_of_exact(spark, emb):
    """Bucketed near-dup pairs: perfect precision (every reported pair
    really has cos ≥ t — it's verified post-bucket) and high recall on
    the high-cosine pairs LSH is built for."""
    from sqlpp_spark.ops.dedup import embedding_near_duplicates
    from sqlpp_spark.ops.similarity import lsh_near_duplicate_pairs

    t = 0.8
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_duplicates(emb, threshold=t, exact=True).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in lsh_near_duplicate_pairs(emb, dim=64, threshold=t).collect()
    }
    assert set(approx) <= set(exact)  # precision 1.0 by construction
    for k, cos in approx.items():
        assert abs(exact[k] - cos) < 1e-12
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.5, f"LSH near-dup recall too low: {recall}"


def test_rolling_fingerprint_detects_shared_substring(spark):
    from sqlpp_spark.ops.text import rolling_fingerprint

    shared = "a very long shared passage that dominates the minimum hash value"
    df = spark.createDataFrame(
        [(1, f"prefix one {shared}"), (2, f"{shared} and a different suffix"),
         (3, "completely unrelated content with nothing in common here")],
        "doc_id long, text string",
    )
    from sqlpp_spark.ops.text import rolling_hashes

    rows = df.select(
        "doc_id",
        rolling_fingerprint(F.col("text")).alias("fp"),
        rolling_hashes(F.col("text")).alias("hs"),
    ).collect()
    fps = {r.doc_id: r.fp for r in rows}
    hs = {r.doc_id: set(r.hs) for r in rows}
    # identical text → identical fingerprint (determinism)
    assert fps[1] == df.filter("doc_id=1").select(
        rolling_fingerprint(F.col("text"))).first()[0]
    # sharing a long substring → large rolling-hash set overlap;
    # unrelated text → (near) zero overlap
    assert len(hs[1] & hs[2]) > 40
    assert len(hs[1] & hs[3]) <= 2
    assert fps[3] != fps[2]


def test_approx_count_distinct_accuracy(spark, emb):
    exact = emb.select(F.countDistinct("label")).first()[0]
    approx = emb.select(F.approx_count_distinct("label", rsd=0.02)).first()[0]
    assert abs(approx - exact) <= max(1, 0.05 * exact)


def test_ivf_topk_recall_vs_bruteforce(spark, emb):
    from sqlpp_spark.ops.similarity import brute_force_topk, ivf_topk

    queries = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4).collect()
    exact_set = {(r.query_id, r.cand_id) for r in exact}
    approx_set = {(r.query_id, r.cand_id) for r in approx}
    # probing 4/16 cells scans ~25% of the corpus; near neighbors
    # cluster into the query's own cells so recall must far exceed that
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    exact_cos = {(r.query_id, r.cand_id): r.cos for r in exact}
    for r in approx:
        if (r.query_id, r.cand_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.cand_id)] - r.cos) < 1e-12


def test_ivf_full_probe_is_exact(spark, emb):
    """n_probe = n_cells degrades gracefully to the exact result."""
    from sqlpp_spark.ops.similarity import brute_force_topk, ivf_topk

    queries = emb.filter(F.col("vec_id") < 4)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    full = {(r.query_id, r.cand_id) for r in ivf_topk(emb, queries, k=5, n_cells=8, n_probe=8).collect()}
    assert exact == full


def test_simhash_identical_docs_collide(spark, docs):
    from sqlpp_spark.ops.dedup import simhash

    # duplicate the frame: every doc should collide with its copy
    sig1 = simhash(docs).withColumnRenamed("simhash", "s1")
    sig2 = simhash(docs).withColumnRenamed("simhash", "s2")
    joined = sig1.join(sig2, on="doc_id")
    assert joined.filter(F.col("s1") != F.col("s2")).count() == 0


def test_lsh_topk_recall_vs_bruteforce(spark, emb):
    from sqlpp_spark.ops.similarity import brute_force_topk, lsh_topk

    queries = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = lsh_topk(emb, queries, dim=64, k=10, n_planes=4, n_tables=4).collect()
    exact_set = {(r.query_id, r.cand_id) for r in exact}
    approx_set = {(r.query_id, r.cand_id) for r in approx}
    # 4 planes → 16 buckets over 500 vecs: recall won't be 1.0 but must
    # beat random chance (10/500 = 2%) by a wide margin
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"LSH recall too low: {recall}"
    # scored candidates must carry exact cosine values: any pair in
    # both sets must agree on cos
    exact_cos = {(r.query_id, r.cand_id): r.cos for r in exact}
    for r in approx:
        if (r.query_id, r.cand_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.cand_id)] - r.cos) < 1e-12


def test_lsh_buckets_partition_corpus(spark, emb):
    from sqlpp_spark.ops.similarity import lsh_buckets

    b = lsh_buckets(emb, dim=64, n_planes=4)
    assert b.count() == emb.count()
    n_buckets = b.select("bucket").distinct().count()
    assert 2 <= n_buckets <= 16


def test_lsh_bucket_cross_engine_bit_equal(spark, sf_dir, emb):
    """The LSH oracle replays the hyperplane literals in DuckDB — the
    whole construction is only hash-checkable if both engines agree on
    every dot-product SIGN. Pin bucket-id bit-equality per vector."""
    import duckdb

    from sqlpp_spark.ops.similarity import lsh_buckets
    from sqlpp_spark.queries.pipeline import _lsh_bucket_sql

    sbuckets = {
        r.vec_id: r.bucket
        for r in lsh_buckets(emb, dim=64, n_planes=4, seed=42).collect()
    }
    con = duckdb.connect()
    dd = con.execute(
        f"SELECT vec_id, {_lsh_bucket_sql(4, 64, 42)} AS bucket FROM ("
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet'))"
    ).fetchall()
    assert len(dd) == len(sbuckets)
    assert all(sbuckets[vid] == bk for vid, bk in dd)


def test_quality_score_range(spark, docs):
    from sqlpp_spark.ops.text import text_stats

    stats = text_stats(docs)
    bad = stats.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0


def test_token_counts_positive(spark, docs):
    from sqlpp_spark.ops.text import text_stats

    stats = text_stats(docs)
    assert stats.filter(F.col("n_tokens") <= 0).count() == 0
    assert stats.filter(F.col("n_word_tokens") < F.col("n_tokens")).count() == 0


def test_blocked_domain_filter_semantics(spark):
    from sqlpp_spark.ops.web import filter_blocked_domains

    rows = [
        (1, "https://bad.com/x"),            # exact match -> drop
        (2, "https://a.bad.com/x"),          # subdomain -> drop
        (3, "https://deep.a.bad.com/x"),     # deep subdomain -> drop
        (4, "https://notbad.com/x"),         # suffix but not subdomain -> keep
        (5, "https://bad.com.evil.org/x"),   # blocked string mid-host -> keep
        (6, "https://x.co.uk/x"),            # 3-label blocklist exact -> drop
        (7, "https://sub.x.co.uk/x"),        # 3-label subdomain -> drop
        (8, "not a url"),                    # host '' -> keep
        (9, "https://good.org/x"),           # -> keep
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    block = spark.createDataFrame(
        [("bad.com",), ("x.co.uk",)], "domain string"
    )
    kept = sorted(
        r.doc_id for r in filter_blocked_domains(df, block).collect()
    )
    assert kept == [4, 5, 8, 9]


def test_normalize_url_and_dedup_semantics(spark):
    """Canonicalization rules one by one, and URL dedup collapsing the
    variants to the min id."""
    from sqlpp_spark.ops.web import dedup_by_url, normalize_url

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&q=1#frag"),
        (2, "https://www.example.com/a/b?q=1"),           # same as 1
        (3, "http://example.com:80/"),
        (4, "http://example.com"),                        # same as 3
        (5, "https://example.com/x/?b=2&a=1&gclid=zzz"),  # params sorted
        (6, "https://example.com/x/?a=1&b=2"),            # same as 5
        (7, "https://example.com:8443/x"),                # non-default port kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    norm = {r.doc_id: r.n for r in
            df.select("doc_id", normalize_url(F.col("url")).alias("n")).collect()}
    assert norm[1] == "https://www.example.com/a/b?q=1"
    assert norm[1] == norm[2]
    assert norm[3] == "http://example.com/"
    assert norm[3] == norm[4]
    assert norm[5] == "https://example.com/x?a=1&b=2"
    assert norm[5] == norm[6]
    assert norm[7] == "https://example.com:8443/x"

    kept = sorted(r.doc_id for r in dedup_by_url(df).collect())
    assert kept == [1, 3, 5, 7]


def test_normalize_url_fragment_query_not_confused(spark):
    """A '?' inside the fragment is NOT a query: the whole fragment
    drops, and distinct URLs don't collide via their fragments."""
    from sqlpp_spark.ops.web import normalize_url

    rows = [
        (1, "http://h/p#frag?x=1"),    # no query at all
        (2, "http://h/p?x=1"),         # real query
        (3, "http://h/p?a=1#s?x=9"),   # query a=1; '#s?x=9' dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    norm = {r.doc_id: r.n for r in
            df.select("doc_id", normalize_url(F.col("url")).alias("n")).collect()}
    assert norm[1] == "http://h/p"
    assert norm[2] == "http://h/p?x=1"
    assert norm[3] == "http://h/p?a=1"


def test_registrable_domain_matches_duckdb_twin(spark):
    """eTLD+1 derivation bit-equal between Spark and the DuckDB SQL
    twin across PSL-lite suffixes, bare TLDs, deep subdomains, and
    clamping edge cases."""
    import duckdb

    from sqlpp_spark.ops.web import registrable_domain, registrable_domain_sql

    hosts = [
        "a.b.example.co.uk", "example.co.uk", "co.uk", "uk",
        "deep.sub.example.com", "example.com", "com", "",
        "www.gov.uk", "x.com.au", "only-label", "a.b.c.d.e.org",
        "1.2.3.4", "5.6.3.4", "192.168.0.1",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {r.host: r.rd for r in
           df.select("host", registrable_domain(F.col("host")).alias("rd")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE hosts(host VARCHAR)")
    con.executemany("INSERT INTO hosts VALUES (?)", [[h] for h in hosts])
    exp_rows = con.execute(
        f"SELECT host, {registrable_domain_sql('host')} FROM hosts"
    ).fetchall()
    for h, exp in exp_rows:
        assert got[h] == exp, (h, got[h], exp)
    # spot semantics, not just parity
    assert got["a.b.example.co.uk"] == "example.co.uk"
    assert got["deep.sub.example.com"] == "example.com"
    # gov.uk is itself a public suffix -> www.gov.uk IS an eTLD+1
    assert got["www.gov.uk"] == "www.gov.uk"
    # IP literals keep the full host: distinct IPs never share a quota
    assert got["1.2.3.4"] == "1.2.3.4"
    assert got["5.6.3.4"] == "5.6.3.4"


def test_domain_cap_resists_subdomain_evasion(spark):
    """100 docs spread over 100 distinct subdomains of one registrable
    domain must share ONE quota (the evasion the eTLD+1 grouping
    stops), while another registrable domain keeps its own."""
    from sqlpp_spark.ops.web import domain_cap

    rows = [(i, f"https://sub{i}.evader.com/p") for i in range(100)] + [
        (100 + i, f"https://ok{i}.honest.org/p") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_cap(df, cap=10).collect()
    evader = [r for r in out if "evader" in r.url]
    honest = [r for r in out if "honest" in r.url]
    assert len(evader) == 10  # capped as one domain, not 100
    assert len(honest) == 3   # under cap, untouched


def test_projected_rerank_recall_and_exactness(spark, sf_dir):
    """shortlist = corpus ⇒ identical to exact brute force; a 40-row
    shortlist over the 16-dim JL projection recovers high recall@10 of
    the exact 64-dim neighbors."""
    from sqlpp_spark.ops.similarity import brute_force_topk, projected_rerank_topk
    from sqlpp_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.cand_id) for r in
             brute_force_topk(emb, queries, k=10).collect()}

    n = emb.count()
    full = {(r.query_id, r.cand_id) for r in
            projected_rerank_topk(emb, queries, k=10, shortlist=n).collect()}
    assert full == exact  # full shortlist degenerates to exact search

    approx = {(r.query_id, r.cand_id) for r in
              projected_rerank_topk(emb, queries, k=10, shortlist=150).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, recall


def test_normalize_url_idempotent(spark):
    """normalize ∘ normalize == normalize over a seeded zoo of URL
    shapes (one Spark job, 200 URLs) — canonical forms must be fixed
    points or URL-keyed dedup is unstable across pipeline stages."""
    import random

    from sqlpp_spark.ops.web import normalize_url

    rng = random.Random(13)
    schemes = ["http", "HTTPS", "https", "ftp"]
    hosts = ["Example.COM", "a.b.example.org:8080", "example.com:80",
             "x.co.uk:443", "user@pw.example.net"]
    paths = ["", "/", "/a/b/", "/a//", "/x"]
    queries = ["", "?q=1", "?utm_source=x&b=2&a=1", "?gclid=z",
               "?b=2&a=1&utm_campaign=c#frag", "#frag"]
    urls = [
        (i, rng.choice(schemes) + "://" + rng.choice(hosts)
         + rng.choice(paths) + rng.choice(queries))
        for i in range(200)
    ]
    df = spark.createDataFrame(urls, "i long, url string")
    once = normalize_url(F.col("url"))
    bad = (
        df.select(once.alias("n1"))
        .select("n1", normalize_url(F.col("n1")).alias("n2"))
        .filter(F.col("n1") != F.col("n2"))
        .collect()
    )
    assert bad == [], bad[:5]


def test_release_intermediates_unpersists(spark, docs):
    from sqlpp_spark.ops import release_intermediates
    from sqlpp_spark.ops.dedup import minhash_near_duplicates

    out = minhash_near_duplicates(docs.limit(50))
    out.count()
    cached = out._sqlpp_persisted
    assert cached and all(f.storageLevel.useMemory for f in cached)
    release_intermediates(out)
    assert all(not f.storageLevel.useMemory for f in cached)


def test_contamination_hash_grams_same_result(spark, docs):
    from sqlpp_spark.ops.corpus import contamination

    d = docs.limit(60)
    bench = docs.limit(5)
    plain = {(r.doc_id, r.n_contaminated_grams)
             for r in contamination(d, bench, n=3).collect()}
    hashed = {(r.doc_id, r.n_contaminated_grams)
              for r in contamination(d, bench, n=3, hash_grams=True).collect()}
    assert plain == hashed and plain


def test_ngram_jaccard_unblocked_requires_opt_in(spark, docs):
    from sqlpp_spark.ops.dedup import ngram_jaccard_pairs

    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(docs, block_col=None)


def test_containment_prefix_filter_is_exact(spark, docs):
    """The prefix-filtered containment candidates must reproduce the
    brute-force result exactly — the prefix bound on the contained
    side is an optimization, not an approximation — and a document
    embedded verbatim inside a larger one must score containment 1.0
    in that direction only (the property symmetric Jaccard misses)."""
    from sqlpp_spark.ops.dedup import shingle_containment_pairs

    sample = docs.limit(80)
    got = {
        (r.id_a, r.id_b): (round(r.containment, 12), r.sz_a, r.sz_b)
        for r in shingle_containment_pairs(
            sample, threshold=0.3, block_col="lang"
        ).collect()
    }
    # brute force in local python over the same shingle definition
    from sqlpp_spark.ops.dedup import shingle_hashes

    sh = shingle_hashes(sample, fast_hash=True).join(
        sample.select("doc_id", "lang"), on="doc_id"
    ).collect()
    sets: dict = {}
    lang: dict = {}
    for r in sh:
        sets.setdefault(r.doc_id, set()).add(r.sh_hash)
        lang[r.doc_id] = r.lang
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or lang[a] != lang[b]:
                continue
            c = len(sa & sb) / len(sa)
            if c >= 0.3:
                want[(a, b)] = (round(c, 12), len(sa), len(sb))
    assert got == want

    # directional: small doc embedded in a big one
    rows = [(1, "alpha beta gamma delta epsilon", "en"),
            (2, "zero one two alpha beta gamma delta epsilon nine ten "
                "eleven twelve thirteen fourteen fifteen", "en")]
    d2 = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        (r.id_a, r.id_b): r.containment
        for r in shingle_containment_pairs(
            d2, threshold=0.9, block_col="lang"
        ).collect()
    }
    assert out.get((1, 2)) == 1.0
    assert (2, 1) not in out  # the big doc is NOT contained in the small


def test_simhash_banded_equals_bruteforce_hamming(spark, docs):
    """The banded hamming<=d join is pigeonhole-complete: result must
    EQUAL the brute-force all-pairs hamming computation."""
    from sqlpp_spark.ops.dedup import simhash, simhash_near_duplicates

    sample = docs.limit(120)
    d = 3
    banded = {(r.id_a, r.id_b): r.hamming
              for r in simhash_near_duplicates(sample, max_hamming=d).collect()}
    sigs = simhash(sample)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.id_a, r.id_b): r.hamming
        for r in a.join(b, on=F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                .cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= d)
        .collect()
    }
    assert banded == brute


def test_quantize_roundtrip_error_bounded(spark, emb):
    """int8 max-abs quantization: dequantized values within scale/254
    of the originals (half a quantization step), ids preserved."""
    from sqlpp_spark.ops.similarity import quantize_embeddings

    q = quantize_embeddings(emb)
    rows = q.join(emb, on="vec_id").select("vec_id", "qvec", "scale", "embedding").collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        step = r.scale / 127.0
        for qv, xv in zip(r.qvec, r.embedding):
            assert abs(qv * step - float(xv)) <= step / 2 + 1e-9
        assert max(abs(v) for v in r.qvec) <= 127


def test_quantized_topk_recall_vs_bruteforce(spark, emb):
    """int8 cosine ranking must nearly reproduce the float top-10 —
    quantization noise may swap close neighbors but not destroy the
    neighborhood."""
    from sqlpp_spark.ops.similarity import brute_force_topk, quantized_topk

    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(emb, queries, k=10).collect()}
    quant = {(r.query_id, r.cand_id) for r in quantized_topk(emb, queries, k=10).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"quantized recall too low: {recall}"


def test_perplexity_bounds_and_buckets(spark, docs):
    """ppl of a unigram model lies in [1, vocab-size-ish]; buckets are
    consistent with the rounded ppl."""
    from sqlpp_spark.ops.corpus import perplexity

    rows = perplexity(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r.perplexity >= 1.0
        assert 0 <= r.bucket <= 19
        # bucket must equal floor(ppl/5) capped (rounded ppl is within
        # 1e-6 of the bucket source, so allow the boundary row)
        expect = min(int(r.perplexity // 5.0), 19)
        assert abs(r.bucket - expect) <= 1


def test_pmi_bigrams_scores_positive_and_ranked(spark, docs):
    from sqlpp_spark.ops.corpus import pmi_bigrams

    rows = pmi_bigrams(docs, min_count=2, top_k=10).collect()
    assert 0 < len(rows) <= 10
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    assert all(r.n_ab >= 2 for r in rows)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_ngram_jaccard_strategies_agree(spark, docs):
    """The prefix-filtered (AllPairs/PPJoin) candidate path must return
    exactly the pairs the shingle-equality join returns — prefix
    filtering is an EXACT optimization, not an approximation."""
    from sqlpp_spark.ops.dedup import ngram_jaccard_pairs

    base = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs, threshold=0.3, strategy="join").collect()
    }
    pref = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs, threshold=0.3, strategy="prefix").collect()
    }
    assert base == pref and len(base) > 0


def test_ngram_jaccard_auto_picks_prefix_on_zipf_head(spark):
    """strategy="auto" must engage prefix filtering when the shingle
    document-frequency head is hot (a shared boilerplate phrase in
    every doc — the Zipf shape of real web text), and fall back to the
    equality join on a flat distribution. Result equality between the
    two paths is pinned by test_ngram_jaccard_strategies_agree."""
    from sqlpp_spark.ops.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved by the site operator"
    zipf = spark.createDataFrame(
        [(i, f"{boiler} unique tail {i} alpha beta", "en") for i in range(120)],
        "doc_id long, text string, lang string",
    )
    out = ngram_jaccard_pairs(zipf, threshold=0.9)
    assert out._sqlpp_jaccard_strategy == "prefix"
    out.collect()

    flat = spark.createDataFrame(
        [
            (i, " ".join(f"w{i}x{j}" for j in range(8)), "en")
            for i in range(120)
        ],
        "doc_id long, text string, lang string",
    )
    out2 = ngram_jaccard_pairs(flat, threshold=0.9)
    assert out2._sqlpp_jaccard_strategy == "join"


def test_substring_duplication_rate_semantics(spark):
    """Identical docs → dup_rate 1.0; a unique doc → 0.0; a doc shorter
    than k (after normalization) → no grams at all."""
    from sqlpp_spark.ops.dedup import substring_duplication_rate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different words never repeated anywhere here"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in substring_duplication_rate(docs, k=8).collect()}
    assert rows[1].dup_rate == 1.0 and rows[2].dup_rate == 1.0
    assert rows[3].dup_rate == 0.0 and rows[3].n_grams > 0
    assert rows[4].n_grams == 0 and rows[4].dup_rate == 0.0


def test_substring_duplication_rate_sampling_unbiased_on_full_dup(spark):
    """sample_mod thins numerator and denominator identically: a fully
    duplicated doc still reports rate 1.0 under sampling."""
    from sqlpp_spark.ops.dedup import substring_duplication_rate

    text = "many shared words in this rather long duplicated document body"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in substring_duplication_rate(docs, k=8, sample_mod=4).collect()
    }
    for r in rows.values():
        assert r.dup_rate == 1.0 and r.n_grams > 0


def test_canonical_by_quality_keeps_best_member(spark):
    """In a near-dup cluster the highest-quality doc wins, NOT the
    minimum id; singletons are their own kept cluster."""
    from sqlpp_spark.ops.dedup import canonical_by_quality

    # 10 and 11 are near-dups (long shared base, short suffixes keep
    # Jaccard high); 11 scores higher quality, 10 fails the ≤10%
    # punctuation rule
    base = (
        "the quick brown fox jumps over the lazy dog and then runs across "
        "the wide green field before it rests under the old oak tree near "
        "the river"
    )
    docs = spark.createDataFrame(
        [
            (10, base + " !!!!!!!!!! ?????????? !!!!!!!!!!"),
            (11, base + " every single day"),
            (30, "unrelated singleton document standing entirely alone"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in canonical_by_quality(docs, threshold=0.5).collect()}
    assert rows[10].cluster_id == rows[11].cluster_id == 10
    assert rows[11].keep is True and rows[10].keep is False
    assert rows[11].quality > rows[10].quality
    assert rows[30].keep is True and rows[30].cluster_size == 1


def test_knn_graph_recall_and_exactness_at_full_probe(spark, emb):
    """Self-KNN graph: probing all cells degrades to the exact graph;
    default probing keeps good recall; every vector appears as a query
    with at most k neighbors and never lists itself."""
    from sqlpp_spark.ops.similarity import brute_force_topk, knn_graph

    k = 5
    exact = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(emb, emb, k=k).collect()
    }
    full = {
        (r.query_id, r.cand_id)
        for r in knn_graph(emb, k=k, n_cells=8, n_probe=8,
                           quantizer="pivot").collect()
    }
    assert full == exact

    g = knn_graph(emb, k=k, n_cells=16, n_probe=4, quantizer="pivot").collect()
    assert all(r.query_id != r.cand_id for r in g)
    per_q: dict = {}
    for r in g:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == emb.count()
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    approx = {(r.query_id, r.cand_id) for r in g}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.4, f"knn_graph recall too low: {recall}"


def test_knn_density_bounds_and_coverage(spark, emb):
    from sqlpp_spark.ops.similarity import knn_density

    rows = knn_density(emb, k=5, quantizer="pivot").collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert 1 <= r.n_neighbors <= 5
        assert -1.0 - 1e-9 <= r.density <= 1.0 + 1e-9


def test_label_centroid_outliers_finds_planted_outlier(spark):
    """A label cluster near the origin plus one far-away member: the
    far point must rank 1 for that label."""
    from sqlpp_spark.ops.similarity import label_centroid_outliers

    rows = [
        (i, [0.1 * (i % 3), 0.1, 0.0, 0.1], 0) for i in range(10)
    ] + [(99, [5.0, 5.0, 5.0, 5.0], 0)] + [
        (200 + i, [1.0, 0.0, 1.0, 0.0], 1) for i in range(4)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {(r.label, r.rank): r for r in
           label_centroid_outliers(emb, top_n=3).collect()}
    assert out[(0, 1)].vec_id == 99
    assert out[(0, 1)].d2 > out[(0, 2)].d2
    # label 1 members are identical -> all distances 0, ties by id
    assert out[(1, 1)].vec_id == 200 and out[(1, 1)].d2 < 1e-12


def test_passage_dedup_semantics(spark):
    """A passage duplicated across docs survives only at its first
    (doc, position); unique passages all survive; a doc made entirely
    of seen passages comes back empty (n_kept=0)."""
    from sqlpp_spark.ops.dedup import passage_dedup

    p1 = "a b c d"          # 4-token passage, duplicated everywhere
    p2 = "e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2}"),       # keeps both (first occurrences)
            (2, f"{p1} x y z w"),    # loses p1, keeps its unique tail
            (3, p1),                 # entirely duplicated -> empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           passage_dedup(docs, passage_tokens=4).collect()}
    assert out[1].clean_text == f"{p1} {p2}"
    assert (out[1].n_kept, out[1].n_dropped) == (2, 0)
    assert out[2].clean_text == "x y z w"
    assert (out[2].n_kept, out[2].n_dropped) == (1, 1)
    assert out[3].clean_text == ""
    assert (out[3].n_kept, out[3].n_dropped) == (0, 1)


def test_boilerplate_filter_semantics(spark):
    """Passages above the doc-frequency threshold drop from EVERY doc
    (no surviving first copy); content passages stay."""
    from sqlpp_spark.ops.dedup import boilerplate_filter

    footer = "c o o k i e"  # 6-token boilerplate, in all 3 docs
    docs = spark.createDataFrame(
        [
            (1, f"{footer} u n i q u e"),
            (2, f"{footer} o t h e r x"),
            (3, footer),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           boilerplate_filter(docs, passage_tokens=6, max_doc_frequency=2)
           .collect()}
    assert out[1].clean_text == "u n i q u e"
    assert out[2].clean_text == "o t h e r x"
    assert out[3].clean_text == "" and out[3].n_dropped == 1
    # threshold 3: nothing exceeds it, everything kept
    kept_all = {r.doc_id: r.n_dropped for r in
                boilerplate_filter(docs, passage_tokens=6, max_doc_frequency=3)
                .collect()}
    assert set(kept_all.values()) == {0}


def test_top_ngrams_counts_and_tiebreak(spark):
    from sqlpp_spark.ops.corpus import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c d"), (3, "z z z")],
        "doc_id long, text string",
    )
    rows = top_ngrams(docs, n=3, top_k=3).collect()
    assert (rows[0].ngram, rows[0].n_occurrences, rows[0].n_docs) == ("a b c", 3, 2)
    # ties (all count 1) break on the gram string ascending
    assert [r.ngram for r in rows[1:]] == sorted(r.ngram for r in rows[1:])


def test_dedup_against_index_semantics(spark):
    """Rows colliding with the index drop; batch-internal dups keep
    the min id; genuinely new content survives."""
    from sqlpp_spark.ops.dedup import content_hash_index, dedup_against_index

    corpus = spark.createDataFrame(
        [(1, "already seen text"), (2, "other old text")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "already seen text"),   # collides with index -> drop
            (11, "brand new content"),   # new -> keep
            (12, "brand new content"),   # batch-internal dup -> drop
            (13, "another new one"),     # new -> keep
        ],
        "doc_id long, text string",
    )
    out = sorted(
        r.doc_id
        for r in dedup_against_index(batch, content_hash_index(corpus)).collect()
    )
    assert out == [11, 13]


def test_near_dup_ingest_matches_full_pipeline(spark, docs):
    """Incremental near-dup (batch probes a stored band index) must
    find exactly the cross-half pairs the full-corpus pipeline finds —
    banding is per-doc, so splitting the corpus changes nothing."""
    from sqlpp_spark.ops.dedup import (
        minhash_band_index,
        minhash_near_duplicates,
        near_duplicates_against_index,
        shingle_set_index,
    )

    full = {
        frozenset((r.id_a, r.id_b)): round(r.jaccard, 12)
        for r in minhash_near_duplicates(docs, threshold=0.7).collect()
        if (r.id_a % 3 == 0) != (r.id_b % 3 == 0)
    }
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    index = minhash_band_index(corpus)
    sets = shingle_set_index(corpus)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    inc = {
        frozenset((r.id_new, r.id_idx)): round(r.jaccard, 12)
        for r in near_duplicates_against_index(
            batch, index, sets, threshold=0.7
        ).collect()
    }
    assert inc == full

    # the slim probe index carries NO array payload — 3 fixed-width
    # columns only; sets live once per doc in the companion table
    assert set(index.columns) == {"doc_id", "band", "bh"}
    assert set(sets.columns) == {"doc_id", "shs", "sz"}
    assert sets.count() == corpus.count()


def test_band_validation_rejects_nondivisible(spark, docs):
    """n_perms must be a positive multiple of bands — silently dropping
    leftover permutations would weaken band hashes vs the config."""
    from sqlpp_spark.ops.dedup import lsh_candidate_pairs, minhash_band_index

    with pytest.raises(ValueError):
        minhash_band_index(docs, n_perms=16, bands=5)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(docs, n_perms=16, bands=3)
    with pytest.raises(ValueError):
        minhash_band_index(docs, n_perms=16, bands=0)


def test_index_maintenance_sequential_equals_combined(spark, docs):
    """Daily-ingest loop closure: absorbing batch A then batch B into
    the indexes yields the same index contents as absorbing A∪B at
    once — for both the content-hash index and the banded MinHash
    index + set table."""
    from sqlpp_spark.ops.dedup import (
        content_hash_index,
        minhash_band_index,
        shingle_set_index,
        updated_band_index,
        updated_content_index,
    )

    base = docs.filter(F.col("doc_id") % 3 == 0)
    a = docs.filter(F.col("doc_id") % 3 == 1)
    b = docs.filter(F.col("doc_id") % 3 == 2)
    both = docs.filter(F.col("doc_id") % 3 != 0)

    # exact index: sequential == combined
    seq = updated_content_index(updated_content_index(content_hash_index(base), a), b)
    comb = updated_content_index(content_hash_index(base), both)
    assert {r.content_hash for r in seq.collect()} == \
           {r.content_hash for r in comb.collect()}

    # banded index + sets: sequential == combined (rows as multisets)
    i0, s0 = minhash_band_index(base), shingle_set_index(base)
    i1, s1 = updated_band_index(i0, s0, a)
    i2, s2 = updated_band_index(i1, s1, b)
    ic, sc = updated_band_index(i0, s0, both)
    assert sorted(map(tuple, i2.collect())) == sorted(map(tuple, ic.collect()))
    key = lambda r: (r.doc_id, frozenset(r.shs), r.sz)  # noqa: E731
    assert sorted(map(key, s2.collect()), key=str) == \
           sorted(map(key, sc.collect()), key=str)


def test_observed_filter_counts_without_extra_pass(spark):
    from sqlpp_spark.ops import observed_filter

    df = spark.range(0, 100).withColumnRenamed("id", "n")
    out, obs = observed_filter(df, F.col("n") % 4 == 0, name="mod4")
    kept_rows = out.count()  # the one action — metrics ride along
    assert kept_rows == 25
    got = obs.get
    assert got["total"] == 100 and got["kept"] == 25


def test_registrable_domain_psl_wildcard_exception_rules(spark):
    """Data-driven PSL resolution (publicsuffix.org algorithm): plain,
    wildcard (*.ck) and exception (!www.ck) rules, private suffixes
    (github.io), the implicit '*' default, and IPv4 literals. Cases
    follow the upstream PSL test vectors."""
    from sqlpp_spark.ops.web import psl_rules_df, with_registrable_domain

    psl = psl_rules_df(spark, [
        "// comment line",
        "com",
        "co.uk",
        "*.ck",
        "!www.ck",
        "*.kawasaki.jp",
        "!city.kawasaki.jp",
        "github.io",
        "",
    ])
    cases = {
        # plain rules
        "example.com": "example.com",
        "a.b.example.com": "example.com",
        "example.co.uk": "example.co.uk",
        "sub.example.co.uk": "example.co.uk",
        # wildcard: *.ck makes <anything>.ck a public suffix
        "foo.bar.ck": "foo.bar.ck",
        "a.foo.bar.ck": "foo.bar.ck",
        # exception: !www.ck carves www.ck back out as registrable
        "www.ck": "www.ck",
        "sub.www.ck": "www.ck",
        # 3-label wildcard base + its exception
        "a.b.kawasaki.jp": "a.b.kawasaki.jp",
        "x.a.b.kawasaki.jp": "a.b.kawasaki.jp",
        "city.kawasaki.jp": "city.kawasaki.jp",
        "sub.city.kawasaki.jp": "city.kawasaki.jp",
        # private suffix: per-user registrable domains
        "user1.github.io": "user1.github.io",
        "deep.user1.github.io": "user1.github.io",
        # implicit '*' default rule
        "foo.xyz": "foo.xyz",
        "a.foo.xyz": "foo.xyz",
        # host that IS a public suffix resolves to itself
        "co.uk": "co.uk",
        "github.io": "github.io",
        # IPv4 literal: no label arithmetic
        "192.168.0.1": "192.168.0.1",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r.host: r.rd
        for r in with_registrable_domain(df, "host", psl, "rd").collect()
    }
    assert got == cases


def test_registrable_domain_psl_plan_is_broadcast_hash(spark):
    """The PSL path must stay broadcast HASH joins — a nested-loop or
    shuffle node here would scan-wall a 100 TB corpus."""
    import contextlib
    import io

    from sqlpp_spark.ops.web import psl_rules_df, with_registrable_domain

    psl = psl_rules_df(spark, ["com", "co.uk", "*.ck", "github.io"])
    df = spark.createDataFrame([("x.example.com",)], "host string")
    out = with_registrable_domain(df, "host", psl, "rd")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_registrable_domain_psl_builds_job_free(spark):
    """r19: a psl_rules_df frame carries its driver-local parsed rows,
    so with_registrable_domain derives the per-label-count join loop
    in plain Python — the build must run ZERO Spark jobs (the old
    distinct().collect() cost 0.4-2.2 s per builder invocation), and
    the derived counts must be decision-equivalent: a frame with the
    local rows stripped (the collect path) yields identical rows."""
    from sqlpp_spark.ops.web import psl_rules_df, with_registrable_domain

    rules = ["com", "co.uk", "*.ck", "!www.ck", "github.io"]
    hosts = [("x.example.com",), ("a.b.co.uk",), ("foo.bar.ck",),
             ("www.ck",), ("u.github.io",), ("10.1.2.3",), ("localhost",)]
    df = spark.createDataFrame(hosts, "host string")
    psl = psl_rules_df(spark, rules)
    assert psl._sqlpp_psl_rows  # the driver-local twin is attached
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = with_registrable_domain(df, "host", psl, "rd")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "PSL join-plan derivation ran Spark jobs"
    fast = sorted(map(tuple, out.collect()))
    stripped = psl_rules_df(spark, rules)
    del stripped._sqlpp_psl_rows
    slow = sorted(map(tuple,
                      with_registrable_domain(df, "host", stripped, "rd")
                      .collect()))
    assert fast == slow


def test_filter_blocked_domains_local_list_job_free(spark):
    """Blocklist twin of the PSL job-free fast path: a blocklist frame
    carrying ``_sqlpp_local_domains`` enumerates label counts without
    a plan-time job, and filters exactly like the collect path."""
    from sqlpp_spark.ops.web import filter_blocked_domains

    blocked = ["bad.com", "spam.co.uk", "evil.net"]
    urls = [("https://x.bad.com/a",), ("https://good.org/b",),
            ("https://a.spam.co.uk/c",), ("https://evil.net/d",)]
    df = spark.createDataFrame(urls, "url string")
    bl = spark.createDataFrame([(x,) for x in blocked], "domain string")
    bl._sqlpp_local_domains = list(blocked)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    fast_df = filter_blocked_domains(df, bl)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "blocklist label enumeration ran Spark jobs"
    bl2 = spark.createDataFrame([(x,) for x in blocked], "domain string")
    slow_df = filter_blocked_domains(df, bl2)
    assert sorted(map(tuple, fast_df.collect())) == sorted(
        map(tuple, slow_df.collect())
    )


def test_domain_cap_with_psl_private_suffix_quotas(spark):
    """domain_cap(psl=...) with github.io as a (private) suffix caps
    each user page separately; the PSL-lite default would merge every
    *.github.io page into one github.io quota."""
    from sqlpp_spark.ops.web import domain_cap, psl_rules_df

    rows = [
        (i, f"https://user{i % 2}.github.io/p{i}") for i in range(40)
    ] + [(100 + i, f"https://example.com/p{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    psl = psl_rules_df(spark, ["com", "io", "github.io"])
    out = domain_cap(df, cap=10, psl=psl).collect()
    by_user = {}
    for r in out:
        host = r.url.split("/")[2]
        by_user[host] = by_user.get(host, 0) + 1
    assert by_user["user0.github.io"] == 10
    assert by_user["user1.github.io"] == 10
    assert by_user["example.com"] == 5
    # PSL-lite default (no github.io rule): one merged quota of 10
    merged = domain_cap(df, cap=10).collect()
    n_gh = sum(1 for r in merged if "github.io" in r.url)
    assert n_gh == 10


def test_ngram_jaccard_auto_picks_prefix_on_flat_collision_growth(spark):
    """10× rehearsal finding (SCALING.md): a FLAT distribution over a
    FIXED vocabulary goes quadratic as the corpus grows — every
    shingle's df rises ∝ corpus so Σ df² ∝ n², while max(df)² stays
    small. auto now decides on Σ df² (the join's exact output rows)
    and must pick prefix here even though no single shingle is hot."""
    from sqlpp_spark.ops.dedup import ngram_jaccard_pairs

    # 300 docs drawing 6-word texts from a 12-word vocabulary: every
    # trigram recurs ~constant × docs times, none dominates
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(vocab[(i + j) % 12] for j in range(6)), "en")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ngram_jaccard_pairs(df, threshold=0.95)
    assert out._sqlpp_jaccard_strategy == "prefix"
    out.collect()


def test_knn_graph_auto_cells(spark, emb):
    """n_cells="auto" applies the √n rule (min 16) and produces a
    valid graph: every vector is a query, ranks are 1..k dense, no
    self-pairs. The rule is the scale knob the 10× rehearsal showed
    fixed-cell configs need (SCALING.md)."""
    from sqlpp_spark.ops.similarity import knn_graph

    n = emb.count()
    g = knn_graph(emb, k=3, n_cells="auto", n_probe=2, quantizer="pivot")
    rows = g.collect()
    assert all(r.query_id != r.cand_id for r in rows)
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == n
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _LABELS = ["a", "b", "cc", "io"]

    @st.composite
    def _psl_case(draw):
        rules = set()
        for _ in range(draw(st.integers(1, 6))):
            depth = draw(st.integers(1, 3))
            base = ".".join(draw(st.sampled_from(_LABELS)) for _ in range(depth))
            kind = draw(st.sampled_from(["", "", "*.", "!"]))
            rules.add(f"{kind}{base}")
        hosts = set()
        for _ in range(draw(st.integers(1, 8))):
            depth = draw(st.integers(1, 5))
            hosts.add(
                ".".join(draw(st.sampled_from(_LABELS)) for _ in range(depth))
            )
        return sorted(rules), sorted(hosts)

    @settings(max_examples=25, deadline=None, derandomize=True)
    @given(_psl_case())
    def test_registrable_domain_psl_property(spark, case):
        """Random rule sets (plain/wildcard/exception, overlapping
        suffixes) × random hosts: the Spark broadcast-join resolution
        and the independent pure-CASE DuckDB formulation must agree on
        every host."""
        import duckdb

        from sqlpp_spark.ops.web import (
            psl_rules_df,
            registrable_domain_psl_sql,
            with_registrable_domain,
        )

        rules, hosts = case
        psl = psl_rules_df(spark, rules)
        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        got = {
            r.host: r.rd
            for r in with_registrable_domain(df, "host", psl, "rd").collect()
        }
        sql = registrable_domain_psl_sql("host", rules)
        vals = ", ".join(f"('{h}')" for h in hosts)
        want = dict(
            duckdb.sql(f"SELECT host, {sql} FROM (VALUES {vals}) t(host)").fetchall()
        )
        assert got == want, (rules, {h: (got[h], want[h]) for h in hosts if got[h] != want[h]})

except ImportError:  # pragma: no cover
    pass


def test_knn_graph_column_path_bit_equal_to_literal_path(spark, sf_dir):
    """The CELL_EXPR_MAX column path (centroids as a broadcast array
    column — the form that survives sqrt(n)-grown cell counts) must be
    BIT-equal to the literal-expression path: same zip_with/aggregate
    float chain, same (dist, cell) tie-break."""
    import sqlpp_spark.ops.similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = sim.CELL_EXPR_MAX
    try:
        sim.CELL_EXPR_MAX = 0  # force column path
        a = sorted(
            tuple(r)
            for r in sim.knn_graph(
                emb, k=5, n_cells=20, n_probe=2, quantizer="pivot"
            ).collect()
        )
        sim.CELL_EXPR_MAX = 10**9  # force literal path
        b = sorted(
            tuple(r)
            for r in sim.knn_graph(
                emb, k=5, n_cells=20, n_probe=2, quantizer="pivot"
            ).collect()
        )
    finally:
        sim.CELL_EXPR_MAX = old
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309) — r11.
# ---------------------------------------------------------------------------


def test_robots_group_selection_and_merging():
    from sqlpp_spark.ops.web import parse_robots, robots_allowed

    txt = (
        "# politeness\n"
        "User-agent: FooBot\n"
        "Disallow: /private/\n"
        "Allow: /private/public/\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /tmp/\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /spool/\n"
    )
    foo = parse_robots(txt, "FooBot/1.2 (+http://example)")
    star = parse_robots(txt, "OtherBot")
    assert robots_allowed(foo, "/private/x") is False
    assert robots_allowed(foo, "/private/public/y") is True
    assert robots_allowed(foo, "/tmp/x") is True  # foo's group governs
    # same-token groups MUST merge (RFC 9309 §2.2.1)
    assert robots_allowed(star, "/tmp/x") is False
    assert robots_allowed(star, "/spool/x") is False
    # multiple user-agent lines share the following rules
    multi = parse_robots("User-agent: A\nUser-agent: B\nDisallow: /x\n",
                         "B")
    assert robots_allowed(multi, "/x/1") is False
    # no matching group, no '*' group: allowed
    assert parse_robots("User-agent: Z\nDisallow: /\n", "Q") == []


def test_robots_longest_match_and_wildcards():
    from sqlpp_spark.ops.web import parse_robots, robots_allowed

    rules = parse_robots(
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /a/\n"
        "Allow: /a/keep\n"
    )
    assert robots_allowed(rules, "/doc.pdf") is False   # $ anchors
    assert robots_allowed(rules, "/doc.pdfx") is True
    assert robots_allowed(rules, "/d/e/f.pdf") is False  # * spans dirs
    assert robots_allowed(rules, "/a/z") is False
    assert robots_allowed(rules, "/a/keep/z") is True    # longer allow wins
    assert robots_allowed(rules, "/") is True
    # equal-length tie goes to allow
    assert robots_allowed([(False, "/p"), (True, "/p")], "/p/x") is True
    # empty Disallow means allow-everything (no rule recorded)
    assert parse_robots("User-agent: *\nDisallow:\n") == []


def test_robots_unknown_directives_do_not_split_groups():
    # Google's reference robotstxt parser ignores Sitemap/Crawl-delay
    # entirely when deciding group boundaries: a user-agent run split
    # by such lines is still ONE group.
    from sqlpp_spark.ops.web import parse_robots, robots_allowed

    txt = (
        "User-agent: a\n"
        "Sitemap: https://example.com/sitemap.xml\n"
        "Crawl-delay: 10\n"
        "User-agent: b\n"
        "Disallow: /x\n"
    )
    for agent in ("a", "b"):
        rules = parse_robots(txt, agent)
        assert robots_allowed(rules, "/x/1") is False, agent
    # ...but a rule line still terminates the run: c gets a NEW group.
    txt2 = (
        "User-agent: a\n"
        "Disallow: /x\n"
        "Sitemap: https://example.com/sitemap.xml\n"
        "User-agent: c\n"
        "Disallow: /y\n"
    )
    assert robots_allowed(parse_robots(txt2, "a"), "/y/1") is True
    assert robots_allowed(parse_robots(txt2, "c"), "/x/1") is True
    assert robots_allowed(parse_robots(txt2, "c"), "/y/1") is False


def test_robots_wildcard_matcher_is_linear_and_correct():
    # The ADVICE-flagged DoS: '/'+'*a'*24+'b' vs a 47-char path hangs a
    # backtracking-regex matcher for >5 s; the linear matcher must
    # answer in well under a second — robots.txt is untrusted input.
    import time
    from sqlpp_spark.ops.web import _robots_pattern_matches as m

    hostile = "/" + "*a" * 24 + "b"
    path = "/" + "a" * 46
    t0 = time.monotonic()
    assert m(hostile, path) is False
    assert m(hostile, "/" + "a" * 46 + "b") is True
    assert time.monotonic() - t0 < 1.0
    # differential vs the regex formulation on non-hostile patterns
    import itertools
    import re

    def ref(pattern, p):
        rx = re.escape(pattern).replace(r"\*", ".*")
        if rx.endswith(r"\$"):
            rx = rx[:-2] + "$"
        return re.match(rx, p) is not None

    alphabet = "ab*/"
    paths = ["", "/", "/a", "/ab", "/ba", "/aab/a", "/a/b/ab", "a$b"]
    for n in (1, 2, 3, 4):
        for tup in itertools.product(alphabet, repeat=n):
            for suffix in ("", "$"):
                pat = "".join(tup) + suffix
                for p in paths:
                    assert m(pat, p) == ref(pat, p), (pat, p)


def test_robots_filter_dataframe(spark):
    from sqlpp_spark.ops.web import robots_filter

    urls = spark.createDataFrame(
        [("h1", "/ok"), ("h1", "/blocked/x"), ("h2", "/anything")],
        "host string, path string",
    )
    robots = spark.createDataFrame(
        [("h1", "User-agent: *\nDisallow: /blocked/\n")],
        "host string, robots_txt string",
    )
    rows = {(r.host, r.path): r.allowed
            for r in robots_filter(urls, robots).collect()}
    assert rows[("h1", "/ok")] is True
    assert rows[("h1", "/blocked/x")] is False
    assert rows[("h2", "/anything")] is True  # no robots row: allowed


# ---------------------------------------------------------------------------
# link-graph PageRank (r12)
# ---------------------------------------------------------------------------


def test_pagerank_fixed_point_exact(spark):
    """Hand-computed fixed-point iterations on a 3-node cycle with one
    chord: every value must match the scalar integer recurrence
    EXACTLY (that exactness is the operator's whole contract)."""
    from sqlpp_spark.ops import release_intermediates
    from sqlpp_spark.ops.web import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 2)]  # node 0 has outdeg 2
    df = spark.createDataFrame(edges, "src long, dst long")
    unit, dp = 10**9, 85
    base = (unit * 15) // 100
    pr = {0: unit, 1: unit, 2: unit}
    deg = {0: 2, 1: 1, 2: 1}
    out_edges = {0: [1, 2], 1: [2], 2: [0]}
    for _ in range(4):
        sums = {n: 0 for n in pr}
        for u, targets in out_edges.items():
            for v in targets:
                sums[v] += pr[u] // deg[u]
        pr = {n: base + (dp * sums[n]) // 100 for n in pr}
    g = pagerank(df, n_iter=4)
    got = {r.node: r.pr for r in g.collect()}
    release_intermediates(g)
    assert got == pr
    # a sink (no out-edges) is ranked but contributes nothing
    df2 = spark.createDataFrame([(0, 1), (2, 1)], "src long, dst long")
    g2 = pagerank(df2, n_iter=2)
    got2 = {r.node: r.pr for r in g2.collect()}
    release_intermediates(g2)
    assert set(got2) == {0, 1, 2}
    assert got2[0] == got2[2] == base  # nothing links to them


def test_label_propagate_deterministic_semantics(spark):
    """Seeds are immutable; majority wins; TIES go to the smallest
    label; a round with no labeled neighbor keeps the previous label;
    unreachable nodes stay NULL."""
    from sqlpp_spark.ops.web import label_propagate

    # seeds: 0->2, 1->1, 5->0. node 2 neighbors {0,1,5}: labels
    # {2,1,0} all count 1 -> tie -> smallest label 0. node 3 only
    # touches 2 (labeled in round 1) -> gets 2's label in round 2 and
    # KEEPS it in round 3. 8-9 form an unreachable unlabeled island.
    edges = [(0, 2), (1, 2), (5, 2), (2, 3), (8, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame(
        [(0, 2), (1, 1), (5, 0)], "node long, label long"
    )
    got = {r.node: r.label
           for r in label_propagate(seeds, e, n_iter=3).collect()}
    assert got[0] == 2 and got[1] == 1 and got[5] == 0  # immutable
    assert got[2] == 0            # tie -> smallest label
    assert got[3] == got[2] == 0  # adopted from 2, kept thereafter
    assert got[8] is None and got[9] is None


def test_triangle_counts_known_graphs(spark):
    """K4 (4 triangles, each node in 3, clustering 1.0), a pendant
    path (0 triangles), duplicate + reversed + self-loop edges
    canonicalized away, and a hub whose wedges must not explode the
    count (the orientation guarantees each triangle counts once)."""
    from sqlpp_spark.ops import release_intermediates
    from sqlpp_spark.ops.web import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    extra = [(3, 3), (1, 0), (0, 1), (4, 5), (5, 6)]  # noise
    df = spark.createDataFrame(k4 + extra, "src long, dst long")
    out = triangle_counts(df)
    got = {r.node: (r.degree, r.n_triangles, r.clustering)
           for r in out.collect()}
    release_intermediates(out)
    for n in (1, 2):
        assert got[n] == (3, 3, 1.0)
    assert got[0][0] == 3 and got[0][1] == 3  # dup/reversed deduped
    assert got[3] == (3, 3, 1.0)              # self-loop dropped
    assert got[5] == (2, 0, 0.0)
    assert got[4][1] == 0 and got[6][1] == 0
    # star K1,5 + one rim edge: hub participates in exactly 1 triangle
    star = [(0, i) for i in range(1, 6)] + [(1, 2)]
    out2 = triangle_counts(
        spark.createDataFrame(star, "src long, dst long"))
    got2 = {r.node: r.n_triangles for r in out2.collect()}
    release_intermediates(out2)
    assert got2[0] == 1 and got2[1] == 1 and got2[2] == 1
    assert got2[3] == got2[4] == got2[5] == 0


def test_kmeans_lloyd_matches_numpy_reference(spark):
    import numpy as np

    from sqlpp_spark.ops.similarity import kmeans_lloyd

    rng = np.random.RandomState(11)
    dim, n, k = 8, 60, 4
    pts = rng.randn(n, dim).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: r.cell
        for r in kmeans_lloyd(df, k=k, n_rounds=1, dim=dim).collect()
    }

    # pure-python reference with the same quantization + tie-break
    q = np.floor(pts.astype("float64") * (1 << 20)).astype("int64")
    cents = {c: q[c].astype("float64") for c in range(k)}

    def assign(cents):
        out = {}
        for i in range(n):
            best = min(
                (sum((q[i][d] - cents[c][d]) ** 2 for d in range(dim)), c)
                for c in sorted(cents)
            )
            out[i] = best[1]
        return out

    a1 = assign(cents)
    for c in range(k):
        members = [i for i, cc in a1.items() if cc == c]
        if members:
            s = q[members].sum(axis=0)
            cents[c] = np.array(
                [float(s[d]) / float(len(members)) for d in range(dim)]
            )
    want = assign(cents)
    assert got == want


def test_kcenter_greedy_selection_order(spark):
    """Gonzalez greedy on a line: start at min id (x=0), then the
    farthest point each round; coverage map assigns to the nearest
    selected center with ties to the smaller center id."""
    from sqlpp_spark.ops.similarity import kcenter_greedy

    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.5, 0.0]),
           (3, [0.9, 0.0]), (4, [0.45, 0.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.center_id, r.sqdist) for r in
           kcenter_greedy(df, k=3, dim=2).collect()}
    # selection: c1=0 (min id); farthest from {0} is 3 (0.9);
    # farthest from {0,3} is 2 (min(0.5,0.4)=0.4) vs 4 (0.45 -> 0.45
    # from 0? min(0.45, 0.45)=0.45) -> 4 wins (0.45 > 0.4)
    centers = {cid for cid, _ in out.values()}
    assert centers == {0, 3, 4}
    assert out[0] == (0, 0)
    assert out[3] == (3, 0)
    assert out[4] == (4, 0)
    assert out[1][0] == 0   # 0.1 nearest to 0
    assert out[2][0] == 4   # 0.5 nearest to 0.45


def test_bfs_distance_frontier(spark):
    """Multi-source BFS: exact min hops, multi-source min wins,
    unreachable nodes absent, max_hops bounds the radius."""
    from sqlpp_spark.ops.web import bfs_distance

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 3), (5, 6)],  # 5→6 unreachable from {1,9}
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(1,), (9,)], "node long")
    out = {r.node: r.hops for r in bfs_distance(edges, srcs, max_hops=6).collect()}
    assert out == {1: 0, 9: 0, 2: 1, 3: 1, 4: 2}  # 3 via 9 beats 1→2→3
    out2 = {r.node: r.hops for r in bfs_distance(edges, srcs, max_hops=1).collect()}
    assert out2 == {1: 0, 9: 0, 2: 1, 3: 1}


def test_contamination_flags_exact_13grams(spark):
    """r19 directed cases for ops/corpus.contamination at the
    published 13-gram setting: a doc containing a benchmark 13-gram
    mid-text is flagged with the distinct-gram hit count; clean docs
    and sub-13-word docs are not; normalization (case/whitespace)
    applies on both sides."""
    from sqlpp_spark.ops.corpus import contamination as benchmark_contamination

    bench_sent = " ".join(f"b{i}" for i in range(13))
    corpus = spark.createDataFrame(
        [
            # contains the benchmark sentence verbatim mid-text
            (1, "intro words " + bench_sent + " trailing tail"),
            # case/whitespace variant still matches (normalization)
            (2, "X  " + bench_sent.upper() + "  y"),
            # clean
            (3, " ".join(f"c{i}" for i in range(40))),
            # shares only 12 of the 13 words in order -> no 13-gram
            (4, " ".join(f"b{i}" for i in range(12)) + " zz done"),
            # shorter than 13 words, even if a prefix of the bench
            (5, " ".join(f"b{i}" for i in range(9))),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_sent)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in benchmark_contamination(corpus, bench, n=13).collect()
    }
    assert out == {1: 1, 2: 1}
    # a doc overlapping TWO distinct benchmark grams counts both
    bench2 = spark.createDataFrame(
        [(100, bench_sent + " b13")], "doc_id long, text string"
    )
    corpus2 = spark.createDataFrame(
        [(7, "pad " + bench_sent + " b13 pad2")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in benchmark_contamination(corpus2, bench2, n=13).collect()
    }
    assert out2 == {7: 2}


def test_marker_fusion_counts_identical(spark):
    """r19 opt: the fused one-pass marker extraction must count exactly
    like independent per-word \\b-regex scans — including hyphen-split
    tokens, markers embedded in longer words (no match), shared-prefix
    markers (de/der), the cross-language duplicate ('la'), NULL and
    empty text."""
    from pyspark.sql import functions as F

    from sqlpp_spark.ops.text import (
        LANG_MARKERS, _count_word, _marker_matches, _count_in,
        lang_id, lang_scores, quality_score,
    )

    rows = [
        (1, "the cat and the dog of de-la maison"),
        (2, "der die und derby under dethe"),
        (3, "le la et el la de"),
        (4, ""),
        (5, None),
        (6, "nothing matches here xyz"),
        (7, "la la la der de el the of and und die le et"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = F.col("text")
    words = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    fused = df.select(
        "doc_id",
        *[_count_in(_marker_matches(c), w).alias(f"f_{w}") for w in words],
    ).collect()
    sep = df.select(
        "doc_id", *[_count_word(c, w).alias(f"s_{w}") for w in words]
    ).collect()
    for fr, sr in zip(
        sorted(fused, key=lambda r: r["doc_id"]),
        sorted(sep, key=lambda r: r["doc_id"]),
    ):
        for w in words:
            assert fr[f"f_{w}"] == sr[f"s_{w}"], (fr["doc_id"], w)
    # composite outputs stay deterministic and sane on the same rows
    out = {
        r["doc_id"]: (r["lp"], r["q"])
        for r in df.select(
            "doc_id",
            lang_id(c).alias("lp"),
            quality_score(c).alias("q"),
        ).collect()
    }
    assert out[3][0] == "es"  # 4-4 tie with fr, broken by fold order
    assert out[6][0] == "und"
    assert out[5] == ("und", None)  # NULL text: conditions all NULL
    # lang_scores equals the per-word sums per language
    ls = df.select(
        "doc_id",
        *[
            v.alias(f"ls_{k}")
            for k, v in sorted(lang_scores(c).items())
        ],
    ).collect()
    for r in ls:
        base = next(x for x in sep if x["doc_id"] == r["doc_id"])
        for lang, ws in LANG_MARKERS.items():
            want = None
            vals = [base[f"s_{w}"] for w in ws]
            if all(v is not None for v in vals):
                want = sum(vals)
            assert r[f"ls_{lang}"] == want, (r["doc_id"], lang)


def test_probe_cells_numpy_equals_hof_path(spark):
    """r19 opt: the Arrow/numpy nearest-cells kernel must reproduce the
    JVM HOF path bit-for-bit — same dim-by-dim fold order, same
    (dist, cell) stable tie-break — on real sf0.1 embeddings with a
    √n-scale cell count (the sf0.01 oracle gate only exercises the
    ≤32-cell literal path, so this pin is the coverage for the scale
    path). Also covers NULL vectors and shuffled cell-id order."""
    from pyspark.sql import functions as F

    from sqlpp_spark.ops.similarity import (
        _with_probe_cells, _with_probe_cells_numpy, pivot_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    cents, cids = pivot_centroids(emb, 45)
    base = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    ).limit(500)
    # inject a NULL vector row to pin NULL-propagation parity
    null_row = base.limit(1).select(
        (F.col("vid") + 10_000_000).alias("vid"),
        F.lit(None).cast(base.schema["v"].dataType).alias("v"),
    )
    base = base.union(null_row)
    spark.conf.set("spark.sqlpp.ann.pythonProbes", "false")
    try:
        hof = {
            r["vid"]: r["p"]
            for r in _with_probe_cells(base, "v", cents, cids, 2, "p")
            .select("vid", "p").collect()
        }
    finally:
        spark.conf.set("spark.sqlpp.ann.pythonProbes", "true")
    # scramble centroid order: the kernel must sort by cell id itself
    perm = list(range(len(cids)))[::-1]
    np_path = {
        r["vid"]: r["p"]
        for r in _with_probe_cells_numpy(
            base, "v", [cents[i] for i in perm], [cids[i] for i in perm],
            2, "p",
        ).select("vid", "p").collect()
    }
    assert set(hof) == set(np_path) and len(hof) == 501
    for vid, p in hof.items():
        assert np_path[vid] == p, (vid, p, np_path[vid])


def test_pair_cosine_numpy_equals_hof(spark):
    """r19 opt: the Arrow/numpy pair-cosine must equal cosine_sim
    bit-for-bit on real embeddings (same three dim-ascending folds,
    sqrt, division)."""
    from pyspark.sql import functions as F

    from sqlpp_spark.ops.dedup import cosine_sim
    from sqlpp_spark.ops.similarity import _pair_cosine_numpy

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("qv")
    ).limit(60)
    b = emb.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("cv")
    ).limit(60)
    pairs = a.crossJoin(b)
    hof = {
        (r["ida"], r["idb"]): r["cos"]
        for r in pairs.select(
            "ida", "idb", cosine_sim(F.col("qv"), F.col("cv")).alias("cos")
        ).collect()
    }
    npv = {
        (r["ida"], r["idb"]): r["cos"]
        for r in _pair_cosine_numpy(pairs, "qv", "cv", "cos").collect()
    }
    assert set(hof) == set(npv) and len(hof) == 3600
    for k, v in hof.items():
        assert npv[k] == v, (k, v, npv[k])


def test_knn_graph_output_identical_across_cosine_paths(spark):
    """The full auto kNN graph row set must be identical whichever
    cosine/probe path executes."""
    from sqlpp_spark.ops import release_intermediates
    from sqlpp_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spec = REGISTRY["ann_knn_graph_auto"]
    sf = "/root/testdata/sf0.01"
    out = {}
    for flag in ("true", "false"):
        spark.conf.set("spark.sqlpp.ann.pythonProbes", flag)
        spark.conf.set("spark.sqlpp.ann.pythonCosine", flag)
        try:
            df = spec.builder(spark, sf)
            out[flag] = sorted(map(tuple, df.collect()))
            release_intermediates(df)
        finally:
            spark.conf.set("spark.sqlpp.ann.pythonProbes", "true")
            spark.conf.set("spark.sqlpp.ann.pythonCosine", "true")
    assert out["true"] == out["false"] and len(out["true"]) > 0


def test_clean_corpus_matches_oracle_on_null_and_blank_texts(spark, sf_dir, tmp_path):
    """The fused pipeline_clean_corpus keeps only docs with a shingle
    row; its oracle keeps every quality-passing doc. Pin that the two
    agree on NULL, empty and whitespace-only texts, including blank
    texts long enough to pass the quality filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqlpp_spark.ops import release_intermediates
    from sqlpp_spark.queries import REGISTRY, _ensure_loaded
    from sqlpp_spark.testing.oracle import compare, run_oracle

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    blanks = [None, "", " ", "   ", " " * 60, "\t\n " * 20, " the " * 12,
              "The " + " " * 60]
    extra = pa.table(
        {
            "doc_id": [10_000 + i for i in range(len(blanks))],
            "text": blanks,
            "lang": ["en"] * len(blanks),
            "source": ["blank"] * len(blanks),
            "n_chars": [None if t is None else len(t) for t in blanks],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), tmp_path / "documents.parquet")

    _ensure_loaded()
    spec = REGISTRY["pipeline_clean_corpus"]
    df = spec.builder(spark, str(tmp_path))
    try:
        report = compare(df, run_oracle(spec.oracle, str(tmp_path)))
        kept = {r[0] for r in df.select("doc_id").collect()}
    finally:
        release_intermediates(df)
    assert report["match"], report["detail"]
    # the blank texts long enough to pass quality are in the output
    assert {10_004, 10_006} <= kept
