"""Dedup + similarity operator tests: exact, MinHash LSH, SimHash, n-gram
Jaccard, embedding near-dup, brute-force/LSH top-k."""

import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark.operators.dedup import (
    dedup_exact,
    embedding_near_dup_pairs,
    jaccard,
    minhash_dedup_pairs,
    minhash_signatures_df,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from pandera_unified_validator_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the quiet green hills and the river runs cold through the valley"
)
NEAR = BASE.replace("cold", "warm")  # one-word edit → high jaccard
OTHER = (
    "completely different text about spark dataframes shuffles partitions "
    "catalyst optimizer and adaptive query execution in distributed systems"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE), (5, "tiny doc")]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_dedup_exact(spark, corpus):
    out = dedup_exact(corpus, ["text"], tiebreak="doc_id")
    assert out.count() == 4  # 1 and 4 collapse
    kept = {r["doc_id"] for r in out.collect()}
    assert 1 in kept and 4 not in kept  # deterministic min tiebreak


def test_dedup_exact_full_row_distinct(spark):
    """All-columns dedup (the distinct branch): fully identical rows collapse,
    near-identical rows survive."""
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a")]
    df = spark.createDataFrame(rows, "k int, v string")
    out = sorted((r["k"], r["v"]) for r in dedup_exact(df).collect())
    assert out == [(1, "a"), (1, "b"), (2, "a")]


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("a b c d e", "a b c d x")], "x string, y string")
    row = df.select(
        F.size(shingles("x", 3)).alias("n"),
        F.round(jaccard(shingles("x", 3), shingles("y", 3)), 4).alias("j"),
    ).collect()[0]
    assert row["n"] == 3  # 5 words → 3 trigrams
    # trigrams x: {abc,bcd,cde}, y: {abc,bcd,cdx} → 2/4
    assert row["j"] == 0.5
    short = spark.createDataFrame([("a b",)], "x string")
    assert short.select(F.size(shingles("x", 5)).alias("n")).collect()[0]["n"] == 1
    # NULL, empty and whitespace-only text give no shingle; k=1 is the word
    # list (outputs pinned from the per-element slicing builder)
    edge = spark.createDataFrame(
        [(0, None), (1, ""), (2, " \t\n "), (3, "The  Quick\tbrown\nFOX"), (4, "a")],
        "i int, x string",
    )
    got = {
        r["i"]: (r["k1"], r["k3"])
        for r in edge.select(
            "i", shingles("x", 1).alias("k1"), shingles("x", 3).alias("k3")
        ).collect()
    }
    assert got == {
        0: ([], []),
        1: ([], []),
        2: ([], []),
        3: (["the", "quick", "brown", "fox"], ["the quick brown", "quick brown fox"]),
        4: (["a"], ["a"]),
    }


def test_minhash_signature_similarity(spark, corpus):
    sig = minhash_signatures_df(corpus, "doc_id", "text", 32, 5).collect()
    by = {r["doc_id"]: r["__sig"] for r in sig}
    assert by[1] == by[4]  # identical docs → identical signature
    agree_near = sum(a == b for a, b in zip(by[1], by[2]))
    agree_far = sum(a == b for a, b in zip(by[1], by[3]))
    assert agree_near > agree_far  # signature agreement tracks jaccard


def test_minhash_dedup_pairs(spark, corpus):
    pairs = minhash_dedup_pairs(
        corpus, "doc_id", "text", num_hashes=32, bands=16, jaccard_threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in pairs}
    assert got[(1, 4)] == 1.0
    assert (1, 2) in got and got[(1, 2)] >= 0.5
    assert not any(3 in p for p in got)  # OTHER matches nothing


def test_simhash_and_near_dup(spark, corpus):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(corpus).collect()}
    assert fps[1] == fps[4]
    ham_near = bin(fps[1] ^ fps[2]).count("1")
    ham_far = bin(fps[1] ^ fps[3]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard_pairs(spark, corpus):
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a int, id_b int")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(corpus, cand, n=3).collect()
    }
    assert out[(1, 2)] > 0.7 > out[(1, 3)]


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk(spark, embeddings):
    q = embeddings.filter("vec_id = 0").collect()[0]["embedding"]
    top = brute_force_topk(embeddings, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine_sim"] == pytest.approx(1.0)
    sims = [r["cosine_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall(spark, embeddings):
    q = embeddings.filter("vec_id = 0").collect()[0]["embedding"]
    exact = [r["vec_id"] for r in brute_force_topk(embeddings, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in lsh_topk(embeddings, q, k=5, n_bits=8, multiprobe=2).collect()
    ]
    assert approx[0] == 0  # the query itself always lands in its own bucket
    assert len(set(exact) & set(approx)) >= 2  # decent recall on 500 vecs


def test_lsh_topk_multiprobe_radius3_and_bounds(spark, embeddings):
    """Generalized multiprobe: radius 3 probes sum C(n_bits, r<=3) buckets —
    recall can only grow with radius; out-of-range radii raise instead of
    silently capping."""
    q = embeddings.filter("vec_id = 0").collect()[0]["embedding"]
    exact = [r["vec_id"] for r in brute_force_topk(embeddings, q, k=5).collect()]
    r2 = {
        r["vec_id"]
        for r in lsh_topk(embeddings, q, k=5, n_bits=8, multiprobe=2).collect()
    }
    r3 = {
        r["vec_id"]
        for r in lsh_topk(embeddings, q, k=5, n_bits=8, multiprobe=3).collect()
    }
    assert 0 in r3
    assert len(r3 & set(exact)) >= len(r2 & set(exact))
    with pytest.raises(ValueError, match="multiprobe"):
        lsh_topk(embeddings, q, n_bits=8, multiprobe=9)
    with pytest.raises(ValueError, match="multiprobe"):
        lsh_topk(embeddings, q, n_bits=8, multiprobe=-1)


def test_embedding_dim_inference_skips_leading_nulls(spark, embeddings):
    """A NULL vector in the first row must not collapse the inferred dim to 1
    (ADVICE r2): inference reads the first NON-NULL vector."""
    null_row = spark.createDataFrame(
        [(99999, None)], "vec_id bigint, embedding array<double>"
    )
    sample = embeddings.select(
        F.col("vec_id").cast("bigint"), F.col("embedding").cast("array<double>")
    ).filter("vec_id < 3")
    dup = sample.withColumn("vec_id", F.col("vec_id") + 10000)
    # null row FIRST: dim inference must skip it (and null vectors are
    # dropped from matching entirely)
    both = null_row.unionAll(sample).unionAll(dup)
    pairs = embedding_near_dup_pairs(both, threshold=0.999, n_bits=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(0, 10000), (1, 10001), (2, 10002)} <= found
    assert not any(99999 in p for p in found)


def test_embedding_near_dup(spark, embeddings):
    # duplicate a few vectors under new ids → must be found as near-dups
    dup = embeddings.filter("vec_id < 3").withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    pairs = embedding_near_dup_pairs(
        embeddings.unionAll(dup), dim=64, threshold=0.999, n_bits=8
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(0, 10000), (1, 10001), (2, 10002)} <= found


def test_embedding_near_dup_infers_dim_and_guards_buckets(spark, embeddings):
    dup = embeddings.filter("vec_id < 3").withColumn("vec_id", F.col("vec_id") + 10000)
    both = embeddings.unionAll(dup)
    # dim inferred from data (no dim argument)
    pairs = embedding_near_dup_pairs(both, threshold=0.999, n_bits=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(0, 10000), (1, 10001), (2, 10002)} <= found
    # bucket guard: force every bucket oversized -> second-signature split
    # still finds identical-vector pairs (same vector -> same refined bucket)
    guarded = embedding_near_dup_pairs(
        both, threshold=0.999, n_bits=2, max_bucket_rows=50
    ).collect()
    gfound = {(r["id_a"], r["id_b"]) for r in guarded}
    assert {(0, 10000), (1, 10001), (2, 10002)} <= gfound


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH near-dup output must be a subset of the exact all-pairs result
    with full recall at this scale (every true pair here has jaccard far
    above threshold, so (1-s^2)^bands is negligible)."""
    from pandera_unified_validator_spark.operators.dedup import shingles

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = d.select("doc_id", F.explode(F.array_distinct(shingles("text", 5))).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a").join(sh.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        inter.join(sizes.selectExpr("doc_id as id_a", "n as na"), "id_a")
        .join(sizes.selectExpr("doc_id as id_b", "n as nb"), "id_b")
        .withColumn("j", F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4))
        .filter("j >= 0.5")
    )
    truth = {(r["id_a"], r["id_b"]): r["j"] for r in exact.collect()}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_dedup_pairs(
            d, "doc_id", "text", num_hashes=32, bands=16, jaccard_threshold=0.5
        ).collect()
    }
    assert set(got) <= set(truth)          # no false positives (exact verify)
    recall = len(got) / max(len(truth), 1)
    assert recall == 1.0, f"recall {recall}: missed {set(truth) - set(got)}"
    assert got == truth                    # values identical (hashed-set jaccard)


def test_ngram_jaccard_pairs_edge_semantics(spark):
    """Round-3 explode/join shape keeps the old kernel's contract: absent ids
    drop, empty-gram docs score 0.0 vs non-empty, NULL when both empty,
    duplicate candidate rows keep multiplicity."""
    from pandera_unified_validator_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),
            (3, "   "),          # no words -> empty gram set
            (4, "  "),           # no words -> empty gram set
        ],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (3, 4), (1, 99)], "id_a int, id_b int"
    )
    rows = ngram_jaccard_pairs(docs, pairs).collect()
    got = sorted((r["id_a"], r["id_b"], r["jaccard_sim"]) for r in rows)
    # (1,99) dropped (99 not in docs); (1,2) duplicated; identical docs -> 1.0
    assert got == [(1, 2, 1.0), (1, 2, 1.0), (1, 3, 0.0), (3, 4, None)]


def test_embedding_near_dup_star_fallback_on_identical_cluster(spark):
    """A cluster the secondary signature cannot split (identical vectors)
    emits the linear star — 300 identical vectors with cap 100 yield 299
    representative pairs, not 300*299/2 — while distinct-but-colliding
    vectors below threshold emit nothing."""
    from pandera_unified_validator_spark.operators.dedup import embedding_near_dup_pairs

    ident = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(16)), lambda i: i.cast("double")).alias(
            "embedding"
        ),
    )
    pairs = embedding_near_dup_pairs(
        ident, threshold=0.999, n_bits=8, max_bucket_rows=100
    ).collect()
    assert len(pairs) == 299
    assert all(r["id_a"] == 0 and r["cosine_sim"] == 1.0 for r in pairs)
    assert {r["id_b"] for r in pairs} == set(range(1, 300))


def test_embedding_near_dup_hot_bucket_splits_in_shuffle_key(spark):
    """Round-4 scale fix: a HOT primary bucket is split by the secondary
    signature IN THE SHUFFLE KEY, so each applyInPandas group is a bounded
    sub-bucket. Observable consequence: sub-buckets of size <= cap get full
    all-pairs output — if the whole hot bucket still landed in one group
    (n > cap), the kernel would emit only the linear star. Two 12-vector
    clusters share a primary bucket (24 > cap=16) but differ in secondary:
    the split must yield 2 * C(12,2) = 132 member-member pairs, identical
    to the exhaustive max_bucket_rows=None result."""
    import numpy as np

    dim, nb, seed = 8, 4, 42
    p1 = np.random.RandomState(seed).standard_normal((dim, nb))
    p2 = np.random.RandomState(seed + 1).standard_normal((dim, nb))
    planes = np.concatenate([p1, p2], axis=1).astype("float32").astype("float64")
    w = np.concatenate(
        [(1 << np.arange(nb)), (1 << (np.arange(nb) + nb))]
    ).astype("int64")

    def sigs(X):
        packed = (((X @ planes) > 0) @ w).astype("int64")
        return packed & ((1 << nb) - 1), packed >> nb

    # deterministic search: two unit directions sharing the primary bucket,
    # differing in secondary, and far apart in cosine (cross pairs filtered)
    rng = np.random.RandomState(7)
    u = v = None
    for _ in range(5000):
        cand = rng.standard_normal((2, dim))
        cand /= np.linalg.norm(cand, axis=1)[:, None]
        (b1, b2), (s1, s2) = sigs(cand)
        if b1 == b2 and s1 != s2 and abs(cand[0] @ cand[1]) < 0.8:
            u, v = cand
            break
    assert u is not None, "no direction pair found — widen the search"

    eps = 1e-6
    cluster = np.concatenate(
        [
            u[None, :] + eps * rng.standard_normal((12, dim)),
            v[None, :] + eps * rng.standard_normal((12, dim)),
        ]
    )
    b, s = sigs(cluster)
    # perturbations must not flip any signature bit (else resample the test)
    assert len(set(b)) == 1 and sorted(set(s)) == sorted({s[0], s[12]})

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cluster)],
        "vec_id int, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.99, n_bits=nb, seed=seed, max_bucket_rows=16
        ).collect()
    }
    expect = {(a, b_) for a in range(12) for b_ in range(a + 1, 12)} | {
        (a, b_) for a in range(12, 24) for b_ in range(a + 1, 24)
    }
    assert got == expect, f"missing={expect - got} extra={got - expect}"
    # and the capped result equals the exhaustive one here (cross-cluster
    # cosine < threshold, so the sub-split loses nothing in this geometry)
    exhaustive = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.99, n_bits=nb, seed=seed, max_bucket_rows=None
        ).collect()
    }
    assert got == exhaustive


def test_embedding_small_input_fast_path_skips_guard(spark, tmp_path):
    """Parquet-backed inputs whose exact row count is ≤ max_bucket_rows
    take the single-job plan: no tagged-corpus persist is registered (the
    observable difference), and the output is identical to the guarded
    path's. (RDD-backed frames have unknown Catalyst stats — treated as
    huge, guard always engages — so the fixture must go through a file.)"""
    from pandera_unified_validator_spark.operators.dedup import embedding_near_dup_pairs
    from pandera_unified_validator_spark.utils.cache import registry

    rows = [(i, [float((i % 4) + j) for j in range(8)]) for i in range(30)]
    src = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(src)
    df = spark.read.parquet(src)
    registry.release_all()
    fast = embedding_near_dup_pairs(df, threshold=0.99, n_bits=4, max_bucket_rows=64)
    fast_pairs = {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in fast.collect()}
    assert registry.labels() == []  # guard skipped: nothing persisted
    guarded = embedding_near_dup_pairs(df, threshold=0.99, n_bits=4, max_bucket_rows=8)
    guarded_pairs = {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in guarded.collect()}
    assert "embedding_near_dup_pairs.tagged" in registry.labels()
    registry.release_all()
    # 30 rows < 64: no bucket can be hot, so fast == exhaustive; the cap-8
    # run may drop cross-sub-bucket pairs but must stay a subset
    exhaustive = embedding_near_dup_pairs(
        df, threshold=0.99, n_bits=4, max_bucket_rows=None
    )
    ex_pairs = {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in exhaustive.collect()}
    assert fast_pairs == ex_pairs and guarded_pairs <= ex_pairs


def test_shingle_hashes_match_string_gram_identity(spark):
    """shingle_hashes must preserve gram IDENTITY exactly as the string form
    (the property every equality consumer — banding, set Jaccard — relies
    on): per-doc distinct counts equal, and two docs' gram sets intersect
    identically under both representations, including the short-doc
    whole-document gram."""
    from pandera_unified_validator_spark.operators.dedup import shingle_hashes

    docs = spark.createDataFrame(
        [
            (1, BASE),
            (2, NEAR),
            (3, BASE),            # identical to 1
            (4, "tiny doc"),      # short doc: single whole-doc gram
            (5, "tiny doc"),      # identical short doc
            (6, "tiny dog"),      # different short doc
            (7, "   "),           # no words: empty gram set
        ],
        "doc_id int, text string",
    )
    rows = docs.select(
        "doc_id",
        F.array_distinct(shingles("text", 5)).alias("s"),
        F.array_distinct(shingle_hashes("text", 5)).alias("h"),
    ).collect()
    s = {r["doc_id"]: set(r["s"]) for r in rows}
    h = {r["doc_id"]: set(r["h"]) for r in rows}
    for i in s:
        assert len(s[i]) == len(h[i]), i  # same distinct-gram cardinality
    for a in s:
        for b in s:
            assert len(s[a] & s[b]) == len(h[a] & h[b]), (a, b)
    assert s[7] == set() and h[7] == set()
    assert h[4] == h[5] != h[6]


def test_connected_components_and_cluster_dedup(spark):
    """Label propagation finds transitive clusters: a chain whose ends never
    pair directly still collapses to one component; aggressive keep-one
    keeps exactly the component minimum plus all unpaired rows."""
    from pandera_unified_validator_spark.operators.dedup import (
        connected_components,
        dedup_by_components,
    )

    # components: {1..5} as a path, {10,11}, {20,21,22} as a star on 21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    # the small-graph tier (driver union-find) and the forced distributed
    # loop must land on the identical fixpoint
    dist = {
        r["id"]: r["component"]
        for r in connected_components(pairs, small_graph_edges=None).collect()
    }
    assert dist == comp
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20
    assert len(comp) == 10  # only nodes that appear in pairs

    df = spark.range(30).select(F.col("id").alias("doc_id"))
    kept = {r["doc_id"] for r in dedup_by_components(df, pairs).collect()}
    dropped = set(range(30)) - kept
    assert dropped == {2, 3, 4, 5, 11, 21, 22}  # everything but each min + unpaired


def test_connected_components_converges_on_long_chain(spark):
    """Pointer doubling makes convergence O(log diameter): a 200-node path
    (diameter 200) must converge WITHIN the default max_iterations=25
    (needs ~log2(200) ≈ 8 rounds; the round-4 one-hop shape needed 200 and
    silently returned wrong labels) and label every node with the head."""
    from pandera_unified_validator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(pairs, small_graph_edges=None).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == 201


def test_connected_components_warns_on_non_convergence(spark, caplog):
    """Exhausting max_iterations with labels still moving must be LOUD:
    a warning on the default path, a raise under strict=True — silent
    under-merging means dedup_by_components keeps duplicate rows while
    reporting success."""
    import pytest

    from pandera_unified_validator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with caplog.at_level("WARNING", logger="pandera_unified_validator_spark"):
        comp = {r["id"]: r["component"] for r in
                connected_components(pairs, max_iterations=1,
                                     small_graph_edges=None).collect()}
    assert len(set(comp.values())) > 1  # genuinely under-merged
    assert any("UNDER-merged" in rec.message for rec in caplog.records)
    with pytest.raises(RuntimeError, match="UNDER-merged"):
        connected_components(pairs, max_iterations=1, strict=True,
                             small_graph_edges=None)


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    """Corpus-level exact line dedup: a long boilerplate line shared by
    three docs survives only in the smallest (doc_id, pos); short lines
    and blanks are kept everywhere; line order within docs is preserved."""
    from pandera_unified_validator_spark.operators.dedup import line_dedup

    boiler = "accept our cookies to continue reading this wonderful site"
    docs = spark.createDataFrame(
        [
            (1, f"unique first line of doc one\n{boiler}\nshort"),
            (2, f"{boiler}\nunique middle content of doc two goes right here"),
            (3, f"short\n\n{boiler}"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs, min_line_chars=30).collect()}
    assert out[1] == f"unique first line of doc one\n{boiler}\nshort"  # first copy kept
    assert out[2] == "unique middle content of doc two goes right here"
    assert out[3] == "short\n"                    # blank + short lines kept
    assert out[4] is None                         # NULL text preserved (advice r5)
    # duplicate WITHIN one doc also collapses to the first position
    within = spark.createDataFrame(
        [(7, f"{boiler}\nmiddle line that is long enough to be eligible\n{boiler}")],
        "doc_id int, text string",
    )
    got = line_dedup(within, min_line_chars=30).collect()[0]["text"]
    assert got == f"{boiler}\nmiddle line that is long enough to be eligible"


def test_token_contamination_flags(spark):
    """Token-level decontamination on pre-tokenized sequences: a corpus
    sequence embedding a benchmark 8-gram of token ids is flagged; one
    with no shared 8-gram is not; short sequences compare whole-sequence."""
    from pandera_unified_validator_spark.operators.dedup import (
        token_contamination_flags,
    )

    bench = spark.createDataFrame(
        [(100, list(range(10, 22)))], "qid int, tokens array<int>"
    )
    corpus = spark.createDataFrame(
        [
            (1, list(range(5, 25))),          # contains 10..21 -> shares 8-grams
            (2, list(range(50, 70))),         # disjoint ids
            (3, [10, 11, 12]),                # short: whole-seq gram, no match
            (4, list(range(10, 18))),         # exactly one benchmark 8-gram
        ],
        "doc_id int, tokens array<int>",
    )
    got = {
        r["doc_id"]: r["overlap_grams"]
        for r in token_contamination_flags(
            corpus, bench, n=8, bench_tokens_col="tokens"
        ).collect()
    }
    assert set(got) == {1, 4}
    assert got[1] == 5 and got[4] == 1  # windows of 10..21 inside 5..24: 5


def test_minhash_incremental_reads_store_not_text(spark, tmp_path):
    """Cross-snapshot dedup (round 6): the OLD corpus side must come from
    the persisted signature store, never recomputed from text. Proof is
    behavioral: the store is built from v1 text, the old corpus then
    MUTATES (v2) — pairs still reflect v1 (a new doc identical to a v1
    old doc pairs at jaccard 1.0 even though no live text matches it),
    which is impossible if the engine re-shingled the old side. Also
    covers: old x old pairs absent, new x new pairs found, flags correct,
    signature-width probe raises on parameter mismatch."""
    from pandera_unified_validator_spark.operators.dedup import (
        minhash_dedup_pairs_incremental,
    )

    old_v1 = spark.createDataFrame(
        [(1, BASE), (2, OTHER), (3, BASE)], "doc_id int, text string"
    )
    store_path = str(tmp_path / "sigstore")
    minhash_signatures_df(
        old_v1, "doc_id", "text", 32, 5, include_shingle_hashes=True
    ).write.parquet(store_path)
    old_sigs = spark.read.parquet(store_path)

    # old corpus text has since changed; doc 1 no longer matches BASE
    new_docs = spark.createDataFrame(
        [(10, BASE), (11, BASE), (12, "entirely unrelated fresh content here")],
        "doc_id int, text string",
    )
    pairs = minhash_dedup_pairs_incremental(
        new_docs, old_sigs, num_hashes=32, bands=16, jaccard_threshold=0.5
    )
    got = {
        (r["id_a"], r["id_b"]): (r["jaccard_sim"], r["a_is_new"], r["b_is_new"])
        for r in pairs.collect()
    }
    # v1 store: docs 1 and 3 were BASE -> new 10/11 pair with both
    assert got[(1, 10)] == (1.0, False, True)
    assert got[(3, 10)] == (1.0, False, True)
    assert got[(10, 11)] == (1.0, True, True)   # new x new still found
    assert (1, 3) not in got                    # old x old never emitted
    assert all(a or b for (_, a, b) in got.values())
    # the store's parquet scan is in the plan (paths are elided in
    # toString, so match the pruned ReadSchema: the store has no text
    # column, only the signature longs)
    plan = pairs._jdf.queryExecution().toString()
    assert "__shh:array<bigint>" in plan and "Parquet" in plan

    import pytest as _pytest
    with _pytest.raises(ValueError, match="num_hashes=16"):
        minhash_dedup_pairs_incremental(new_docs, old_sigs, num_hashes=16, bands=8)
    with _pytest.raises(ValueError, match="missing"):
        minhash_dedup_pairs_incremental(new_docs, old_sigs.drop("__shh"))
