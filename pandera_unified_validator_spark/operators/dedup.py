"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

No reference analogue (SURVEY.md §2.8 scope fence) — required first-class
components for the 100 TB corpus use case. Scale shapes:

* exact: one map-side-combined groupBy on the exact key struct — every
  input column crosses the shuffle exactly once (round 3 dropped the
  redundant digest: 2.6x fewer exchange bytes on wide text keys);
* MinHash LSH: candidate generation via band-bucket equi-join — the
  only all-pairs-free way to near-dedup 10^12 docs; verification only runs
  on candidates;
* everything is built-in expressions (codegen) except the embedding path
  (Arrow pandas UDF, numpy-vectorized).
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import _gram_hashes, _gram_join, shingle_hashes, words
from ..functions.vectors import hyperplane_signature2_udf, hyperplane_signature_udf
from ..plans.stats import plan_size_bytes as _plan_size_bytes
from ..utils.cache import registry as _cache

_LOG = logging.getLogger(__name__)

__all__ = [
    "dedup_exact",
    "shingles",
    "shingle_hashes",
    "lsh_candidate_pairs",
    "jaccard",
    "minhash_dedup_pairs",
    "minhash_dedup_pairs_incremental",
    "simhash",
    "ngram_jaccard_pairs",
    "embedding_near_dup_pairs",
    "contamination_flags",
    "token_contamination_flags",
    "line_dedup",
    "connected_components",
    "dedup_by_components",
]


# ------------------------------------------------------------------ exact --
def dedup_exact(
    df: DataFrame, cols: Sequence[str] | None = None, tiebreak: str | None = None
) -> DataFrame:
    """Keep one row per distinct value of ``cols`` (default: all columns).

    Grouping is by the EXACT key struct, so two distinct rows can never
    silently merge (no digest-collision hazard). Each input column crosses
    the shuffle exactly ONCE: the dedup columns travel inside ``__key``, the
    remaining columns inside the ``min_by`` payload — round 2 shipped the
    dedup columns twice (``__key`` AND the full-row payload) plus a
    redundant 8-byte digest; for wide text keys that doubled exchange bytes.
    Spark's hash aggregate hashes the struct key internally, so the explicit
    digest bought nothing. Measured (2M rows, ~220-char text key, 25% dups,
    UI shuffleWriteBytes): round-2 shape 33.0 MB vs this shape 12.7 MB —
    2.6x fewer exchange bytes, the number that matters on a network-bound
    cluster shuffle (wall time is flat on this page-cached single host).
    The winner per group is the row with the smallest ``tiebreak`` via
    min_by over one hash-partitioned aggregation — no window sort; partial
    aggregation keeps per-partition traffic to one candidate row per
    distinct key. ``tiebreak`` defaults to the first NON-key column (a
    grouping column is constant within its group, so it could not break
    ties); the result is deterministic when the tiebreak column is distinct
    within every group — pass e.g. a row id to guarantee that.
    """
    cols = list(cols) if cols else df.columns
    key_set = set(cols)
    rest = [c for c in df.columns if c not in key_set]
    if tiebreak is None:
        tiebreak = rest[0] if rest else cols[0]
    if not rest:
        # key covers every column: surviving rows are fully identical, a
        # map-side-combined distinct is the minimal plan
        packed = df.select(F.struct(*[F.col(c) for c in cols]).alias("__key"))
        kept = packed.distinct()
    else:
        packed = df.select(
            F.struct(*[F.col(c) for c in cols]).alias("__key"),
            F.struct(*[F.col(c) for c in rest]).alias("__rest"),
            F.col(tiebreak).alias("__tb"),
        )
        kept = packed.groupBy("__key").agg(
            F.min_by("__rest", F.col("__tb")).alias("__rest")
        )
    src = {c: "__key" for c in cols}
    src.update({c: "__rest" for c in rest})
    return kept.select(
        *[F.col(src[c]).getField(c).alias(c) for c in df.columns]
    )


# ---------------------------------------------------------------- minhash --
def shingles(text: Column | str, k: int = 5) -> Column:
    """Word k-gram shingle array as STRINGS (lowercased); docs shorter than
    k words yield a single whole-doc shingle. This is the human-readable /
    oracle-replayable form (DuckDB rebuilds the same strings); the dedup
    pipelines use ``shingle_hashes`` — same gram identity, no per-gram
    string allocation."""
    return _gram_join(words(text), k, " ")


# shingle_hashes / _gram_hashes live in operators.text (gram machinery is
# shared with repetition scoring there); re-exported here for API stability


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    include_shingle_hashes: bool = False,
) -> DataFrame:
    """Corpus-scale MinHash: one explode to (doc, distinct shingle) rows;
    each shingle string is hashed ONCE (``xxhash64``) and the ``num_hashes``
    seeded variants derive from that 8-byte base hash (hashing a long is
    ~10x cheaper than re-hashing the shingle string per seed) — all codegen'd
    columns folded by one hash-shuffled groupBy with map-side combine.
    Returns (id, __sig array); with ``include_shingle_hashes`` also ``__shh``
    (the doc's distinct shingle-hash set, collected in the SAME pass) so
    downstream exact-Jaccard verification needs no second shingle build.
    Docs with no shingles drop out (no signature to compare).

    Gram hashes come from ``shingle_hashes`` (word hashed once, gram hash
    combines k word hashes — round 4): no gram string is ever built, which
    removed the concat_ws/slice allocation wall the round-3 shape paid
    (measured 3x at sf0.1). The word-hash array is a materialized projection
    so it is evaluated once per row, not once per gram."""
    # no array_distinct before the explode: min() over a multiset equals min
    # over the set, and collect_set dedupes — the distinct pass would only
    # add an interpreted array scan
    wh = df.select(
        F.col(id_col),
        F.transform(words(text_col), lambda w: F.xxhash64(w)).alias("__whh"),
    )
    ex = wh.select(
        F.col(id_col),
        F.explode(_gram_hashes(F.col("__whh"), shingle_k)).alias("__h0"),
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__h0"))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    if include_shingle_hashes:
        aggs.append(F.collect_set("__h0").alias("__shh"))
    agg = ex.groupBy(id_col).agg(*aggs)
    out_cols = [
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("__sig"),
    ]
    if include_shingle_hashes:
        out_cols.append(F.col("__shh"))
    return agg.select(*out_cols)


def _banded(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    carry: Sequence[str] = (),
) -> DataFrame:
    """(id, carry..., band, bucket) rows: one codegen'd
    ``xxhash64(band_no, sig[i], …)`` per band, posexploded."""
    return df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in carry],
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col(sig_col)[b * rows_per_band + i]
                            for i in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band", "__bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Band the signature, hash each band, equi-join docs sharing a band
    bucket → candidate pairs (a < b). The join is the scale move: candidate
    generation is linear in corpus size + bucket sizes, never all-pairs.

    Each band bucket is one codegen'd ``xxhash64(band_no, sig[i], …)`` over
    the band's signature elements — whole-stage-generated, unlike the
    round-3 ``F.transform`` + array→string casts, which ran interpreted per
    row (the same explode-vs-HOF trade CLAUDE.md measured at ~7x on the
    minhash aggregation). Candidates are identical either way: two docs
    share a bucket iff their band elements are equal (modulo a vanishing
    2^-64 hash collision, which verification removes).

    ``carry`` columns (functionally dependent on the id, e.g. an
    old/new-corpus flag) ride through the join and come back as
    ``<col>_a`` / ``<col>_b``."""
    banded = _banded(df, id_col, sig_col, bands, rows_per_band, carry)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Exact Jaccard over two string arrays (distinct elements)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(None))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """End-to-end MinHash LSH near-dup: signature → band buckets → candidate
    pairs → exact shingle-Jaccard verification ≥ threshold.
    Returns (id_a, id_b, jaccard_sim).

    Recall: with b bands of r = num_hashes/b rows, a pair at true Jaccard s
    is MISSED by every band with probability (1 − s^r)^b. Defaults
    (64 hashes, 16 bands, r=4): miss ≈ 2e-3 at s=0.8 (recall ≥ 0.997), and
    the S-curve midpoint sits at s ≈ (1/b)^(1/r) ≈ 0.5 — pairs well below
    threshold rarely even become candidates. Precision is exact: every
    candidate is verified with true Jaccard before emission. Tighter
    thresholds want more rows/band; lower thresholds want more bands.

    ONE shingle pass: the signature aggregation also collects each doc's
    distinct shingle-hash set (``include_shingle_hashes``), so verification
    joins ship fixed-width longs instead of rebuilding (and shuffling) string
    shingles — exact Jaccard over the hash sets equals Jaccard over shingles
    up to 64-bit collisions (~n_shingles²/2⁶⁵, vanishing). The persisted
    table is the one materialized signature store a 10^12-doc run would keep —
    tracked by ``utils.cache.registry`` (budgeted; wrap pipeline steps in
    ``operator_cache_scope()`` to release it once the result is written)."""
    rows_per_band = num_hashes // bands
    sigs = _cache.persist(
        minhash_signatures_df(
            df, id_col, text_col, num_hashes, shingle_k, include_shingle_hashes=True
        ),
        "minhash_dedup_pairs.signatures",
    )
    cand = lsh_candidate_pairs(sigs, id_col, "__sig", bands, rows_per_band)
    sh = sigs.select(F.col(id_col), F.col("__shh"))
    return (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__shh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__shh", "__sh_b"), "id_b")
        .withColumn("jaccard_sim", F.round(jaccard("__sh_a", "__sh_b"), 4))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def minhash_dedup_pairs_incremental(
    new_df: DataFrame,
    old_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Cross-snapshot (incremental) MinHash near-dup: dedup a NEW crawl
    against an EXISTING corpus — and within itself — WITHOUT re-shingling
    the historical corpus. ``old_sigs`` is the persisted signature store
    (``minhash_signatures_df(old_corpus, include_shingle_hashes=True)``
    written to parquet at the previous snapshot): columns ``(id_col,
    __sig, __shh)``. Returns ``(id_a, id_b, jaccard_sim, a_is_new,
    b_is_new)`` for every verified pair where AT LEAST ONE side is new —
    old×old pairs were already found at the previous snapshot and are
    skipped in the band join itself (not post-filtered), so no verify
    work is spent re-discovering them. Append the new signatures
    (``minhash_signatures_df(new_df, ..., include_shingle_hashes=True)``)
    to the store to roll the snapshot forward.

    This is the single most common 100 TB production shape (corpus
    refresh): the historical side contributes only fixed-width longs read
    straight off parquet — its text is never read, never shingled, never
    shuffled — so a refresh costs O(new corpus) shingling plus one banded
    equi-join against the store. The band join is ASYMMETRIC — new-banded
    rows against all-banded rows — so old×old pairs are never even
    enumerated inside a bucket (a symmetric all×all join with a
    post-filter would still pay |old-bucket|² pair enumeration per
    bucket, quadratic in the historical corpus this operator exists to
    avoid rescanning). ``num_hashes``/``bands``/``shingle_k`` MUST match
    the store's build parameters (signatures from mismatched parameters
    band meaninglessly); a cheap one-row probe validates the stored
    signature width.

    PRECONDITION: ``new_df`` ids and ``old_sigs`` ids must be DISJOINT
    (a re-crawl replacing an existing doc must first retire the old
    signature from the store). An overlapping id appears on both sides
    of the tagged union — duplicated candidate rows with ambiguous
    ``a_is_new``/``b_is_new`` joined against two different ``__shh``
    sets — and the ``l.__id != r.__id`` band predicate means a CHANGED
    doc is never compared against its own previous signature. Not
    probed here: an anti-join/intersection check would scan both stores
    (a full extra job on the 100 TB refresh path) to guard a contract
    the snapshot-roll protocol already maintains — callers with
    uncertain stores should assert disjointness themselves at write
    time, where the id sets are already materialized."""
    expected = [id_col, "__sig", "__shh"]
    missing = [c for c in expected if c not in old_sigs.columns]
    if missing:
        raise ValueError(
            f"old_sigs must carry {expected} (from minhash_signatures_df("
            f"include_shingle_hashes=True)); missing {missing}"
        )
    probe = old_sigs.select(F.size("__sig").alias("n")).limit(1).collect()
    if probe and probe[0]["n"] != num_hashes:
        raise ValueError(
            f"old_sigs stores {probe[0]['n']}-hash signatures but "
            f"num_hashes={num_hashes}; rebuild or pass matching parameters"
        )
    rows_per_band = num_hashes // bands
    new_sigs = _cache.persist(
        minhash_signatures_df(
            new_df, id_col, text_col, num_hashes, shingle_k,
            include_shingle_hashes=True,
        ),
        "minhash_incremental.new_signatures",
    )
    tagged = new_sigs.withColumn("__new", F.lit(True)).unionByName(
        old_sigs.select(id_col, "__sig", "__shh").withColumn("__new", F.lit(False))
    )
    banded_new = _banded(
        new_sigs.withColumn("__new", F.lit(True)),
        id_col, "__sig", bands, rows_per_band, carry=["__new"],
    ).alias("l")
    banded_all = _banded(
        tagged, id_col, "__sig", bands, rows_per_band, carry=["__new"]
    ).alias("r")
    # each new×new pair matches twice ((a,b) and (b,a)) — least/greatest
    # normalization + distinct collapses them; new×old matches once
    cand = (
        banded_new.join(
            banded_all,
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") != F.col("r.__id")),
        )
        .select(
            F.least(F.col("l.__id"), F.col("r.__id")).alias("id_a"),
            F.greatest(F.col("l.__id"), F.col("r.__id")).alias("id_b"),
            F.when(F.col("l.__id") < F.col("r.__id"), F.col("l.__new"))
            .otherwise(F.col("r.__new"))
            .alias("__new_a"),
            F.when(F.col("l.__id") < F.col("r.__id"), F.col("r.__new"))
            .otherwise(F.col("l.__new"))
            .alias("__new_b"),
        )
        .distinct()
    )
    sh = tagged.select(F.col(id_col), F.col("__shh"))
    return (
        cand.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__shh", "__sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__shh", "__sh_b"),
            "id_b",
        )
        .withColumn("jaccard_sim", F.round(jaccard("__sh_a", "__sh_b"), 4))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select(
            "id_a",
            "id_b",
            "jaccard_sim",
            F.col("__new_a").alias("a_is_new"),
            F.col("__new_b").alias("b_is_new"),
        )
    )


# ---------------------------------------------------------------- simhash --
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document, explode-based for scale: one shuffle on
    ``id_col`` (map-side combine over words), bit votes as ``bits`` codegen'd
    sum aggregates, fingerprint reassembled bitwise. Returns (id, simhash)."""
    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("__w")).withColumn(
        "__h", F.xxhash64("__w")
    )
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"__b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return votes.select(F.col(id_col), fp.alias("simhash"))


# ----------------------------------------------------- n-gram Jaccard ------
def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word n-gram Jaccard for given candidate (id_a, id_b) pairs —
    the verification kernel reusable behind any candidate generator.

    Shape (round 3): distinct (doc, gram) rows once via explode, set sizes
    via one map-side-combined groupBy, |A∩B| via two codegen hash joins
    keyed by (pair, gram) — no gram ARRAY ever crosses a shuffle (the
    round-2 shape shipped each doc's full distinct-gram array through both
    joins and intersected with an interpreted HOF per pair). Round 4: grams
    are 8-byte ``shingle_hashes``, not strings — gram equality (the only
    property the joins and set sizes use) is preserved, gram build skips
    string allocation, and the join keys are fixed-width. Semantics are
    unchanged: pairs whose ids are absent from ``df`` drop (inner join on
    existence), a doc with no grams has set size 0, Jaccard is NULL when
    both sides are empty, and duplicate candidate rows yield duplicate
    output rows."""
    ids = df.select(F.col(id_col))
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.transform(words(text_col), lambda w: F.xxhash64(w)).alias("__whh"),
    ).select(
        F.col("__id"),
        F.explode(F.array_distinct(_gram_hashes(F.col("__whh"), n))).alias("__g"),
    )
    sizes = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    cp = (
        pairs.select("id_a", "id_b")
        .distinct()
        .join(ids.withColumnRenamed(id_col, "id_a"), "id_a")
        .join(ids.withColumnRenamed(id_col, "id_b"), "id_b")
    )
    inter = (
        cp.join(grams.withColumnRenamed("__id", "id_a"), "id_a")
        .join(grams.withColumnRenamed("__id", "id_b"), ["id_b", "__g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    na = F.coalesce(F.col("__na"), F.lit(0))
    nb = F.coalesce(F.col("__nb"), F.lit(0))
    i = F.coalesce(F.col("__i"), F.lit(0))
    union = na + nb - i
    scored = (
        cp.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"),
            "id_a",
            "left",
        )
        .join(
            sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"),
            "id_b",
            "left",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.when(union > 0, i.cast("double") / union), 4
            ).alias("jaccard_sim"),
        )
    )
    # duplicate candidate rows in the input keep their multiplicity
    return pairs.select("id_a", "id_b").join(scored, ["id_a", "id_b"]).select(
        "id_a", "id_b", "jaccard_sim"
    )


# -------------------------------------------------- embedding near-dup -----
def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int | None = None,
    threshold: float = 0.95,
    n_bits: int = 12,
    seed: int = 42,
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """Embedding near-dup: random-hyperplane LSH bucket (Arrow UDF) →
    within-bucket pairs → exact cosine ≥ threshold. High-cosine pairs agree
    on most hyperplane signs, so same-bucket candidacy catches near-dups;
    recall/cost trades with ``n_bits``.

    ``dim`` is inferred from the first NON-NULL vector when not given (a
    leading NULL row must not collapse dim to 1 and shape-crash the UDF).
    ``max_bucket_rows`` guards against a degenerate bucket (skewed
    embeddings → one hot bucket → quadratic work): HOT primary buckets
    (> cap rows) are split by a second seeded signature **in the shuffle
    key itself**, so no ``applyInPandas`` group ever materializes an
    unbounded hot bucket in one task (round 3 refined inside the kernel,
    which bounded pair *emission* but still shipped the whole hot bucket —
    ~2.4e8 rows × dim at 10^12 vectors / 4096 buckets — into one task's
    memory before refinement could act). Pairs split across sub-buckets are
    missed — a bounded recall cost, documented not silent. A sub-bucket
    that is STILL oversized after the split is by construction a
    near-identical cluster (the second signature cannot split vectors
    agreeing on every hyperplane sign); all-pairs output there is quadratic
    in a semantically redundant way — 50k exact duplicates would emit
    1.25e9 rows — so such clusters emit the linear STAR instead (min-id
    representative vs each member ≥ threshold), sufficient for keep-one
    dedup; a driver-side warning names the hot buckets when this path arms.
    ON by default (4096 ≈ 8M pairs/bucket worst case) so skewed corpora
    can't quadratic-blow silently; pass ``None`` for exhaustive all-pairs.

    Plan shape (round 4): ONE Arrow UDF pass computes BOTH signature levels
    packed in one long (``hyperplane_signature2_udf`` — primary bits are
    bit-identical to ``hyperplane_signature_udf``, so SQL oracles replaying
    the primary bucketing stay valid), one tiny map-side-combined count job
    (≤ 2^n_bits rows cross its shuffle) finds hot buckets, ONE hash shuffle
    groups by (bucket, sub-bucket-if-hot), and ``applyInPandas`` emits
    surviving pairs per group via numpy block-matmul (1024-row blocks keep
    the matmul's peak ~32 MB; the group itself is ≤ cap rows except for
    near-identical clusters). The tagged corpus is persisted
    (memory-and-disk) so the count job and the pair shuffle share ONE
    signature evaluation — the materialize-once any 10^12-doc run would do
    for its signature store.

    Small-input fast path (round 5, mirroring unique-auto's stats tier in
    ``validator.py``): when TOTAL rows ≤ cap, no bucket can be hot, so the
    whole guard (dual-sig UDF, hot-bucket count job, persist — ~+0.9s fixed
    locally) is skipped and the single-job plan runs. Catalyst's free plan
    estimate gates a cheap EXACT ``count()`` (column-pruned — parquet
    footer / def-level read, no vectors materialized, no Arrow UDF): the
    count runs only when ``estimated_bytes / (2·dim) ≤ 16·cap`` (a few MB
    — each row stores ``dim`` elements ≥ 4 bytes on parquet, halved again
    for compression slack; non-file relations can estimate lower, which
    only ever runs a harmless extra count, never skips the guard — the
    skip itself is decided by the exact count alone). At 10^12 rows the
    gate never opens and the guard engages with zero extra jobs."""
    df = df.where(F.col(vec_col).isNotNull())  # null vectors can't match
    if dim is None:
        first = df.select(vec_col).first()
        # empty/all-null input: any dim works, no UDF batch ever runs
        dim = len(first[0]) if first is not None else 1
    cap = max_bucket_rows
    if cap is not None:
        est = _plan_size_bytes(df)
        if (
            est is not None
            and est // max(1, 2 * dim) <= 16 * cap
            and df.count() <= cap
        ):
            cap = None  # total rows ≤ cap: no bucket can be hot, single job
    if cap is None:
        sig = hyperplane_signature_udf(dim, n_bits, seed)
        tagged = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).withColumn("b", sig(F.col("v"))).withColumn("k2", F.lit(0).cast("long"))
    else:
        sig2 = hyperplane_signature2_udf(dim, n_bits, seed)
        mask = (1 << n_bits) - 1
        tagged = (
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .withColumn("__bs", sig2(F.col("v")))
            .select(
                "id",
                "v",
                F.col("__bs").bitwiseAND(F.lit(mask)).alias("b"),
                F.shiftrightunsigned("__bs", n_bits).alias("sub"),
            )
        )
        # one UDF pass total: the tagged corpus is cached (memory, spilling
        # to disk at scale — the same materialize-once a 10^12-doc run would
        # do; minhash_dedup_pairs persists its signature store likewise), so
        # hot detection below and the pair shuffle both read the cache
        # instead of re-running the Arrow transfer. Tracked + budgeted via
        # the operator-cache registry (release with operator_cache_scope()).
        tagged = _cache.persist(tagged, "embedding_near_dup_pairs.tagged")
        # hot-bucket detection: map-side combine means ≤ 2^n_bits rows per
        # partition cross this shuffle; the collected set is ≤ 2^n_bits ids
        hot = [
            r["b"]
            for r in tagged.groupBy("b")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > cap)
            .select("b")
            .collect()
        ]
        if hot:
            _LOG.warning(
                "embedding_near_dup_pairs: %d hot LSH bucket(s) exceed "
                "max_bucket_rows=%d and are split by the secondary signature "
                "(cross-sub-bucket pairs are not emitted); sub-buckets still "
                "over the cap emit a linear star, not all pairs",
                len(hot),
                cap,
            )
            k2 = F.when(F.col("b").isin(hot), F.col("sub")).otherwise(F.lit(0))
        else:
            k2 = F.lit(0).cast("long")
        tagged = tagged.select("id", "v", "b", k2.alias("k2"))
    return _emit_cosine_pairs(tagged, threshold, cap)


def _emit_cosine_pairs(
    tagged: DataFrame, threshold: float, cap: int | None
) -> DataFrame:
    """Within-group exact-cosine pair emission over a pre-bucketed corpus
    ``(id, v, b, k2)`` — the Arrow kernel behind ``embedding_near_dup_pairs``
    (groups = LSH buckets / hot-split sub-buckets) and ``semdedup`` (groups
    = k-means clusters / hot-split sub-clusters). One applyInPandas pass:
    per group, numpy block-matmul of L2-normalized vectors, emitting
    ``id_a < id_b`` pairs whose rounded cosine clears ``threshold``; a group
    still larger than ``cap`` emits the linear min-id STAR (near-identical
    cluster — see ``embedding_near_dup_pairs``'s docstring)."""
    id_dt = tagged.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}, cosine_sim double"

    # emit everything that could still pass the in-plan round(·,4) >= threshold
    margin = threshold - 5e-5

    def emit(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        if n < 2:
            return empty
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        X = np.vstack(pdf["v"].to_numpy()).astype("float64")
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0] = np.inf  # zero-norm vector: cosine undefined, no pairs
        Xn = X / norms[:, None]
        out_a, out_b, out_s = [], [], []
        if cap is not None and n > cap:
            # still oversized after the pre-shuffle sub-bucket split: a
            # near-identical cluster — emit the linear STAR (see docstring)
            sims = Xn[1:] @ Xn[0]
            keep = np.nonzero(sims >= margin)[0]
            out_a.append(np.full(len(keep), ids[0], dtype=ids.dtype))
            out_b.append(ids[1:][keep])
            out_s.append(sims[keep])
        else:
            cols = np.arange(n)[None, :]
            for start in range(0, n, 1024):
                end = min(start + 1024, n)
                blk = Xn[start:end] @ Xn.T
                msk = (blk >= margin) & (cols > np.arange(start, end)[:, None])
                ia, jb = np.nonzero(msk)
                out_a.append(ids[ia + start])
                out_b.append(ids[jb])
                out_s.append(blk[ia, jb])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return (
        tagged.groupBy("b", "k2")
        .applyInPandas(emit, out_schema)
        .select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# -------------------------------------------------- decontamination --------
def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    bench_text_col: str | None = None,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_overlap`` distinct word ``n``-grams with ANY benchmark document —
    the standard eval-set leakage gate of an LLM training pipeline (GPT-3
    used 13-gram overlap; ``n=8`` is a common stricter default).

    Scale shape: the benchmark's distinct gram-hash set (eval suites are
    thousands of docs → a few million 8-byte hashes) **broadcasts**; the
    corpus side is one explode → hash-join → per-doc count, so the corpus
    is scanned once and never shuffled on text — only (doc_id, count) pairs
    reach the aggregation, and grams are ``shingle_hashes`` longs (no gram
    strings anywhere).

    Returns (id, overlap_grams) for flagged docs only — at 10^12 docs the
    clean majority must not be materialized. ``overlap_grams`` counts the
    doc's DISTINCT grams that appear anywhere in the benchmark."""
    bench_text = bench_text_col or text_col
    # word-hash arrays are materialized projections: an inlined
    # shingle_hashes expression re-evaluates the word hashes per gram —
    # O(words²) per doc (measured 21s → 1s at sf0.1)
    bench_grams = (
        benchmark.select(
            F.transform(words(bench_text), lambda w: F.xxhash64(w)).alias("__whh")
        )
        .select(F.explode(_gram_hashes(F.col("__whh"), n)).alias("__g"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col),
        F.transform(words(text_col), lambda w: F.xxhash64(w)).alias("__whh"),
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(_gram_hashes(F.col("__whh"), n))).alias("__g"),
    )
    return _overlap_flags(doc_grams, bench_grams, id_col, min_overlap)


def token_contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    *,
    bench_tokens_col: str | None = None,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """``contamination_flags`` for PRE-TOKENIZED sequences (the north-star
    table shape: ``tokens array<int>``): flag corpus sequences sharing ≥
    ``min_overlap`` distinct token ``n``-grams with ANY benchmark
    sequence — eval-set decontamination computed directly on token ids,
    no detokenization. Gram identity = ``xxhash64`` over the n token
    hashes (``_gram_hashes``), the same machinery as the text path, so
    the scale shape is identical: the benchmark's distinct gram set
    broadcasts, the corpus explodes once into (id, gram-hash) longs, and
    only flagged (id, overlap_grams) rows come back."""
    bench_tok = bench_tokens_col or tokens_col
    # int tokens feed _gram_hashes directly — the per-element hash pre-pass
    # is a TEXT-gram device (hash each word string once); on ints the nested
    # transform measured ~6× slower under Spark 4's interpreted HOFs.
    bench_grams = (
        benchmark.select(F.explode(_gram_hashes(F.col(bench_tok), n)).alias("__g"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_gram_hashes(F.col(tokens_col), n))).alias("__g"),
    )
    return _overlap_flags(doc_grams, bench_grams, id_col, min_overlap)


def _overlap_flags(
    doc_grams: DataFrame, bench_grams: DataFrame, id_col: str, min_overlap: int
) -> DataFrame:
    """The shared tail of both decontamination flags: join the corpus'
    ``(id, __g)`` rows to the broadcast benchmark gram set, count each
    doc's matches, keep the docs with at least ``min_overlap``."""
    return (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
        .filter(F.col("overlap_grams") >= min_overlap)
    )


# ------------------------------------------------------ line-level dedup ---
def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_line_chars: int = 30,
    granularity: str = "line",
) -> DataFrame:
    """Corpus-level exact LINE deduplication (the RefinedWeb / CCNet
    boilerplate gate): every line of every document that is at least
    ``min_line_chars`` long survives only at its FIRST occurrence in the
    corpus (smallest ``(doc_id, position)``); later copies — cookie
    banners, nav bars, licence boilerplate — are dropped from the
    reassembled text. Short lines (headings, blanks, list stubs) are kept
    unconditionally: deduping them would shred unrelated documents that
    merely share a blank line.

    ``granularity="paragraph"`` runs the same gate over ``\\n\\n+``-separated
    paragraphs (RefinedWeb applies both granularities): units are split on
    blank lines and reassembled with exactly one blank line between them,
    so runs of 3+ newlines canonicalize to 2 — acceptable for the corpus
    gate, documented here because the rewrite is not byte-identity even
    for docs with zero duplicated paragraphs.

    NULL ``text_col`` rows pass through with ``text`` still NULL (they
    split as '' internally, but the original null-ness is restored after
    reassembly so downstream null checks still see it — advice r5);
    non-NULL docs whose every unit is a dropped duplicate come back ''.

    Scale shape — LINE TEXT NEVER SHUFFLES ON A LINE-KEYED PARTITIONING
    (a hot boilerplate line occurring 10⁹ times would otherwise funnel
    every text copy to one reducer): everything line-keyed is computed on
    a SKINNY ``(xxhash64(line), doc_id, pos)`` projection — 24 bytes a
    row. (1) winner per hash = ``min`` of a (doc, pos) struct with
    map-side combine (a partition's copies of the hot line collapse to
    one candidate pre-shuffle); (2) the LOSER occurrence list (id, pos)
    falls out of one skinny self-join (AQE skew-join can split a hot
    hash's 24-byte rows); (3) the text-carrying rows anti-join the loser
    list on the UNIFORM key (doc_id, pos) and (4) reassemble with one
    groupBy(doc) of (pos, line) structs sorted in-row. Hash collisions
    merely mis-dedup 2⁻⁶⁴-probability line pairs. Returns the input
    columns with ``text_col`` rewritten (unit order preserved).
    """
    if granularity == "line":
        split_re, joiner = "\n", "\n"
    elif granularity == "paragraph":
        split_re, joiner = "\n\n+", "\n\n"
    else:
        raise ValueError(
            f"granularity must be 'line' or 'paragraph', got {granularity!r}"
        )
    other = [c for c in df.columns if c not in (id_col, text_col)]
    lines = df.select(
        F.col(id_col),
        *other,
        F.col(text_col).isNull().alias("__wasnull"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), split_re)
        ).alias("__pos", "__line"),
    )
    skinny = lines.select(
        F.col(id_col),
        F.col("__pos"),
        F.xxhash64("__line").alias("__lh"),
    ).filter(F.length("__line") >= min_line_chars)
    winners = skinny.groupBy("__lh").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__w")
    )
    losers = (
        skinny.join(winners, "__lh")
        .filter(
            (F.col(id_col) != F.col("__w").getField(id_col))
            | (F.col("__pos") != F.col("__w").getField("__pos"))
        )
        .select(id_col, "__pos")
    )
    # mark losers instead of anti-joining them away: a doc whose EVERY line
    # is a dropped duplicate must still come back (with ''), and the marker
    # join keeps at least one (marked) row per doc for the reassembly group.
    # collect_list skips the NULL structs of dropped lines.
    marked = lines.join(
        losers.withColumn("__drop", F.lit(True)), [id_col, "__pos"], "left"
    )
    return marked.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in other],
        F.when(F.first("__wasnull"), F.lit(None).cast("string"))
        .otherwise(
            F.concat_ws(
                joiner,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__drop").isNull(),
                                F.struct("__pos", "__line"),
                            )
                        )
                    ),
                    lambda s: s["__line"],
                ),
            )
        )
        .alias(text_col),
    ).select(*df.columns)


# ------------------------------------------------- connected components ----
def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """Persisted-RDD id backing a ``localCheckpoint()``-ed DataFrame: its
    analyzed plan is exactly a LogicalRDD wrapping the checkpointed (and
    persisted) RDD — precise attribution with NO job and no global-set
    diffing (a diff around the eager checkpoint misattributed lazily-
    materialized SQL caches, e.g. the minhash signature store, whose RDD
    ids register at first materialization — round-5 review finding)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return int(plan.rdd().id())
    except Exception:  # pragma: no cover - non-JVM backends
        pass
    # must be LOUD: a None here means each loop iteration leaks one
    # truncated-lineage RDD for the session's life (e.g. a Spark version
    # that no longer plans localCheckpoint as a bare LogicalRDD)
    _LOG.warning(
        "could not identify the checkpoint RDD behind a localCheckpoint()ed "
        "DataFrame (plan is not a bare LogicalRDD); its storage will not be "
        "freed until the session ends"
    )
    return None


def _unpersist_rdds(sc, ids) -> None:
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        if rid is None:
            continue
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def _cc_round(edges: DataFrame, labels: DataFrame, doubling: bool) -> DataFrame:
    """One min-label propagation round over ``labels`` (id, component,
    __orig) — pull the minimum neighbor label, then (when ``doubling``)
    shortcut ``component := component[component]``. ``__orig`` (the label
    at the start of the current fused pair) passes through untouched so
    the caller can count changes without a second join."""
    neighbor_min = (
        edges.join(
            labels.select(F.col("id").alias("__nid"), "component"),
            edges["dst"] == F.col("__nid"),
        )
        .groupBy("src")
        .agg(F.min("component").alias("__nmin"))
    )
    hop = labels.join(
        neighbor_min, labels["id"] == neighbor_min["src"], "left"
    ).select(
        "id",
        "__orig",
        F.least(
            F.col("component"), F.coalesce(F.col("__nmin"), F.col("component"))
        ).alias("__c1"),
    )
    if doubling:
        # pointer doubling: component := component[component]. Labels only
        # ever decrease and every label IS a node id present in the table,
        # so label[label] ≤ label; the left join + coalesce is pure safety.
        lab2 = hop.select(F.col("id").alias("__cid"), F.col("__c1").alias("__cc"))
        return hop.join(lab2, hop["__c1"] == lab2["__cid"], "left").select(
            "id",
            "__orig",
            F.least(F.col("__c1"), F.coalesce(F.col("__cc"), F.col("__c1"))).alias(
                "component"
            ),
        )
    return hop.select("id", "__orig", F.col("__c1").alias("component"))


def _union_find_components(rows) -> dict:
    """Driver-side union-find with path halving over an iterable of
    (src, dst) edges → {node: min id of its component}. Exact, O(E α(E))."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    mins: dict = {}
    for n in parent:
        r = find(n)
        if r not in mins or n < mins[r]:
            mins[r] = n
    return {n: mins[find(n)] for n in parent}


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    strict: bool = False,
    cache_label: str = "connected_components.labels",
    small_graph_edges: int | None = 200_000,
) -> DataFrame:
    """Connected components of the near-dup pair graph → (id, component),
    component = the MINIMUM id in each component. This is the transitive
    closure step of aggressive keep-one dedup: pairs (a,b),(b,c) put a, b
    and c in one cluster even though a and c never paired directly.

    Distributed min-label propagation WITH adaptive pointer doubling:
    every node starts as its own label; each round pulls the minimum label
    across edges (both directions), and from round 3 on ALSO shortcuts
    ``component := component[component]`` — the label table joined to
    itself — so a label hops along a path geometrically instead of one
    edge per round. Convergence is therefore **O(log diameter)** rounds (a
    1000-node chain finishes in ~12 rounds, where plain one-hop
    propagation needed 1000 — the round-4 shape silently mislabeled any
    component whose min-label distance exceeded ``max_iterations``). The
    first two rounds stay one-hop because real near-dup clusters are
    shallow (diameter 2-4): they converge before the shortcut would fire,
    and paying its extra self-join every round measured +21% on the
    minhash component gate query for zero saved rounds.

    Each round is exactly ONE Spark job (round-5 verdict #2): the
    convergence count (labels changed this round) is an ``Observation``
    metric on the label plan, collected DURING the eager
    ``localCheckpoint`` materialization — the previous shape ran a second
    count-collect job per round, and at gate/driver scale the loop cost
    is pure per-job scheduling, so that doubled the wall time. (Fusing
    two propagation rounds into one checkpoint was tried instead and
    measured ~2x SLOWER: round N's un-materialized plan is referenced 2-3
    times by round N+1's joins, so a fused job recomputes it per
    reference.) Labels are ``localCheckpoint``-ed every round: iterative
    self-joins otherwise grow the plan lineage exponentially, which at
    corpus scale kills the driver before the executors do.

    TWO TIERS, decided by an exact count of the (persisted) edge table —
    the unique-auto pattern: the count job materializes the edge cache the
    distributed loop would scan anyway, so the decision is exact and costs
    no extra scan. When the graph has ≤ ``small_graph_edges`` distinct
    undirected pairs, labels are computed by driver-side union-find over
    ONE collect (path halving, O(E α(E)), exact) — a near-dup pair graph
    is tiny relative to its corpus (it's the duplicate set), and at that
    size the distributed loop's cost is pure job scheduling, ~10 jobs
    against one. Bigger graphs (the 10^12-doc regime) take the iterative
    distributed loop; ``small_graph_edges=None`` forces it (tests of the
    loop itself do this).

    If the loop still exhausts ``max_iterations`` with labels changing
    (diameter > ~2^max_iterations — not reachable in practice), the result
    would UNDER-merge, so it warns loudly, or raises when ``strict=True``
    (the local tier is exact — neither fires there). Isolated nodes never
    appear in ``pairs`` and are their own (absent) component — callers
    treat missing ids as unique."""
    edges = _cache.persist(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
        "connected_components.edges",
    )
    if small_graph_edges is not None:
        n_edges = edges.count()  # materializes the cache either tier uses
        if n_edges <= 2 * small_graph_edges:
            pdf = edges.toPandas()
            labels_map = _union_find_components(
                zip(pdf["src"].tolist(), pdf["dst"].tolist())
            )
            _cache.release(edges)
            id_type = pairs.schema[id_a].dataType
            schema = T.StructType(
                [T.StructField("id", id_type), T.StructField("component", id_type)]
            )
            return pairs.sparkSession.createDataFrame(
                sorted(labels_map.items()), schema
            )
    # Each round's labels are localCheckpoint-ed (lineage truncation), and
    # checkpoint storage bypasses the SQL CacheManager — without explicit
    # frees every round's label RDD stays persisted for the session's life.
    # The previous round's checkpoint is freed as soon as the next round's
    # is materialized (eager); the FINAL one backs the returned DataFrame,
    # so it is registered with the operator-cache registry (released by
    # operator_cache_scope() exit / release_operator_caches(), and never
    # budget-evicted: truncated lineage cannot recompute). Each checkpoint's
    # RDD id is read PRECISELY off its LogicalRDD plan (_checkpoint_rdd_id)
    # — upstream SQL caches can never be misattributed and destroyed.
    sc = pairs.sparkSession.sparkContext
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labels = labels.localCheckpoint()
    ckpt_id = _checkpoint_rdd_id(labels)
    changed = 0
    for it in range(max_iterations):
        cur = labels.withColumn("__orig", F.col("component"))
        # doubling engages from propagation round 3 (index 2) — shallow
        # clusters have converged by then and skip the self-join
        stepped = _cc_round(edges, cur, doubling=it >= 2)
        updated = stepped.select(
            "id",
            "component",
            (F.col("component") < F.col("__orig")).cast("long").alias("__changed"),
        )
        # the convergence count rides the checkpoint job as an observation
        # metric (CollectMetrics fires during the eager materialization) —
        # each round is ONE job, not a checkpoint job plus a count job
        # (round-5 verdict #2: the loop cost at gate scale is per-job
        # scheduling, and a separate count collect doubled it)
        obs = Observation(f"cc_changed_{it}")
        updated = updated.observe(obs, F.sum("__changed").alias("changed"))
        updated = updated.localCheckpoint()
        new_id = _checkpoint_rdd_id(updated)
        _unpersist_rdds(sc, [ckpt_id])  # previous round: superseded
        ckpt_id = new_id
        changed = obs.get["changed"] or 0
        labels = updated.drop("__changed")
        if changed == 0:
            break
    _cache.release(edges)  # labels are checkpointed; edges no longer needed
    _cache.register_release(
        cache_label,
        lambda rid=ckpt_id: _unpersist_rdds(sc, [rid]),
        obj=labels,
    )
    if changed:
        msg = (
            f"connected_components exhausted max_iterations={max_iterations} "
            f"with {changed} label(s) still changing — components are "
            "UNDER-merged (dedup_by_components would keep extra duplicates); "
            "raise max_iterations (rounds needed ≈ log2(component diameter))"
        )
        if strict:
            raise RuntimeError(msg)
        _LOG.warning(msg)
    return labels


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    strict: bool = False,
    small_graph_edges: int | None = 200_000,
) -> DataFrame:
    """Aggressive keep-one dedup: keep each cluster's minimum-id row (and
    every row that appears in no pair). One broadcast-friendly anti-join:
    the drop set is exactly the nodes whose component label differs from
    their id — tiny relative to the corpus, like the dup-key set in the
    uniqueness check. ``strict=True`` raises instead of warning if the
    component loop fails to converge (would otherwise under-delete);
    ``small_graph_edges`` gates the driver union-find tier (see
    ``connected_components``)."""
    comp = connected_components(
        pairs, id_a, id_b, max_iterations, strict,
        small_graph_edges=small_graph_edges,
    )
    losers = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
