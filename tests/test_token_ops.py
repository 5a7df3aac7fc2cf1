"""Token-sequence operator tests (structural flags, dup-ngram coverage,
next-fit packing, token-budget mixture sampling)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandera_unified_validator_spark.operators.token_ops import (
    duplicated_ngram_coverage,
    materialize_packed_bins,
    mixture_rates,
    pack_sequences,
    remove_duplicated_spans,
    token_budget_sample,
    token_sequence_flags,
)
from pandera_unified_validator_spark.utils.cache import registry


# ------------------------------------------------------------- flags ---


def test_token_sequence_flags(spark):
    rows = [
        # (doc, tokens, n_tok) — bos=1, eos=2, vocab=100, max_len=6
        ("ok", [1, 5, 7, 2], 4),
        ("len", [1, 5, 2], 4),
        ("oov", [1, 150, 2], 3),
        ("neg", [1, -3, 2], 3),
        ("bos", [9, 5, 2], 3),
        ("eos", [1, 5, 9], 3),
        ("interior", [1, 2, 5, 2], 4),
        ("long", [1, 5, 5, 5, 5, 5, 2], 7),
        ("null", None, 3),
        ("nullelem", [1, None, 5, 2], 4),
        ("empty", [], 0),
    ]
    df = spark.createDataFrame(rows, "doc string, tokens array<int>, n_tok int")
    out = token_sequence_flags(
        df,
        vocab_size=100,
        bos_id=1,
        eos_id=2,
        max_len=6,
        with_oov_count=True,
    )
    got = {r["doc"]: r.asDict() for r in out.collect()}

    assert got["ok"]["seq_ok"] and got["ok"]["tok_len"] == 4
    assert got["len"]["len_mismatch"] and not got["len"]["oov_any"]
    assert got["oov"]["oov_any"] and got["oov"]["oov_count"] == 1
    assert got["neg"]["oov_any"] and got["neg"]["oov_count"] == 1
    assert got["bos"]["bos_bad"] and not got["bos"]["eos_bad"]
    assert got["eos"]["eos_bad"] and not got["eos"]["bos_bad"]
    assert got["interior"]["interior_eos"] and got["interior"]["seq_ok"] is False
    assert got["long"]["too_long"]
    # interior NULL element: every other flag is blind to it (size counts
    # it, min/max and the filter predicate skip it) — null_elem must fire
    assert got["nullelem"]["null_elem"] and not got["nullelem"]["seq_ok"]
    assert not got["nullelem"]["len_mismatch"] and not got["nullelem"]["oov_any"]
    assert got["nullelem"]["oov_count"] == 0  # documents the blindness
    assert not got["ok"]["null_elem"] and not got["oov"]["null_elem"]
    # NULL array: flagged null, structural checks fire, nothing is NULL
    assert got["null"]["tokens_null"] and got["null"]["tok_len"] == 0
    flag_cols = [c for c in got["null"] if c not in ("doc", "tokens", "n_tok")]
    assert all(got["null"][c] is not None for c in flag_cols)
    assert not got["null"]["seq_ok"]
    # empty array: len 0, mismatch vs n_tok=0 is False, bos/eos fail
    assert got["empty"]["tok_len"] == 0 and not got["empty"]["len_mismatch"]
    assert got["empty"]["bos_bad"] and got["empty"]["eos_bad"]
    assert not got["empty"]["oov_any"] and got["empty"]["oov_count"] == 0


# ------------------------------------------------- dup-ngram coverage ---


def _coverage_oracle(docs, n, min_docs):
    """Pure-python replay over ``(doc_id, tokens)`` rows: gram -> docs,
    merge covered intervals. All NULL-id rows together count as one doc
    toward ``min_docs`` and report 0 coverage."""
    from collections import defaultdict

    def grams(toks):
        if not toks:
            return []
        if len(toks) < n:
            return [(0, tuple(toks))]
        return [(i, tuple(toks[i : i + n])) for i in range(len(toks) - n + 1)]

    by_gram = defaultdict(set)
    for d, toks in docs:
        for _, g in grams(toks):
            by_gram[g].add(d)
    dup = {g for g, ds in by_gram.items() if len(ds) >= min_docs}
    out = []
    for d, toks in docs:
        ivs = [
            (p, min(p + n, len(toks))) for p, g in grams(toks) if g in dup
        ]
        covered, end = 0, -1
        for s, e in sorted(ivs):
            covered += max(0, e - max(s, end))
            end = max(end, e)
        out.append((d, covered if d is not None else 0))
    return out


def test_duplicated_ngram_coverage(spark):
    docs = {
        "a": [1, 2, 3, 4, 5, 6, 7, 8],        # shares the 4-gram run with b
        "b": [9, 9, 1, 2, 3, 4, 9, 9],
        "c": [7, 7, 7, 7, 7, 7],               # internal repeat, no partner
        "d": [7, 7, 7, 7, 7, 7],               # exact dup of c
        "e": [5, 6],                           # short doc, unique
        "f": [5, 6],                           # short doc, dup of e (whole-doc gram)
        "g": [],
    }
    oracle = dict(_coverage_oracle(docs.items(), n=4, min_docs=2))
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id string, tokens array<int>"
    )
    out = duplicated_ngram_coverage(df, "doc_id", "tokens", n=4, min_docs=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == set(docs)                       # every doc present
    for d in docs:
        assert got[d]["dup_tokens"] == oracle[d], d
        assert got[d]["tok_len"] == len(docs[d])
    assert got["g"]["dup_frac"] == 0.0                 # empty: no div-by-zero
    assert got["f"]["dup_tokens"] == 2                 # whole-doc gram covers all
    # overlap merging: a/b share [1..4] run -> grams overlap, not double counted
    assert got["a"]["dup_tokens"] == oracle["a"] <= len(docs["a"])


def test_duplicated_ngram_coverage_n_tok_col(spark):
    docs = {"a": [1, 2, 3, 4, 5], "b": [1, 2, 3, 4, 5], "c": [9, 8]}
    df = spark.createDataFrame(
        [(k, v, len(v)) for k, v in docs.items()],
        "doc_id string, tokens array<int>, n_tok int",
    )
    fast = duplicated_ngram_coverage(
        df, "doc_id", "tokens", n=3, min_docs=2, n_tok_col="n_tok"
    )
    slow = duplicated_ngram_coverage(df, "doc_id", "tokens", n=3, min_docs=2)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    # the trusted-length base plan never touches the token arrays
    base_plan = fast._jdf.queryExecution().optimizedPlan().treeString()
    assert "posexplode" in base_plan  # gram side still explodes


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.booleans(),
            st.lists(st.integers(0, 5), min_size=0, max_size=12),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_duplicated_ngram_coverage_property(spark, token_lists):
    docs = [(None if null else f"d{i}", t) for i, (null, t) in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id string, tokens array<int>")
    out = duplicated_ngram_coverage(df, "doc_id", "tokens", n=3, min_docs=2)
    got = sorted(((r["doc_id"], r["dup_tokens"]) for r in out.collect()), key=repr)
    assert got == sorted(_coverage_oracle(docs, n=3, min_docs=2), key=repr)


# ------------------------------------------------------------ packing ---


def _check_packing(rows, capacity):
    """Invariants: each id placed once; bins within capacity unless a
    single oversize item; offsets are contiguous next-fit layouts."""
    from collections import defaultdict

    by_bin = defaultdict(list)
    for r in rows:
        by_bin[(r["shard"], r["bin"])].append(r)
    for (_, _), items in by_bin.items():
        items.sort(key=lambda r: r["offset"])
        fill = sum(r["n_tok"] for r in items)
        if fill > capacity:
            assert len(items) == 1 and items[0]["oversize"]
        off = 0
        for r in items:
            assert r["offset"] == off
            off += r["n_tok"]


def test_pack_sequences(spark):
    df = spark.range(500).select(
        F.format_string("doc-%04d", F.col("id")).alias("doc_id"),
        (F.pmod(F.col("id") * 37 + 11, F.lit(300)) + 1).cast("int").alias("n_tok"),
    )
    out = pack_sequences(df, capacity=512, shards=8).collect()
    assert len(out) == 500
    assert len({r["doc_id"] for r in out}) == 500
    _check_packing(out, 512)
    # deterministic under repartitioning
    out2 = pack_sequences(
        spark.range(500)
        .select(
            F.format_string("doc-%04d", F.col("id")).alias("doc_id"),
            (F.pmod(F.col("id") * 37 + 11, F.lit(300)) + 1).cast("int").alias("n_tok"),
        )
        .repartition(13),
        capacity=512,
        shards=8,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pack_sequences_order_tie_break(spark):
    # duplicate order_col values: the id tie-break must keep the layout
    # identical across partitionings (a stable sort alone inherits the
    # Arrow batch row order, which the shuffle does not fix)
    def build(parts):
        return (
            spark.range(300)
            .select(
                F.format_string("doc-%04d", F.col("id")).alias("doc_id"),
                (F.pmod(F.col("id") * 17 + 3, F.lit(90)) + 1).cast("int").alias("n_tok"),
                F.pmod(F.col("id"), F.lit(4)).cast("int").alias("ts"),  # many ties
            )
            .repartition(parts)
        )

    a = pack_sequences(build(3), capacity=256, shards=4, order_col="ts").collect()
    b = pack_sequences(build(17), capacity=256, shards=4, order_col="ts").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    _check_packing(a, 256)


def test_materialize_packed_bins(spark):
    # deterministic arrays whose size == n_tok, then pack + materialize
    df = spark.range(120).select(
        F.format_string("d%03d", F.col("id")).alias("doc_id"),
        (F.pmod(F.col("id") * 13 + 5, F.lit(40)) + 1).cast("int").alias("n_tok"),
    ).withColumn(
        "tokens",
        F.transform(
            F.sequence(F.lit(0), F.col("n_tok") - 1),
            lambda i: F.pmod(F.col("n_tok") + i, F.lit(50)).cast("int"),
        ),
    )
    cap, pad = 64, 63
    packed = pack_sequences(df, capacity=cap, shards=4)
    bins = materialize_packed_bins(df, packed, capacity=cap, pad_id=pad).collect()

    layout = {r["doc_id"]: r for r in packed.collect()}
    docs = {r["doc_id"]: r for r in df.collect()}
    # every doc appears in exactly one bin, in layout order
    seen = []
    for b in bins:
        assert len(b["tokens"]) == cap
        assert not b["truncated"]  # n_tok <= 41 < 64, no oversize
        assert b["n_seqs"] == len(b["doc_ids"]) == len(b["seq_lens"])
        body = []
        for d in b["doc_ids"]:
            lay = layout[d]
            assert (lay["shard"], lay["bin"]) == (b["shard"], b["bin"])
            body.extend(docs[d]["tokens"])
            seen.append(d)
        assert b["fill"] == len(body) <= cap
        assert b["tokens"] == body + [pad] * (cap - len(body))
        # members are offset-ordered: seq_lens' prefix sums == offsets
        off = 0
        for d, ln in zip(b["doc_ids"], b["seq_lens"]):
            assert layout[d]["offset"] == off
            assert docs[d]["n_tok"] == ln
            off += ln
    assert sorted(seen) == sorted(docs)


def test_materialize_packed_bins_copartition(spark):
    """The copartition=True path (round 7): identical rows to the default
    path, and the token arrays cross EXACTLY ONE exchange — the shard
    repartition; the shuffled-hash join and the (shard, bin) aggregate
    both reuse it (no exchange above the join in the physical plan)."""
    df = spark.range(150).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 13 + 5, F.lit(40)) + 1).cast("int").alias("n_tok"),
    ).withColumn(
        "tokens",
        F.transform(
            F.sequence(F.lit(0), F.col("n_tok") - 1),
            lambda i: F.pmod(F.col("n_tok") + i, F.lit(50)).cast("int"),
        ),
    )
    packed = pack_sequences(df, capacity=64, shards=4)
    base = materialize_packed_bins(df, packed, capacity=64, pad_id=63)
    cop = materialize_packed_bins(
        df, packed, capacity=64, pad_id=63, copartition=True, shards=4
    )
    key = lambda r: (r["shard"], r["bin"])  # noqa: E731
    assert sorted(map(key, base.collect())) == sorted(map(key, cop.collect()))
    a = {key(r): r.asDict() for r in base.collect()}
    b = {key(r): r.asDict() for r in cop.collect()}
    assert a == b

    plan = cop._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0].splitlines()
    join_idx = [i for i, l in enumerate(tree) if "ShuffledHashJoin" in l]
    assert join_idx, plan  # the copartition path must not broadcast
    # nothing between the aggregate root and the join re-exchanges the
    # joined (array-carrying) rows
    assert not any("Exchange" in l for l in tree[: join_idx[0]]), plan
    # the corpus side contributes exactly one array-carrying exchange:
    # every exchange in the plan hashes on shard, none on doc_id/bin
    assert "hashpartitioning(doc_id" not in plan, plan
    assert "hashpartitioning(bin" not in plan, plan


def test_materialize_packed_bins_truncates_oversize(spark):
    df = spark.createDataFrame(
        [("a", list(range(10))), ("b", list(range(30)))],
        "doc_id string, tokens array<int>",
    ).withColumn("n_tok", F.size("tokens"))
    packed = pack_sequences(df, capacity=16, shards=1)
    bins = {
        tuple(r["doc_ids"]): r
        for r in materialize_packed_bins(
            df, packed, capacity=16, pad_id=0
        ).collect()
    }
    big = bins[("b",)]
    assert big["truncated"] and big["fill"] == 30
    assert big["tokens"] == list(range(16))
    small = bins[("a",)]
    assert not small["truncated"] and small["tokens"] == list(range(10)) + [0] * 6


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(1, 30), min_size=1, max_size=25),
    st.integers(8, 48),
)
def test_materialize_packed_bins_property(spark, lens, capacity):
    # pure-python reference: replay the md5-sharded next-fit layout and the
    # offset-ordered concat + slice + pad, then compare every bin
    import hashlib

    pad = 7
    docs = [(f"d{i:03d}", [(i + j) % 11 for j in range(L)]) for i, L in enumerate(lens)]
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in docs],
        "doc_id string, tokens array<int>, n_tok int",
    )
    packed = pack_sequences(df, capacity=capacity, shards=3)
    got = {
        (r["shard"], r["bin"]): r
        for r in materialize_packed_bins(
            df, packed, capacity=capacity, pad_id=pad
        ).collect()
    }

    tok = dict(docs)

    def shard_of(d):
        return int(hashlib.md5(f"42|{d}".encode()).hexdigest()[:8], 16) % 3

    bins: dict[tuple, list] = {}
    for s in range(3):
        members = sorted(d for d in tok if shard_of(d) == s)
        b, fill = 0, 0
        for d in members:
            L = len(tok[d])
            if fill and fill + L > capacity:
                b, fill = b + 1, 0
            bins.setdefault((s, b), []).append(d)
            fill += L
    assert set(got) == set(bins)
    for key, ids in bins.items():
        body = [t for d in ids for t in tok[d]]
        want = body[:capacity] + [pad] * max(capacity - len(body), 0)
        r = got[key]
        assert r["doc_ids"] == ids
        assert r["tokens"] == want
        assert r["fill"] == len(body)
        assert r["truncated"] == (len(body) > capacity)


def test_pack_sequences_oversize_and_nulls(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 999), ("c", 20), ("d", None)],
        "doc_id string, n_tok int",
    )
    out = pack_sequences(df, capacity=100, shards=1).collect()
    assert {r["doc_id"] for r in out} == {"a", "b", "c"}   # NULL dropped
    big = next(r for r in out if r["doc_id"] == "b")
    assert big["oversize"] and big["offset"] == 0
    # the oversize row shares its bin with nobody
    assert sum(1 for r in out if r["bin"] == big["bin"]) == 1
    _check_packing(out, 100)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(1, 50), min_size=1, max_size=40),
    st.integers(10, 80),
)
def test_pack_sequences_property(spark, lens, capacity):
    df = spark.createDataFrame(
        [(f"d{i:03d}", L) for i, L in enumerate(lens)], "doc_id string, n_tok int"
    )
    rows = pack_sequences(df, capacity=capacity, shards=3).collect()
    assert len(rows) == len(lens)
    _check_packing(rows, capacity)
    # next-fit within each shard: a new bin opens only because the previous
    # bin could not fit the first item of the new bin
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r)
    for items in by_shard.values():
        items.sort(key=lambda r: (r["bin"], r["offset"]))
        fills = defaultdict(int)
        for r in items:
            fills[r["bin"]] += r["n_tok"]
        for r in items:
            if r["bin"] > 0 and r["offset"] == 0:
                assert fills[r["bin"] - 1] + r["n_tok"] > capacity


# ----------------------------------------------------- budget sampling ---


def test_token_budget_sample(spark):
    df = spark.range(4000).select(
        F.format_string("doc-%05d", F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 4 < 3, "web").otherwise("books").alias("source"),
        F.lit(100).alias("n_tok"),
    )
    # web: 3000 docs * 100 = 300k tokens; books: 1000 * 100 = 100k
    rates = mixture_rates(
        df, budget_tokens=100_000, shares={"web": 0.5, "books": 0.5}
    )
    assert rates["web"] == pytest.approx(50_000 / 300_000)
    assert rates["books"] == pytest.approx(0.5)
    out = token_budget_sample(
        df, budget_tokens=100_000, shares={"web": 0.5, "books": 0.5}
    )
    by = {
        r["source"]: r["t"]
        for r in out.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    assert by["web"] == pytest.approx(50_000, rel=0.25)
    assert by["books"] == pytest.approx(50_000, rel=0.25)
    # nested: half the budget selects a subset
    small = token_budget_sample(
        df, budget_tokens=50_000, shares={"web": 0.5, "books": 0.5}
    )
    s_ids = {r["doc_id"] for r in small.select("doc_id").collect()}
    b_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert s_ids <= b_ids

    # rate capped at 1.0 keeps the whole stratum
    all_books = token_budget_sample(
        df, budget_tokens=10_000_000, shares={"books": 1.0}
    )
    assert all_books.count() == 1000
    assert {r["source"] for r in all_books.select("source").distinct().collect()} == {
        "books"
    }


def _removal_oracle(docs, n, min_docs):
    """Pure-Python replay of remove_duplicated_spans: dup grams with a
    first-(doc,pos) canonical keeper; a position is removed iff covered
    by any NON-canonical dup-gram occurrence. All NULL-id docs together
    count as one doc toward ``min_docs``, never hold the canonical
    occurrence, and pass through unchanged."""
    from collections import defaultdict

    def occurrences(toks):
        if not toks:
            return []
        if len(toks) < n:
            return [(0, tuple(toks))]
        return [(i, tuple(toks[i : i + n])) for i in range(len(toks) - n + 1)]

    gram_docs = defaultdict(set)
    gram_can = {}
    for doc_id, toks in docs:
        for pos, g in occurrences(toks or []):
            gram_docs[g].add(doc_id)
            key = (doc_id, pos)
            if doc_id is not None and (g not in gram_can or key < gram_can[g]):
                gram_can[g] = key
    out = []
    for doc_id, toks in docs:
        toks = toks or []
        removed = set()
        for pos, g in occurrences(toks) if doc_id is not None else ():
            if len(gram_docs[g]) >= min_docs and gram_can[g] != (doc_id, pos):
                removed |= set(range(pos, min(pos + n, len(toks))))
        out.append(
            (
                doc_id,
                [t for i, t in enumerate(toks) if i not in removed],
                len(toks),
                len(removed),
            )
        )
    return out


def test_remove_duplicated_spans(spark):
    boiler = [9, 8, 7, 6, 5, 4]
    docs = [
        (1, [1, 2, 3] + boiler + [10, 11]),   # canonical boiler keeper
        (2, [20, 21] + boiler + [22]),        # boiler removed
        (3, boiler + [30] + boiler),          # overlapping/self-repeat
        (4, [40, 41, 42, 43, 44, 45, 46]),    # untouched
        (5, [50, 51]),                        # short unique: untouched
        (6, [60, 61]),
        (7, [60, 61]),                        # short exact dup: emptied
        (8, []),                              # empty
        (9, None),                            # NULL passthrough
    ]
    df = spark.createDataFrame(docs, "doc_id int, tokens array<int>")
    got = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(df, n=4, min_docs=2).collect()
    }
    expected = _removal_oracle(docs, 4, 2)
    assert set(got) == {e[0] for e in expected}
    for doc_id, clean, tok_len, n_removed in expected:
        r = got[doc_id]
        if docs[doc_id - 1][1] is None:
            assert r["tokens"] is None
        else:
            assert list(r["tokens"]) == clean, doc_id
        assert r["tok_len"] == tok_len, doc_id
        assert r["n_removed"] == n_removed, doc_id
    # the canonical keeper retains the boilerplate, later docs lose it
    assert got[1]["n_removed"] == 0
    assert got[2]["n_removed"] >= len(boiler)
    assert got[7]["tokens"] == [] and got[6]["tokens"] == [60, 61]


def _removal_rows(df, n, min_docs):
    return sorted(
        (
            (r["doc_id"], list(r["tokens"] or []), r["tok_len"], r["n_removed"])
            for r in remove_duplicated_spans(df, n=n, min_docs=min_docs).collect()
        ),
        key=repr,
    )


@given(
    token_lists=st.lists(
        st.tuples(
            st.booleans(),
            st.lists(st.integers(min_value=0, max_value=3), max_size=10),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=12, deadline=None)
def test_remove_duplicated_spans_property(spark, token_lists):
    """Tiny-alphabet corpora force heavy gram sharing; for min_docs 2 and
    3 the engine must match the positional-set oracle exactly (NULL ids
    included), and cleaned length must equal tok_len - n_removed."""
    docs = [(None if null else i, toks) for i, (null, toks) in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id int, tokens array<int>")
    for min_docs in (2, 3):
        got = _removal_rows(df, 3, min_docs)
        assert got == sorted(_removal_oracle(docs, 3, min_docs), key=repr), min_docs
        for _, clean, tok_len, n_removed in got:
            assert n_removed == tok_len - len(clean)


@pytest.mark.parametrize("parts", [1, 7])
def test_remove_duplicated_spans_edges(spark, parts):
    """Pinned outputs of both operators (n=3, min_docs=2) on 1 and 7
    input partitions: a NULL-id doc counts toward min_docs but passes
    through unchanged and reports 0 coverage; two docs sharing the
    canonical doc_id both keep the canonical occurrence; a gram present
    in every doc keeps only its first and covers every doc."""
    cases = [
        ([("a", [1, 2, 3, 4, 1, 2, 3, 4]), (None, [1, 2, 3, 4])],
         [(None, [1, 2, 3, 4], 4, 0), ("a", [1, 2, 3, 4], 8, 4)],
         [("a", 8, 8, 1.0), (None, 4, 0, 0.0)]),
        ([("b", [7, 7, 7, 7]), (None, [7, 7, 7, 7, 7])],
         [(None, [7, 7, 7, 7, 7], 5, 0), ("b", [7], 4, 3)],
         [("b", 4, 4, 1.0), (None, 5, 0, 0.0)]),
        ([("x", [1, 2, 3, 9]), ("x", [1, 2, 3, 8]), ("y", [1, 2, 3])],
         [("x", [1, 2, 3, 8], 4, 0), ("x", [1, 2, 3, 9], 4, 0), ("y", [], 3, 3)],
         [("x", 4, 3, 0.75), ("x", 4, 3, 0.75), ("y", 3, 3, 1.0)]),
        ([(f"d{i:03d}", [1, 2, 3, 4, 5, 6]) for i in range(200)],
         [("d000", [1, 2, 3, 4, 5, 6], 6, 0)]
         + [(f"d{i:03d}", [], 6, 6) for i in range(1, 200)],
         [(f"d{i:03d}", 6, 6, 1.0) for i in range(200)]),
    ]
    for docs, want, want_cov in cases:
        df = spark.createDataFrame(docs, "doc_id string, tokens array<int>")
        got = _removal_rows(df.repartition(parts), 3, 2)
        assert got == sorted(want, key=repr)
        assert got == sorted(_removal_oracle(docs, 3, 2), key=repr)
        cov = duplicated_ngram_coverage(df.repartition(parts), n=3, min_docs=2)
        cov = sorted(map(tuple, cov.collect()), key=repr)
        assert cov == sorted(want_cov, key=repr)
        assert sorted(((r[0], r[2]) for r in cov), key=repr) == sorted(
            _coverage_oracle(docs, 3, 2), key=repr
        )


def test_remove_duplicated_spans_plan(spark, tmp_path):
    """For both duplicated-gram operators the gram table crosses one
    exchange, keyed on the gram hash, and is neither cached nor
    registered with the operator-cache registry."""
    docs = [(f"d{i}", [i % 5, 9, 8, 7, 6, 5, i]) for i in range(40)]
    path = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id string, tokens array<int>").write.parquet(path)
    for op, col in (
        (remove_duplicated_spans, "n_removed"),
        (duplicated_ngram_coverage, "dup_tokens"),
    ):
        before = registry.labels()
        out = op(spark.read.parquet(path), n=4)
        rows = out.collect()
        assert registry.labels() == before, op.__name__
        assert sum(r[col] for r in rows) > 0, op.__name__
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan, plan
        assert "InMemoryTableScan" not in plan, plan
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning(__g") == 1, final


def test_token_ops_reject_bad_sizes(spark):
    df = spark.createDataFrame(
        [("a", [1, 2], 2)], "doc_id string, tokens array<int>, n_tok int"
    )
    for shards in (0, -2):
        with pytest.raises(ValueError, match="shards"):
            pack_sequences(df, capacity=8, shards=shards)
        with pytest.raises(ValueError, match="shards"):
            materialize_packed_bins(
                df, df, capacity=8, pad_id=0, copartition=True, shards=shards
            )
    for op in (remove_duplicated_spans, duplicated_ngram_coverage):
        with pytest.raises(ValueError, match="n must"):
            op(df, n=0)
