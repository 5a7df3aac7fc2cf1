"""Text-analysis operator tests (token counting, language ID, quality,
fingerprint) — against the real documents table + literal frames."""

import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark.operators.text import (
    fingerprint,
    language_id,
    quality_features,
    quality_score,
    token_count_regex,
    token_count_whitespace,
    words,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("  spaced   out  ",), ("",), (None,)], "t string"
    )
    rows = df.select(
        token_count_whitespace("t").alias("ws"), token_count_regex("t").alias("bpe")
    ).collect()
    assert [r["ws"] for r in rows] == [3, 2, 0, None]
    # BPE-ish: "hello","world","foo"
    assert rows[0]["bpe"] == 3


def test_token_count_regex_splits_mixed(spark, docs):
    df = spark.createDataFrame([("abc123, def!",)], "t string")
    # abc | 123 | , | def | ! → 5
    assert df.select(token_count_regex("t").alias("n")).collect()[0]["n"] == 5
    # on the documents table every word splits into at least one piece, and
    # quality_features' n_chars equals the table's n_chars column
    feats = quality_features("text")
    bad = docs.select(
        F.sum((token_count_regex("text") < feats["n_words"]).cast("int")).alias("short"),
        F.sum((feats["n_chars"] != F.col("n_chars")).cast("int")).alias("chars"),
        F.min(feats["n_words"]).alias("min_words"),
    ).first()
    assert bad["short"] == 0 and bad["chars"] == 0 and bad["min_words"] > 0


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here", "en"),
            ("el perro que corre por la casa como siempre", "es"),
            ("le chat est dans la maison pour une nuit avec", "fr"),
            ("der hund und die katze ist ein tier nicht", "de"),
            ("il gatto che corre nel giardino sono anche gli amici", "it"),
            ("ele fala muito quando isso acontece mais uma vez dos livros", "pt"),
            ("het huis van een man is niet groot maar ook mooi", "nl"),
            ("这是一个中文句子", "zh"),
            ("これは日本語の文です", "ja"),          # kana beats the kanji zh check
            ("한국어 문장입니다", "ko"),
            ("это русское предложение", "ru"),
            ("هذه جملة عربية", "ar"),
            ("यह एक हिंदी वाक्य है", "hi"),
            ("αυτή είναι μια ελληνική πρόταση", "el"),
            ("זה משפט בעברית", "he"),
            ("zzz qqq xxx", "und"),
        ],
        "t string, expected string",
    )
    rows = df.select("expected", language_id("t").alias("got")).collect()
    for r in rows:
        assert r["got"] == r["expected"], r
    # NULL text -> NULL prediction
    nrow = spark.createDataFrame([(None,)], "t string").select(
        language_id("t").alias("got")
    ).collect()
    assert nrow[0]["got"] is None


def test_quality_score_orders_sensibly(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away into the quiet woods tonight again"
    bad = "@@@ ### 111 222 !!!"
    df = spark.createDataFrame([(good,), (bad,)], "t string")
    rows = df.select(quality_score("t").alias("q")).collect()
    assert rows[0]["q"] > rows[1]["q"]
    assert 0.0 <= rows[1]["q"] <= rows[0]["q"] <= 1.0


def test_fingerprint_properties(spark):
    df = spark.createDataFrame(
        [("a b c",), ("a b c",), ("A  B   c",), ("c b a",), ("a b d",)], "t string"
    )
    fps = [r[0] for r in df.select(fingerprint("t")).collect()]
    assert fps[0] == fps[1]          # identical text
    assert fps[0] == fps[2]          # case/whitespace-normalized
    assert fps[0] != fps[3]          # order-sensitive
    assert fps[0] != fps[4]          # content-sensitive


def test_words_null_and_empty(spark):
    df = spark.createDataFrame([(None,), ("",), ("  ",)], "t string")
    rows = df.select(F.size(words("t")).alias("n")).collect()
    assert [r["n"] for r in rows] == [None, 0, 0]


def test_repetition_scores(spark):
    from pandera_unified_validator_spark.operators.text import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),               # all distinct 3-grams
            (2, "spam spam spam spam spam spam"), # one distinct 3-gram
            (3, "x\ny\nx\n\n  \nz"),              # 4 non-empty lines, 1 dup
            (4, "   "),                           # no words, no lines
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_scores(docs, n=3).collect()}
    assert got[1]["n_grams"] == 6 and got[1]["repetition_ratio"] == 0.0
    assert got[2]["n_grams"] == 4 and got[2]["n_distinct_grams"] == 1
    assert got[2]["repetition_ratio"] == 0.75
    assert got[3]["dup_line_frac"] == 0.25
    assert got[4]["repetition_ratio"] == 0.0 and got[4]["dup_line_frac"] == 0.0


def test_contamination_flags(spark):
    from pandera_unified_validator_spark.operators.dedup import contamination_flags

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "qid int, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight again"),  # overlaps
            (2, "completely unrelated text about spark and data pipelines ok"),
            (3, "short doc"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["overlap_grams"] for r in
           contamination_flags(corpus, bench, n=8, min_overlap=1,
                               bench_text_col="text").collect()}
    # doc 1 shares the benchmark's 8-grams; docs 2/3 share none -> absent
    assert set(got) == {1} and got[1] >= 1
    # higher threshold drops it
    assert contamination_flags(corpus, bench, n=8, min_overlap=100).count() == 0


def test_compression_ratio(spark):
    from pandera_unified_validator_spark.operators.text import compression_ratio

    import numpy as np

    rng = np.random.RandomState(5)
    rand_text = " ".join("".join(rng.choice(list("abcdefghij"), 8)) for _ in range(200))
    docs = spark.createDataFrame(
        [
            (1, "spam " * 500),        # loops -> tiny ratio
            (2, rand_text),            # high-entropy words -> larger ratio
            (3, ""),                   # empty -> 1.0
            (4, None),                 # null -> null
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["cr"] for r in
           docs.select("doc_id", compression_ratio("text").alias("cr")).collect()}
    assert got[1] < 0.05
    assert got[2] > 3 * got[1]
    assert got[3] == 1.0 and got[4] is None


def test_pii_counts_and_redaction(spark):
    from pandera_unified_validator_spark.operators.text import pii_counts, redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test.org or x@y.io, call 555-123-4567"),
            (2, "ssn 123-45-6789 from host 10.0.255.3"),
            (3, "nothing sensitive here"),
        ],
        "doc_id int, text string",
    )
    cnts = pii_counts("text")
    got = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *[c.alias(k) for k, c in cnts.items()],
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert (got[1]["email"], got[1]["phone"]) == (2, 1)
    assert (got[2]["ssn"], got[2]["ipv4"]) == (1, 1)
    assert got[2]["phone"] == 0                      # ssn shape is not a phone
    assert got[3]["email"] == got[3]["ipv4"] == 0
    assert got[1]["red"] == "mail me at [EMAIL] or [EMAIL], call [PHONE]"
    assert got[2]["red"] == "ssn [SSN] from host [IPV4]"
    assert got[3]["red"] == "nothing sensitive here"


def test_unigram_lm_and_doc_scores(spark):
    """Unigram LM quality scoring vs a hand-computed literal oracle:
    Laplace-smoothed logp over the corpus vocab, OOV at the rarest seen
    word's logp, per-doc mean over the word MULTISET (cross-entropy), NULL
    for wordless docs."""
    import math

    from pandera_unified_validator_spark.operators.text import (
        unigram_doc_scores,
        unigram_lm,
    )

    corpus = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    lm = unigram_lm(corpus, alpha=0.5, vocab_limit=None)
    got_lm = {r["word"]: r["logp"] for r in lm.collect()}
    # counts: a=3, b=2, c=1; total=6, V=3, denom = 6 + 0.5*(3+1) = 8
    exp = {w: math.log((n + 0.5) / 8.0) for w, n in {"a": 3, "b": 2, "c": 1}.items()}
    for w, lp in exp.items():
        assert abs(got_lm[w] - lp) < 1e-12, w

    scores = {
        r["doc_id"]: (r["n_words"], r["mean_logp"])
        for r in unigram_doc_scores(corpus, lm).collect()
    }
    assert scores[1][0] == 3
    assert abs(scores[1][1] - (2 * exp["a"] + exp["b"]) / 3) < 1e-12
    assert scores[2] == (3, pytest.approx((exp["a"] + exp["b"] + exp["c"]) / 3))
    assert scores[3] == (0, None) and scores[4] == (0, None)

    # OOV: unseen words take min(lm.logp) = logp(c); vocab_limit keeps the
    # top-K words (ties by word), everything else scores as OOV
    one = unigram_doc_scores(
        spark.createDataFrame([(9, "z z")], "doc_id long, text string"), lm
    ).collect()[0]
    assert one["n_words"] == 2 and abs(one["mean_logp"] - exp["c"]) < 1e-12
    lm2 = unigram_lm(corpus, alpha=0.5, vocab_limit=2)
    assert {r["word"] for r in lm2.collect()} == {"a", "b"}


def test_gopher_quality_flags(spark):
    """Gopher rules against constructed pass/fail cases: every rule's
    boolean must flip on exactly the trait it targets; NULL text fails."""
    from pandera_unified_validator_spark.operators.text import gopher_quality_flags

    good = ("the quick brown fox jumps over that lazy dog and then runs off "
            "with a friendly band of animals they have known for years now ") * 3
    docs = spark.createDataFrame(
        [
            (1, good),                                     # passes everything
            (2, "too short to have fifty words"),          # words_in_range fails
            (3, good + " ##### " * 30),                    # symbol_ratio fails
            (4, "\n".join(["- " + good[:40]] * 20)),       # bullet_lines fails
            (5, good.replace(" ", "1 2 ")[:800]),          # alpha fails (digits)
            (6, None),                                     # NULL: all fail
        ],
        "doc_id int, text string",
    )
    flags = gopher_quality_flags("text")
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *[v.alias(k) for k, v in flags.items()]
        ).collect()
    }
    assert rows[1]["passes"] is True
    assert rows[2]["words_in_range"] is False and rows[2]["passes"] is False
    assert rows[3]["symbol_ratio_ok"] is False
    assert rows[4]["bullet_lines_ok"] is False
    assert rows[5]["alpha_words_ok"] is False
    assert rows[6]["passes"] is False and rows[6]["words_in_range"] is False


def test_url_extraction_and_blocklist(spark):
    from pandera_unified_validator_spark.operators.text import (
        extract_domains,
        url_flags,
    )

    docs = spark.createDataFrame(
        [
            (1, "see https://Example.org/page and http://example.org:8080/x plus https://other.net/"),
            (2, "tracked via https://ads.evil.com/pixel?id=7 end"),
            (3, "no links here"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    flags = url_flags("text", blocked_domains=["evil.com"])
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            extract_domains("text").alias("doms"),
            *[v.alias(k) for k, v in flags.items()],
        ).collect()
    }
    assert rows[1]["n_urls"] == 3 and rows[1]["n_domains"] == 2
    assert sorted(rows[1]["doms"]) == ["example.org", "other.net"]
    assert rows[1]["blocked"] is False
    assert rows[2]["blocked"] is True          # subdomain of a blocked parent
    assert rows[3] and rows[3]["n_urls"] == 0 and rows[3]["blocked"] is False
    assert rows[4]["n_urls"] is None and rows[4]["blocked"] is False


def _py_gram_classifier(rows, num_buckets, ngram_max=2, alpha=0.5):
    """Pure-Python closed-form oracle for the md5-mode hashed-ngram
    classifier: replicates gram building (short-doc rule included),
    md5 bucketing, NB-log-odds training, and mean-pooled scoring."""
    import hashlib
    import math as m

    def grams(text):
        ws = (text or "").lower().strip().split()
        out = []
        if not ws:
            return out
        for k in range(1, ngram_max + 1):
            for i in range(max(len(ws) - (k - 1), 1)):
                out.append(" ".join(ws[i : i + k]))
        return out

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % num_buckets

    cp, cn = {}, {}
    d_pos = d_neg = 0
    for _, text, label in rows:
        if label is None:
            continue
        d_pos += label
        d_neg += not label
        for g in grams(text):
            b = bucket(g)
            (cp if label else cn)[b] = (cp if label else cn).get(b, 0) + 1
    n_pos, n_neg = sum(cp.values()), sum(cn.values())
    denom_p = n_pos + alpha * num_buckets
    denom_n = n_neg + alpha * num_buckets
    def w(b):
        return m.log((cp.get(b, 0) + alpha) / denom_p) - m.log(
            (cn.get(b, 0) + alpha) / denom_n
        )
    bias = m.log(d_pos / d_neg)
    scores = {}
    for doc_id, text, _ in rows:
        gs = grams(text)
        if not gs:
            scores[doc_id] = (0, None, None)
            continue
        logit = bias + sum(w(bucket(g)) for g in gs) / len(gs)
        scores[doc_id] = (len(gs), logit, 1.0 / (1.0 + m.exp(-logit)))
    return scores


def test_gram_classifier_md5_matches_python_oracle(spark):
    from pandera_unified_validator_spark.operators.text import (
        score_gram_classifier,
        train_gram_classifier,
    )

    rows = [
        ("a", "the quick brown fox the quick", True),
        ("b", "lazy dog sleeps by the river", True),
        ("c", "buy cheap pills now buy now", False),
        ("d", "click here free casino money", False),
        ("e", "the quick dog clicks here", True),
        ("f", "", True),          # wordless: n_grams=0, NULL logit/prob
        ("g", "one", False),      # 1 word: unigram + whole-doc "bigram"
        ("h", "unlabeled words never train", None),  # ignored in training
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, label boolean")
    model = train_gram_classifier(
        df, "label", num_buckets=257, hash_fn="md5", alpha=0.5
    )
    expected = _py_gram_classifier(rows, 257)
    got = {
        r["doc_id"]: r
        for r in score_gram_classifier(df, model, keep_cols=("label",)).collect()
    }
    assert set(got) == {r[0] for r in rows}
    for doc_id, (n_grams, logit, prob) in expected.items():
        r = got[doc_id]
        assert r["n_grams"] == n_grams, doc_id
        if logit is None:
            assert r["logit"] is None and r["prob"] is None
        else:
            assert abs(r["logit"] - logit) < 1e-9, doc_id
            assert abs(r["prob"] - prob) < 1e-9, doc_id


def test_train_score_gram_classifier_one_explode_matches_oracle(spark):
    """The combined train+score path (one persisted gram explode) must
    produce bit-identical weights/scores to the separate train-then-score
    calls — checked against the pure-Python oracle, including the
    NULL-labeled doc (scored, never trained) and the wordless doc."""
    from pandera_unified_validator_spark.operators.text import (
        train_score_gram_classifier,
    )
    from pandera_unified_validator_spark.utils.cache import operator_cache_scope

    rows = [
        ("a", "the quick brown fox the quick", True),
        ("b", "lazy dog sleeps by the river", True),
        ("c", "buy cheap pills now buy now", False),
        ("d", "click here free casino money", False),
        ("e", "the quick dog clicks here", True),
        ("f", "", True),
        ("g", "one", False),
        ("h", "unlabeled words never train", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, label boolean")
    with operator_cache_scope():
        model, scored = train_score_gram_classifier(
            df, "label", num_buckets=257, hash_fn="md5", alpha=0.5
        )
        got = {r["doc_id"]: r for r in scored.collect()}
    assert model.num_buckets == 257 and model.hash_fn == "md5"
    expected = _py_gram_classifier(rows, 257)
    assert set(got) == {r[0] for r in rows}
    for doc_id, (n_grams, logit, prob) in expected.items():
        r = got[doc_id]
        assert r["n_grams"] == n_grams, doc_id
        if logit is None:
            assert r["logit"] is None and r["prob"] is None
        else:
            assert abs(r["logit"] - logit) < 1e-9, doc_id
            assert abs(r["prob"] - prob) < 1e-9, doc_id


def test_gram_classifier_separates_and_validates(spark):
    import random

    from pandera_unified_validator_spark.operators.text import (
        score_gram_classifier,
        train_gram_classifier,
    )

    rng = random.Random(11)
    good = "the quick brown fox jumps over a lazy dog near the river".split()
    bad = "buy cheap pills now click here free casino win money".split()
    rows = [
        (str(i), " ".join(rng.choice(good if i % 2 else bad) for _ in range(15)),
         bool(i % 2))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, label boolean")
    model = train_gram_classifier(df, "label", num_buckets=1 << 12)
    assert model.hash_fn == "xxhash64"  # default = the hot path
    scored = score_gram_classifier(df, model, keep_cols=("label",))
    agg = {
        r["label"]: r["p"]
        for r in scored.groupBy("label").agg(F.avg("prob").alias("p")).collect()
    }
    assert agg[True] > 0.9 and agg[False] < 0.1

    # single-class training must raise, not emit a degenerate model
    with pytest.raises(ValueError, match="both classes"):
        train_gram_classifier(df.filter("label"), "label")


def _py_dsir(target_rows, raw_rows, num_buckets, ngram_max=2, alpha=0.5):
    """Pure-Python oracle for md5-mode DSIR: gram building (short-doc
    rule), md5 bucketing, smoothed multinomial log-ratios, per-doc
    summed log weights."""
    import hashlib
    import math as m

    def grams(text):
        ws = (text or "").lower().strip().split()
        out = []
        if not ws:
            return out
        for k in range(1, ngram_max + 1):
            for i in range(max(len(ws) - (k - 1), 1)):
                out.append(" ".join(ws[i : i + k]))
        return out

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % num_buckets

    ct, cr = {}, {}
    for _, text in target_rows:
        for g in grams(text):
            ct[bucket(g)] = ct.get(bucket(g), 0) + 1
    for _, text in raw_rows:
        for g in grams(text):
            cr[bucket(g)] = cr.get(bucket(g), 0) + 1
    denom_t = sum(ct.values()) + alpha * num_buckets
    denom_r = sum(cr.values()) + alpha * num_buckets

    def w(b):
        return m.log((ct.get(b, 0) + alpha) / denom_t) - m.log(
            (cr.get(b, 0) + alpha) / denom_r
        )

    out = {}
    for doc_id, text in raw_rows:
        gs = grams(text)
        out[doc_id] = (len(gs), sum(w(bucket(g)) for g in gs))
    return out


def test_dsir_md5_matches_python_oracle(spark):
    from pandera_unified_validator_spark.operators.text import (
        dsir_log_weights,
        fit_dsir,
    )

    target = [
        ("t1", "the quick brown fox jumps"),
        ("t2", "quick brown foxes are quick"),
    ]
    raw = [
        ("r1", "the quick brown fox"),        # target-like: high weight
        ("r2", "buy cheap pills now now"),    # off-target: low weight
        ("r3", "quick brown"),
        ("r4", ""),                           # wordless: log_w == 0.0
        ("r5", None),                         # NULL text: log_w == 0.0
        ("r6", "one"),                        # short-doc whole-doc gram rule
    ]
    tdf = spark.createDataFrame(target, "doc_id string, text string")
    rdf = spark.createDataFrame(raw, "doc_id string, text string")
    model = fit_dsir(tdf, rdf, num_buckets=257, hash_fn="md5", alpha=0.5)
    expected = _py_dsir(target, raw, 257)
    got = {r["doc_id"]: r for r in dsir_log_weights(rdf, model).collect()}
    assert set(got) == {r[0] for r in raw}
    for doc_id, (n_grams, log_w) in expected.items():
        assert got[doc_id]["n_grams"] == n_grams, doc_id
        assert abs(got[doc_id]["log_w"] - log_w) < 1e-9, doc_id
    # the target-like doc outweighs the off-target one
    assert got["r1"]["log_w"] > got["r2"]["log_w"]


def test_dsir_resample_deterministic_and_weighted(spark):
    from pandera_unified_validator_spark.operators.text import (
        dsir_resample,
        fit_dsir,
    )

    # target speaks "alpha"; raw is half alpha-docs, half beta-docs
    target = [(f"t{i}", "alpha alpha common words") for i in range(4)]
    raw = [
        (f"a{i}", "alpha common words here") for i in range(30)
    ] + [
        (f"b{i}", "beta unrelated junk spam") for i in range(30)
    ]
    tdf = spark.createDataFrame(target, "doc_id string, text string")
    rdf = spark.createDataFrame(raw, "doc_id string, text string")
    model = fit_dsir(tdf, rdf, num_buckets=509, hash_fn="md5")
    sel1 = dsir_resample(rdf, model, 20, seed=7).collect()
    sel2 = dsir_resample(rdf.repartition(13), model, 20, seed=7).collect()
    ids1 = [r["doc_id"] for r in sel1]
    # deterministic across partitionings (content-hash Gumbel noise)
    assert ids1 == [r["doc_id"] for r in sel2]
    assert len(ids1) == len(set(ids1)) == 20
    # importance resampling: alpha-docs dominate the selected set
    n_alpha = sum(i.startswith("a") for i in ids1)
    assert n_alpha >= 15
    # a different seed draws a different (still deterministic) set
    ids3 = [r["doc_id"] for r in dsir_resample(rdf, model, 20, seed=8).collect()]
    assert ids3 != ids1


def test_dsir_weights_broadcast_plan(spark):
    """The per-doc scoring join must broadcast the ≤B-row weight table —
    no shuffle of the exploded gram stream for the join side."""
    from pandera_unified_validator_spark.operators.text import (
        dsir_log_weights,
        fit_dsir,
    )

    df = spark.createDataFrame(
        [(str(i), "some words here") for i in range(10)],
        "doc_id string, text string",
    )
    model = fit_dsir(df.limit(3), df, num_buckets=127, hash_fn="xxhash64")
    plan = dsir_log_weights(df, model)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _py_dsir_tokens(target_rows, raw_rows, num_buckets, ngram_max=2, alpha=0.5):
    """Python oracle for md5-mode TOKEN-payload DSIR: comma-joined int
    grams (short-sequence whole-doc rule), md5 bucketing, same smoothed
    multinomial arithmetic."""
    import hashlib
    import math as m

    def grams(toks):
        toks = toks or []
        out = []
        if not toks:
            return out
        for k in range(1, ngram_max + 1):
            for i in range(max(len(toks) - (k - 1), 1)):
                out.append(",".join(str(t) for t in toks[i : i + k]))
        return out

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % num_buckets

    ct, cr = {}, {}
    for _, toks in target_rows:
        for g in grams(toks):
            ct[bucket(g)] = ct.get(bucket(g), 0) + 1
    for _, toks in raw_rows:
        for g in grams(toks):
            cr[bucket(g)] = cr.get(bucket(g), 0) + 1
    denom_t = sum(ct.values()) + alpha * num_buckets
    denom_r = sum(cr.values()) + alpha * num_buckets

    def w(b):
        return m.log((ct.get(b, 0) + alpha) / denom_t) - m.log(
            (cr.get(b, 0) + alpha) / denom_r
        )

    return {
        doc_id: (len(grams(toks)), sum(w(bucket(g)) for g in grams(toks)))
        for doc_id, toks in raw_rows
    }


def test_dsir_tokens_md5_matches_python_oracle(spark):
    from pandera_unified_validator_spark.operators.text import (
        dsir_log_weights,
        fit_dsir,
    )

    target = [("t1", [7, 8, 9, 7, 8]), ("t2", [7, 9, 9])]
    raw = [
        ("r1", [7, 8, 9]),        # target-like token pattern
        ("r2", [100, 200, 300]),  # off-target ids
        ("r3", [7]),              # single token: unigram + whole-doc gram
        ("r4", []),               # empty: log_w == 0
        ("r5", None),             # NULL: log_w == 0
    ]
    tdf = spark.createDataFrame(target, "doc_id string, tokens array<int>")
    rdf = spark.createDataFrame(raw, "doc_id string, tokens array<int>")
    model = fit_dsir(
        tdf, rdf, "tokens", num_buckets=257, hash_fn="md5", payload="tokens"
    )
    expected = _py_dsir_tokens(target, raw, 257)
    got = {
        r["doc_id"]: r for r in dsir_log_weights(rdf, model, "doc_id", "tokens").collect()
    }
    assert set(got) == {r[0] for r in raw}
    for doc_id, (n_grams, log_w) in expected.items():
        assert got[doc_id]["n_grams"] == n_grams, doc_id
        assert abs(got[doc_id]["log_w"] - log_w) < 1e-9, doc_id
    assert got["r1"]["log_w"] > got["r2"]["log_w"]


def test_dsir_tokens_xxhash_mode_ranks_like_md5(spark):
    """The hot xxhash64 token path must produce the same RANKING as the
    oracle-replayable md5 path on collision-free bucket counts (hash
    choice changes bucket collisions, not the likelihood-ratio logic)."""
    from pandera_unified_validator_spark.operators.text import (
        dsir_log_weights,
        fit_dsir,
    )

    target = [(f"t{i}", [1, 2, 3, 4]) for i in range(3)]
    raw = [(f"a{i}", [1, 2, 3, 9]) for i in range(5)] + [
        (f"b{i}", [50, 60, 70, 80]) for i in range(5)
    ]
    tdf = spark.createDataFrame(target, "doc_id string, tokens array<int>")
    rdf = spark.createDataFrame(raw, "doc_id string, tokens array<int>")
    ranks = {}
    for hf in ("md5", "xxhash64"):
        model = fit_dsir(
            tdf, rdf, "tokens", num_buckets=1 << 18, hash_fn=hf, payload="tokens"
        )
        rows = dsir_log_weights(rdf, model, "doc_id", "tokens").collect()
        ranks[hf] = [r["doc_id"] for r in sorted(rows, key=lambda r: (-r["log_w"], r["doc_id"]))]
    assert ranks["md5"] == ranks["xxhash64"]
    assert all(d.startswith("a") for d in ranks["md5"][:5])


def test_gram_classifier_token_payload(spark):
    """payload="tokens" trains/scores the linear filter directly on
    array<int> sequences — separation on disjoint token vocabularies and
    a carried payload field so scoring can't mix gram sources."""
    from pandera_unified_validator_spark.operators.text import (
        score_gram_classifier,
        train_gram_classifier,
    )

    rows = [(f"g{i}", [1, 2, 3, 4, 5], True) for i in range(6)] + [
        (f"s{i}", [900, 901, 902, 903], False) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, label boolean")
    model = train_gram_classifier(
        df, "label", text_col="tokens", num_buckets=1 << 14, payload="tokens"
    )
    assert model.payload == "tokens"
    got = {r["doc_id"]: r["prob"] for r in
           score_gram_classifier(df, model, text_col="tokens").collect()}
    assert min(got[f"g{i}"] for i in range(6)) > 0.9
    assert max(got[f"s{i}"] for i in range(6)) < 0.1


def test_fit_resample_dsir_matches_two_pass_api(spark):
    """Round-7 one-explode fit+score+select must be BIT-IDENTICAL to
    fit_dsir(target, raw) + dsir_resample(raw): same bucket log-ratios,
    same selected rows. A NULL target flag counts as NON-target, exactly
    like the two-pass API's where()-built target (NULL-drop) — the gate
    corpus has no NULL lang, so only this test covers that equivalence."""
    from pandera_unified_validator_spark.operators.text import (
        dsir_resample,
        fit_dsir,
        fit_resample_dsir,
    )

    rows = (
        [(f"t{i}", "alpha alpha common words", True) for i in range(4)]
        + [(f"a{i}", "alpha common words here", False) for i in range(20)]
        + [(f"b{i}", "beta unrelated junk spam", False) for i in range(20)]
        + [("n0", "beta junk with null flag", None)]
    )
    df = spark.createDataFrame(rows, "doc_id string, text string, is_t boolean")

    model2 = fit_dsir(
        df.where(F.col("is_t")), df, num_buckets=509, hash_fn="md5"
    )
    sel2 = dsir_resample(df, model2, 15, seed=7).collect()

    model1, sel1_df = fit_resample_dsir(
        df, "is_t", 15, seed=7, num_buckets=509, hash_fn="md5"
    )
    sel1 = sel1_df.collect()

    lr1 = {r["bucket"]: r["log_ratio"] for r in model1.log_ratio.collect()}
    lr2 = {r["bucket"]: r["log_ratio"] for r in model2.log_ratio.collect()}
    assert lr1 == lr2
    assert model1.default_log_ratio == model2.default_log_ratio
    assert [tuple(r) for r in sel1] == [tuple(r) for r in sel2]
    # the NULL-flag doc is scorable raw-side (it could be selected) but
    # must not have contributed to target counts: flipping its flag to
    # False changes nothing
    model3, sel3_df = fit_resample_dsir(
        df.fillna(False, subset=["is_t"]), "is_t", 15, seed=7,
        num_buckets=509, hash_fn="md5",
    )
    assert [tuple(r) for r in sel3_df.collect()] == [tuple(r) for r in sel1]
