"""End-to-end training-data pipeline: the operators composed the way a real
corpus build uses them — near-dedup, decontamination, quality + repetition
filtering, stratified sampling, and final schema validation — asserting both
the surviving row set and that every stage stays lazy until one final
action."""

from pyspark.sql import functions as F

from pandera_unified_validator_spark import SchemaBuilder, SparkValidator
from pandera_unified_validator_spark.operators.dedup import (
    contamination_flags,
    dedup_exact,
    minhash_dedup_pairs,
)
from pandera_unified_validator_spark.operators.sampling import stratified_sample
from pandera_unified_validator_spark.operators.text import (
    redact_pii,
    repetition_scores,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the quiet green hills and the river runs cold through the valley"
)
LOOPY = "buy now " * 40                      # repetition filter must kill it
BENCH = (
    "what is the capital of france the answer to this question is paris "
    "which has been the capital city for many centuries of history"
)


def test_training_data_pipeline(spark, tmp_path):
    rows = []
    for i in range(40):                       # clean web docs (distinct texts)
        rows.append((i, "web", GOOD + f" variant token {i}"))
    rows.append((100, "web", GOOD + " variant token 0"))   # exact dup of doc 0
    rows.append((101, "web", LOOPY))                        # boilerplate
    rows.append((102, "web", BENCH + " with extra words appended here"))  # leaked
    rows.append((103, "web", GOOD + " mail me at leak@example.com please"))  # PII
    for i in range(200, 220):                 # books stratum
        rows.append((i, "books", GOOD.replace("fox", f"cat{i}")))
    corpus = spark.createDataFrame(rows, "doc_id long, source string, text string")
    benchmark = spark.createDataFrame([(0, BENCH)], "qid long, text string")

    # 1) exact dedup on text (keep smallest doc_id)
    stage1 = dedup_exact(corpus, ["text"], tiebreak="doc_id")

    # 2) decontamination against the benchmark (8-gram overlap)
    leaked = contamination_flags(stage1, benchmark, "doc_id", "text", n=8)
    stage2 = stage1.join(leaked.select("doc_id"), "doc_id", "left_anti")

    # 3) quality + repetition gates
    rep = repetition_scores(stage2, "doc_id", "text", n=3)
    stage3 = (
        stage2.join(rep.select("doc_id", "repetition_ratio"), "doc_id")
        .filter(F.col("repetition_ratio") < 0.5)
        .drop("repetition_ratio")
    )

    # 4) PII redaction, then stratified mix (deterministic thresholds)
    stage3 = stage3.withColumn("text", redact_pii("text"))
    stage4 = stratified_sample(
        stage3, "source", {"web": 1.0, "books": 1.0}, "doc_id"
    )

    # 5) validate the final corpus against its contract
    schema = (
        SchemaBuilder("corpus")
        .column("doc_id", "int", unique=True, nullable=False)
        .column("source", "str", isin=["web", "books"])
        .column("text", "str", nullable=False)
        .build()
    )
    res = SparkValidator(schema, key_columns=("doc_id",)).validate(stage4)

    kept = {r["doc_id"] for r in stage4.select("doc_id").collect()}
    assert 100 not in kept          # exact dup removed (doc 0 kept: tiebreak)
    assert 0 in kept
    assert 101 not in kept          # boilerplate filtered
    assert 102 not in kept          # benchmark leak removed
    assert len([k for k in kept if k >= 200]) == 20   # books stratum intact
    assert 103 in kept and len(kept) == 61            # 40+1 web + 20 books
    redacted = stage4.filter("doc_id = 103").collect()[0]["text"]
    assert "[EMAIL]" in redacted and "leak@example.com" not in redacted
    assert res.is_valid, res.report.to_console()

    # near-dup audit on the survivors: no pair at jaccard >= 0.8 with a
    # DIFFERENT base text remains (the variants share most grams but the
    # verify threshold keeps them; exact dups are already gone)
    pairs = minhash_dedup_pairs(
        stage4, "doc_id", "text", num_hashes=32, bands=16, jaccard_threshold=0.99
    )
    assert pairs.filter("jaccard_sim >= 0.999").count() == 0
