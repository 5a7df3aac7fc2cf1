"""spark-submit entry point: the full corpus-curation pipeline end-to-end on
a cluster — the companion to ``tools/submit_job.py`` (validation) covering
the training-data operators.

Stages (each a first-class operator of this engine): corpus-level line dedup
→ Gopher quality gate → URL blocklist → MinHash near-dup + connected-
components keep-one → unigram-LM quality floor → deterministic stratified
sample → optional DSIR importance selection (``--dsir-k``) → write parquet
+ one JSON summary line → optional text→training-rows bridge
(``--tokenize-merges``: train byte-level BPE on the curated text, tokenize,
validate, pack, materialize padded bins to ``<output>_bins`` with a
partitioning-invariant checksum in the summary). Operator caches (signature
store, CC label checkpoints) are released via ``operator_cache_scope`` once
the output is written — the long-lived-session hygiene the cache registry
exists for.

Packaging / cluster run (north rule "spark-submit --py-files"):

    python tools/package.py                      # → dist/puv_spark.zip
    spark-submit --master spark://host:7077 --py-files dist/puv_spark.zip \\
        tools/submit_corpus_job.py --input hdfs://.../docs \\
        --output hdfs://.../curated --report corpus_report.json

Local smoke (CI / this sandbox):

    python tools/submit_corpus_job.py --input /tmp/corpus_in \\
        --output /tmp/corpus_out --synthesize 20000
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthesize_corpus(spark, path: str, n: int) -> None:
    """Deterministic dirty corpus: repeated boilerplate lines (line-dedup
    prey), whole-doc near-duplicates (minhash prey), a blocked-domain URL
    cohort, a gibberish cohort (Gopher prey), across 4 sources."""
    from pyspark.sql import functions as F

    # glue: enough Gopher stopwords to pass the gate, but few enough shared
    # words that CROSS-cluster jaccard (~13/135 ≈ 0.1) sits far below the
    # LSH S-curve midpoint (0.5 at 16 bands x 4 rows) — cross-cluster docs
    # must not even become candidates, or candidate generation goes
    # quadratic (the first draft shared ~80 words -> j≈0.45 -> ~half of ALL
    # doc pairs were candidates -> OOM; that IS the S-curve lesson).
    glue = (
        "the story of a walk and the long road with friends that have arrived "
    )
    cluster = F.floor(F.col("id") / 4)  # near-dup clusters of 4 docs
    cluster_words = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda j: F.concat(
                F.lit("c"), cluster.cast("string"), F.lit("w"), j.cast("string")
            ),
        ),
    )
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # source derives from the CLUSTER, not the raw id: keep-one dedup
        # retains each cluster's min id, and id-mod-4 sources would make
        # every surviving representative src0 (cluster size == source
        # modulus — a fun deterministic artifact of the first draft)
        F.concat(F.lit("src"), F.pmod(cluster, F.lit(4)).cast("string")).alias("source"),
        F.concat(
            # shared boilerplate line, 8 variants -> cross-doc duplicate lines
            F.lit("subscribe to our newsletter variant "),
            F.pmod("id", F.lit(8)).cast("string"),
            F.lit(" for updates today\n"),
            F.when(
                F.pmod("id", F.lit(13)) == 0,
                # gibberish cohort: no stopwords, digit-heavy (Gopher prey)
                F.lit("9$73 zz9!! 00@@1 xx##7 " * 40),
            ).otherwise(
                # body line UNIQUE per doc (survives line dedup) but
                # shingle-near-identical within its 4-doc cluster (minhash
                # prey: ~97% jaccard in-cluster, ~10% across clusters)
                F.concat(
                    F.lit(glue), cluster_words,
                    F.lit(" item "), F.col("id").cast("string"),
                )
            ),
            F.lit("\ntail token "),
            F.pmod("id", F.lit(997)).cast("string"),
            # 1-in-11 docs link a blocked domain (doc-unique URL so the ad
            # line is NOT swallowed by line dedup before the URL gate)
            F.when(
                F.pmod("id", F.lit(11)) == 0,
                F.concat(
                    F.lit("\nsee https://ads.blocked.example/pixel?id="),
                    F.col("id").cast("string"),
                    F.lit(" now"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    df.repartition(8).write.mode("overwrite").parquet(path)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--report", default=None)
    p.add_argument("--synthesize", type=int, default=0)
    p.add_argument("--blocklist", default="blocked.example")
    p.add_argument("--lm-drop-pct", type=float, default=10.0,
                   help="drop the worst N%% of docs by unigram-LM mean logp "
                        "(percentile-calibrated like CCNet's perplexity "
                        "buckets — an absolute floor would need per-corpus "
                        "tuning)")
    p.add_argument("--sample", default="src0=1.0,src1=1.0,src2=0.5,src3=0.5")
    p.add_argument("--dsir-k", type=int, default=0,
                   help="final DSIR selection (Xie et al. 2023): keep K docs "
                        "by importance against the target slice (0 disables). "
                        "The target is the doc_id %% 17 == 0 slice of the raw "
                        "input — a deterministic stand-in for a clean "
                        "exemplar corpus (Wikipedia in the paper)")
    p.add_argument("--tokenize-merges", type=int, default=0,
                   help="after curation, train a byte-level BPE model with N "
                        "merges on the curated text, tokenize, validate the "
                        "sequences, pack to --pack-capacity bins and write "
                        "<output>_bins (0 disables). The summary carries a "
                        "partitioning-invariant position-weighted checksum "
                        "over every padded bin, so two cluster shapes can be "
                        "compared bit-for-bit")
    p.add_argument("--pack-capacity", type=int, default=1024)
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("puv-corpus-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pandera_unified_validator_spark.operators.pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from pandera_unified_validator_spark.utils.cache import operator_cache_scope

    if args.synthesize:
        synthesize_corpus(spark, args.input, args.synthesize)

    corpus = spark.read.parquet(args.input)
    stages: dict[str, int] = {"input": corpus.count()}
    blocked = tuple(d for d in args.blocklist.split(",") if d)
    fractions = {
        k: float(v) for k, v in (kv.split("=") for kv in args.sample.split(","))
    }

    # the tool is curate_corpus with per-stage counters: each stage is one
    # CurationConfig with only that gate enabled, so the gate logic (incl.
    # the empty-quantile guard and NULL-score policy) lives in ONE place —
    # operators/pipeline.py — and the cluster harness cannot diverge
    off = dict(
        min_line_chars=None, gopher=False, blocked_domains=(),
        near_dup_threshold=None, lm_drop_pct=None, sample_fractions=None,
    )
    with operator_cache_scope():
        step = curate_corpus(
            corpus, config=CurationConfig(**{**off, "min_line_chars": 30, "gopher": True})
        )
        stages["after_line_dedup_and_gopher"] = step.count()

        step = curate_corpus(step, config=CurationConfig(**{**off, "blocked_domains": blocked}))
        stages["after_url_filter"] = step.count()

        step = curate_corpus(step, config=CurationConfig(**{**off, "near_dup_threshold": 0.8}))
        stages["after_near_dup"] = step.count()

        step = curate_corpus(
            step, config=CurationConfig(**{**off, "lm_drop_pct": args.lm_drop_pct})
        )
        stages["after_lm_floor"] = step.count()

        step = curate_corpus(
            step, config=CurationConfig(**{**off, "sample_fractions": fractions})
        )
        if args.dsir_k:
            stages["after_sample"] = step.count()
            target = corpus.where(F.pmod("doc_id", F.lit(17)) == 0)
            step = curate_corpus(
                step,
                config=CurationConfig(
                    **{**off, "dsir_k": args.dsir_k, "dsir_target": target}
                ),
            )
        step.write.mode("overwrite").parquet(args.output)

    stages["written"] = spark.read.parquet(args.output).count()

    if args.tokenize_merges:
        # text -> training-rows bridge on the CURATED corpus: every stage a
        # first-class operator (train_bpe / apply_bpe / token_sequence_flags
        # / pack_sequences / materialize_packed_bins); all deterministic
        # under any partitioning, so the checksum below must be identical
        # across cluster shapes
        from pandera_unified_validator_spark.operators.bpe import (
            apply_bpe,
            train_bpe,
        )
        from pandera_unified_validator_spark.operators.token_ops import (
            materialize_packed_bins,
            pack_sequences,
            token_sequence_flags,
        )

        curated = spark.read.parquet(args.output)
        model = train_bpe(curated, "text", num_merges=args.tokenize_merges)
        toks = apply_bpe(curated.select("doc_id", "text"), model, "text").withColumn(
            "n_tok", F.size("tokens")
        )
        flags = token_sequence_flags(toks, vocab_size=model.vocab_size)
        stages["tokenized_ok"] = flags.where("seq_ok").count()
        packed = pack_sequences(toks, capacity=args.pack_capacity, shards=64)
        # pad with an OUT-OF-BAND id (== vocab_size, one past the last
        # learned merge): vocab_size - 1 is a live vocabulary token, which
        # would make padding indistinguishable from data for any consumer
        # that doesn't honor seq_lens boundaries. Downstream embedding
        # tables must therefore size vocab_size + 1. (The packed_bins GATE
        # query keeps its deliberate in-alphabet pad — checksum
        # sensitivity — this is the production bridge.)
        bins = materialize_packed_bins(
            toks, packed, capacity=args.pack_capacity, pad_id=model.vocab_size
        )
        bins.write.mode("overwrite").parquet(args.output + "_bins")
        bdf = spark.read.parquet(args.output + "_bins")
        b = bdf.agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum("fill").alias("nt"),
            F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias("trunc"),
        ).collect()[0]
        chk = (
            bdf.select(F.posexplode("tokens").alias("p", "x"))
            .agg(F.sum((F.col("p") + 1) * F.col("x")).alias("c"))
            .collect()[0]["c"]
        )
        stages["bins_written"] = int(b["nb"])
        stages["tokens_total"] = int(b["nt"])
        extra_tok = {
            "bpe_vocab_size": model.vocab_size,
            "pad_id": model.vocab_size,
            "bins_truncated": int(b["trunc"]),
            "bins_checksum": int(chk),
            "bin_utilization": round(
                min(b["nt"], b["nb"] * args.pack_capacity)
                / max(b["nb"] * args.pack_capacity, 1),
                4,
            ),
        }
    else:
        extra_tok = {}
    n_rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    summary = {
        "stages": stages,
        "kept_ratio": round(stages["written"] / max(stages["input"], 1), 4),
        "persistent_rdds_after_scope": n_rdds,
        "executors": spark.sparkContext.defaultParallelism,
        **extra_tok,
    }
    print(json.dumps(summary))
    if args.report:
        with open(args.report, "w") as f:
            json.dump(summary, f, indent=2)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
