"""Emit PLAN.md: the physical plans of the engine's flagship operations with
the properties that matter at 100 TB called out (pushdown, pruning,
broadcast, shuffle count). Re-run after plan-affecting changes.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\n\s*(?:\+-|:-|:  *\+-)? *Exchange", plan))
        + plan.count("+- Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "read_schemas": re.findall(r"ReadSchema: (\S+)", plan),
        "codegen_stages": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from pandera_unified_validator_spark import SparkValidator
    from pandera_unified_validator_spark.session import get_spark
    from pandera_unified_validator_spark.tokens import (
        source_dim,
        token_schema,
        token_table,
    )

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    path = "/tmp/plan_audit_tokens"
    if not os.path.exists(path):
        token_table(spark, 10000, dirty=True).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)

    sections: list[tuple[str, str, str]] = []

    v = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
    annotated, checks, _ = v.annotate(df)
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum((~F.col("__chk_" + c.name)).cast("long")).alias(c.name) for c in checks
    ]
    sections.append(
        (
            "Full-check verdict aggregation (the flagship job)",
            "One scan computes every row-local check; the duplicate-key branch "
            "prunes to doc_id-only with a pushed IsNotNull; unique is a "
            "broadcast join, the 5-key source dimension an inline IN set (no "
            "join); one exchange for the final aggregate.",
            plan_of(annotated.agg(*aggs)),
        )
    )

    from pandera_unified_validator_spark.operators.profiler import numeric_summary

    sections.append(
        (
            "Single-pass numeric profile",
            "All scalar statistics in one partial-aggregated job; scan prunes "
            "to the profiled column.",
            plan_of(numeric_summary(df, "n_tok")),
        )
    )

    from pandera_unified_validator_spark.operators.drift import psi_df

    base, cur = df.filter("n_tok % 2 = 0"), df.filter("n_tok % 2 = 1")
    sections.append(
        (
            "In-plan PSI (drift)",
            "Two histogram aggregations joined on ≤K buckets; the bucket join "
            "is trivially broadcast.",
            plan_of(psi_df(base, cur, "n_tok", 1.0, 8192.0, 10)),
        )
    )

    from pandera_unified_validator_spark.operators.dedup import minhash_signatures_df

    docs = df.select(
        F.col("doc_id"),
        F.concat_ws(" ", F.transform("tokens", lambda t: t.cast("string"))).alias("text"),
    )
    sections.append(
        (
            "MinHash signatures (corpus-scale path)",
            "Explode to (doc, shingle), codegen'd seeded hashes, one map-side-"
            "combined groupBy-min shuffle.",
            plan_of(minhash_signatures_df(docs, num_hashes=8)),
        )
    )

    from pandera_unified_validator_spark.operators.dedup import (
        embedding_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    emb = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(16)]).alias("embedding"),
    )
    sections.append(
        (
            "Embedding near-dup (round-3 shape)",
            "ONE Arrow UDF pass tags buckets, ONE hash exchange groups by "
            "bucket, pairs emitted in-group by numpy block-matmul — the "
            "corpus is scanned and shuffled exactly once (round 2 shuffled "
            "it three times and re-ran the UDF per join side).",
            plan_of(embedding_near_dup_pairs(emb, threshold=0.99, n_bits=8)),
        )
    )

    cand = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).limit(1000)
    sections.append(
        (
            "n-gram Jaccard verify kernel (round-3 shape)",
            "Distinct (doc, gram) rows via explode; set sizes from one "
            "map-side-combined groupBy; intersection via codegen hash joins "
            "keyed by (pair, gram) — only fixed-width rows cross shuffles, "
            "never gram arrays.",
            plan_of(ngram_jaccard_pairs(docs, cand)),
        )
    )

    from pandera_unified_validator_spark.operators.dedup import contamination_flags

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    sections.append(
        (
            "Benchmark decontamination",
            "The benchmark's distinct gram-hash set BROADCASTS; the corpus "
            "explodes once into (doc, gram-hash) longs and hash-joins "
            "against it — the corpus is never shuffled on text, and only "
            "flagged (doc_id, count) rows reach the aggregation.",
            plan_of(contamination_flags(docs, bench, n=8)),
        )
    )

    from pandera_unified_validator_spark.operators.dedup import line_dedup

    sections.append(
        (
            "Corpus-level line dedup (round-5)",
            "Line TEXT never shuffles on a line-keyed partitioning: the "
            "winner/loser computation runs on a skinny (hash, doc, pos) "
            "projection (map-side-combined min; a hot boilerplate line "
            "collapses to one candidate per partition pre-shuffle); text "
            "crosses only the uniform (doc, pos) marker join and the "
            "reassembly groupBy(doc).",
            plan_of(line_dedup(docs, min_line_chars=10)),
        )
    )

    from pandera_unified_validator_spark.operators.text import (
        unigram_doc_scores,
        unigram_lm,
    )

    lm = unigram_lm(docs, vocab_limit=1000)
    sections.append(
        (
            "Unigram LM doc scoring (round-5)",
            "The LM (≤ vocab_limit rows by construction) BROADCASTS; the "
            "corpus explodes once to (doc, word) and only (doc, logp) pairs "
            "reach the map-side-combined per-doc aggregation.",
            plan_of(unigram_doc_scores(docs, lm)),
        )
    )

    from pandera_unified_validator_spark.operators.text import (
        dsir_resample,
        fit_dsir,
    )
    from pandera_unified_validator_spark.utils.cache import (
        operator_cache_scope as _dsir_scope,
    )

    with _dsir_scope():
        dsir_model = fit_dsir(
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(7)) == 0),
            docs,
            num_buckets=4096,
        )
        sections.append(
            (
                "DSIR importance resampling (round-6)",
                "The ≤B-row log-ratio table BROADCASTS into the weight "
                "explode (text never shuffles — only (doc, bucket) pairs "
                "reach the per-doc sum), and the k-selection is a "
                "TakeOrderedAndProject: per-partition top-k heaps, no "
                "global sort materialization. The live path is scan → "
                "explode → BroadcastHashJoin → two-phase aggregate → "
                "top-k; the sort-merge joins / extra scans in the counts "
                "below all sit INSIDE the InMemoryRelation (the fit's "
                "persisted bucket-count join — built once, then served "
                "from cache) plus AQE's duplicated Initial-Plan listing.",
                plan_of(dsir_resample(docs, dsir_model, 100)),
            )
        )

    from pandera_unified_validator_spark.operators.token_ops import (
        remove_duplicated_spans,
    )

    sections.append(
        (
            "Duplicated-span removal (ExactSubstr edit step, round-6)",
            "The gram table — (id string, length int, pos int, gram-hash "
            "long) rows, no token arrays, not persisted — crosses ONE "
            "exchange, on the gram hash; one window over each gram's "
            "occurrences sorted by (id, pos) picks the canonical keeper "
            "and counts the gram's docs (no aggregate, no join back). Only "
            "the hits cross the id exchange of the running-max window that "
            "converts hit intervals to disjoint segments; token ARRAYS "
            "cross exactly one shuffle — the final id-keyed join that "
            "pairs each doc with its segment list for the rebuild fold.",
            plan_of(remove_duplicated_spans(df, n=8, min_docs=2)),
        )
    )

    from pandera_unified_validator_spark.operators.pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from pandera_unified_validator_spark.operators.text import train_gram_classifier
    from pandera_unified_validator_spark.utils.cache import operator_cache_scope

    # corpus with line structure + URLs so every gate has real work;
    # written to parquet so the audit sees true scan counts, not
    # LocalTableScans.
    corpus_path = "/tmp/plan_audit_corpus"
    pool = F.array(*[F.lit(w) for w in (
        "the", "and", "with", "that", "table", "query", "window", "filter",
        "column", "stream", "order", "batch", "value", "merge", "data", "sort",
    )])
    prose = F.concat_ws(
        " ", F.transform("tokens", lambda t: F.element_at(pool, F.pmod(t, F.lit(16)) + 1))
    )
    docs2 = df.select("doc_id", "tokens").select(
        "doc_id",
        # x4 so every doc clears Gopher's 50-word floor
        F.concat_ws(" ", prose, prose, prose, prose).alias("text"),
    )
    docs2.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("the shared boilerplate line with sufficient length and words"),
            F.concat(F.lit("see https://example.com/p/"), F.col("doc_id")),
        ).alias("text"),
        (F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0).alias("label"),
        F.concat(F.lit("s"), F.pmod(F.xxhash64("doc_id"), F.lit(4))).alias("source"),
    ).write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    with operator_cache_scope():
        model = train_gram_classifier(corpus, "label", num_buckets=4096)
        kept = curate_corpus(
            corpus,
            config=CurationConfig(
                min_line_chars=10,
                gopher=True,
                blocked_domains=("ads.example.net",),
                near_dup_threshold=0.8,
                quality_classifier=model,
                classifier_min_prob=0.1,
                lm_drop_pct=10.0,
                sample_fractions=None,
            ),
        )
        sections.append(
            (
                "curate_corpus end-to-end (the one-call pipeline, round-6)",
                "The COMPOSED plan of every gate in sequence. What this "
                "audit found and fixed (round 6): the near-dup and classifier "
                "gates SELF-JOIN the running corpus, so without a persist at "
                "that boundary the whole upstream lineage (line-dedup "
                "reassembly above all) re-executed once per consuming branch "
                "— 7 raw-text file scans in the composed plan. With the "
                "curate_corpus.post_filters persist the left spine and every "
                "derived side read one InMemoryTableScan; the remaining file "
                "scans all sit INSIDE the single cached materialization "
                "(line-dedup's text + skinny-hash branches) or the one-off "
                "classifier-training subtree. Line-dedup's reassembly "
                "groupBy(doc) is the only exchange before the cache; Gopher + "
                "URL flags fuse into it as pure projections; the CC labels "
                "enter as a LogicalRDD (the eager checkpointed fixpoint), so "
                "the keep-one side re-scans nothing.",
                plan_of(kept),
            )
        )

    from pandera_unified_validator_spark.operators.bpe import apply_bpe, train_bpe
    from pandera_unified_validator_spark.operators.token_ops import (
        materialize_packed_bins,
        pack_sequences,
    )

    bpe_model = train_bpe(corpus, "text", num_merges=64)
    sections.append(
        (
            "BPE apply (text -> tokens bridge, round-6)",
            "One Arrow-batched projection over the raw-text scan — no "
            "exchange anywhere: the merge ranks ride the UDF closure and "
            "the normalization (lower/split/join) is Spark-side codegen "
            "feeding the UDF. Training is a separate one-shot aggregate "
            "(explode -> partial-agg groupBy -> top-K collect), not part "
            "of this plan.",
            plan_of(apply_bpe(corpus.select("doc_id", "text"), bpe_model, "text")),
        )
    )

    packed = pack_sequences(df.select("doc_id", "n_tok"), capacity=1024, shards=16)
    sections.append(
        (
            "Packed-bin materialization (round-6)",
            "pack_sequences shuffles only (id, n_tok) triples into shard "
            "groups (one Arrow stage packs each shard); the materialize "
            "step then joins the layout back to the token arrays (broadcast "
            "at this scale; at corpus scale a second array-carrying "
            "exchange unless the corpus is co-partitioned by id) and "
            "groupBys (shard, bin) — per-group state bounded by capacity. "
            "The concat/pad HOFs run once per BIN and the flatten is "
            "materialized as a real projection column (SPARK-36718).",
            plan_of(
                materialize_packed_bins(
                    df.select("doc_id", "tokens"), packed, capacity=1024, pad_id=0
                )
            ),
        )
    )

    out = ["# PLAN — physical-plan audit (generated by tools/plan_audit.py)\n"]
    for title, why, plan in sections:
        s = summarize(plan)
        out.append(f"## {title}\n")
        out.append(f"{why}\n")
        out.append(
            f"- broadcast joins: {s['broadcast_joins']}, sort-merge joins: "
            f"{s['sortmerge_joins']}, codegen stages: {s['codegen_stages']}, "
            f"file scans: {len(s['read_schemas'])}\n"
            f"- pushed filters: {s['pushed_filters']}\n"
            f"- read schemas: {s['read_schemas']}\n"
        )
        out.append("```\n" + plan.split("== Physical Plan ==")[-1].strip()[:4000] + "\n```\n")
    with open("PLAN.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLAN.md")
    spark.stop()


if __name__ == "__main__":
    main()
