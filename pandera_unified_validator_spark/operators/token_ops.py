"""Token-sequence operators over pre-tokenized corpora.

These work directly on the north-star table shape (BASELINE.json
``input_hint``): ``(doc_id string, tokens array<int>, n_tok int,
source string)`` — the things a training-data pipeline does to token
sequences AFTER tokenization and BEFORE batching:

* :func:`token_sequence_flags` — structural validation of the token
  arrays themselves (length consistency, vocab range, BOS/EOS framing),
  all whole-stage-codegen expressions;
* :func:`duplicated_ngram_coverage` — the token-level fine-grained
  duplication signal of Lee et al., "Deduplicating Training Data Makes
  Language Models Better" (2022): per document, the fraction of token
  positions covered by an n-gram that also occurs in other documents;
* :func:`pack_sequences` — greedy next-fit packing of variable-length
  sequences into fixed-capacity training bins without splitting a
  sequence across bins;
* :func:`token_budget_sample` — deterministic source-mixture sampling
  to a token budget (keep-rate per source = budget share / source
  tokens), built on the md5 hash-threshold sampler so any engine can
  replay the exact selected set.

Reference scope: the reference validates record payloads
(``core/validator.py``) but has no token-sequence operators; this
module is part of the beyond-reference LLM-pipeline surface (assignment
brief), kept to the same oracle discipline as the rest of the repo.

Scale notes (100 TB):

* ``token_sequence_flags`` is a pure projection — no shuffle, prunes to
  the token/length columns, survives any scale.
* ``duplicated_ngram_coverage`` and ``remove_duplicated_spans`` share
  one plan and neither persists: the gram table, ``(id, len, pos,
  gram-hash)`` rows with no token arrays, crosses one exchange keyed on
  the gram hash, where one window over each gram's occurrences, sorted
  by ``(id, pos)``, counts the gram's docs and picks the canonical
  keeper. The window buffers a gram's occurrence group, which spills,
  not fails, for a hot boilerplate gram. Only duplicated occurrences
  move on, to the ``id``-keyed running-max window that merges them into
  disjoint segments; coverage sums those per id and joins them to the
  base ``(id, length)`` scan, removal collects them and crosses token
  arrays only in its rebuild join.
* ``pack_sequences`` shuffles only ``(doc_id, n_tok, order)`` triples —
  never the token arrays — into ``shards`` independent groups; each
  shard packs locally in one Arrow batch. Bin ids are per-shard, so no
  global sequential pass exists anywhere.
* ``token_budget_sample`` is one tiny per-source aggregate (collected:
  K sources, bounded) followed by a stateless codegen filter.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sampling import _HASH_SPAN, sample_hash
from .text import _gram_hashes

__all__ = [
    "token_sequence_flags",
    "duplicated_ngram_coverage",
    "remove_duplicated_spans",
    "pack_sequences",
    "materialize_packed_bins",
    "token_budget_sample",
    "mixture_rates",
]


# ------------------------------------------------- structural validation ---


def token_sequence_flags(
    df: DataFrame,
    tokens_col: str = "tokens",
    n_tok_col: str | None = "n_tok",
    *,
    vocab_size: int,
    bos_id: int | None = None,
    eos_id: int | None = None,
    max_len: int | None = None,
    with_oov_count: bool = False,
) -> DataFrame:
    """Append structural-validity flags for pre-tokenized sequences.

    Flags (NULL-safe; a NULL ``tokens`` array sets ``tokens_null`` and
    leaves the structural flags false rather than NULL so downstream
    aggregates never silently skip rows):

    * ``tok_len``       — ``size(tokens)`` (NULL array → 0, flagged);
    * ``tokens_null``   — the array itself is NULL;
    * ``len_mismatch``  — ``size(tokens) != n_tok`` (if ``n_tok_col``);
    * ``null_elem``     — any NULL element inside the array (invisible
      to every other flag: ``size`` counts NULLs, min/max and lambda
      predicates skip them, gram hashing silently drops them), decided
      by ``size(array_compact(tokens)) < size(tokens)`` (codegen);
    * ``oov_any``       — any element outside ``[0, vocab_size)``,
      decided by ``array_min``/``array_max`` (codegen; CLAUDE.md: 3.6×
      faster than an interpreted ``forall``);
    * ``oov_count``     — exact count via ``filter`` (interpreted —
      opt-in via ``with_oov_count`` for diagnostics, off the hot path);
    * ``bos_bad``       — first token is not ``bos_id`` (if given);
    * ``eos_bad``       — last token is not ``eos_id`` (if given);
    * ``interior_eos``  — ``eos_id`` occurs before the last position
      (a packed-sequence framing violation);
    * ``too_long``      — ``n_tok > max_len`` (if both given);
    * ``seq_ok``        — none of the enabled flags fired.

    Everything is a whole-stage-codegen projection: no shuffle, no UDF.
    """
    toks = F.col(tokens_col)
    is_null = toks.isNull()
    tok_len = F.coalesce(F.size(toks), F.lit(0))

    flags: dict[str, Column] = {
        "tok_len": tok_len,
        "tokens_null": is_null,
    }
    if n_tok_col is not None:
        flags["len_mismatch"] = F.coalesce(
            tok_len != F.col(n_tok_col), F.lit(True)
        ) & ~is_null

    # interior NULL elements are invisible to every other flag (size()
    # counts them, array_min/max and the filter predicate skip them, and
    # downstream gram hashing silently drops them) — detect via the
    # codegen array_compact length, not an interpreted exists() lambda
    flags["null_elem"] = F.coalesce(
        F.size(F.array_compact(toks)) < tok_len, F.lit(False)
    )

    lo, hi = F.array_min(toks), F.array_max(toks)
    flags["oov_any"] = F.coalesce((lo < 0) | (hi >= vocab_size), F.lit(False))
    if with_oov_count:
        flags["oov_count"] = F.coalesce(
            F.size(F.filter(toks, lambda t: (t < 0) | (t >= vocab_size))), F.lit(0)
        )
    if bos_id is not None:
        flags["bos_bad"] = F.coalesce(
            F.try_element_at(toks, F.lit(1)) != bos_id, F.lit(True)
        ) & ~is_null
    if eos_id is not None:
        flags["eos_bad"] = F.coalesce(
            F.try_element_at(toks, F.lit(-1)) != eos_id, F.lit(True)
        ) & ~is_null
        flags["interior_eos"] = F.coalesce(
            F.array_position(
                F.slice(toks, 1, F.greatest(tok_len - 1, F.lit(0))), F.lit(eos_id)
            )
            > 0,
            F.lit(False),
        )
    if max_len is not None and n_tok_col is not None:
        flags["too_long"] = F.coalesce(F.col(n_tok_col) > max_len, F.lit(False))

    bad = F.lit(False)
    for name, col in flags.items():
        if name not in ("tok_len", "oov_count"):
            bad = bad | col
    flags["seq_ok"] = ~bad

    return df.withColumns(flags)


# ------------------------------------------- duplicated n-gram coverage ---


def _dup_gram_occurrences(
    df: DataFrame, id_col: str, tokens_col: str, n: int, min_docs: int
) -> DataFrame:
    """Every gram occurrence ``(id, __len, __pos, __g, __rn, __dup,
    __tie)``; ``__dup`` marks a gram found in at least ``min_docs``
    documents.

    The gram table crosses one exchange, on the gram hash: each gram's
    occurrences sorted by ``(id, pos)`` give ``__rn`` (1 is the
    canonical keeper), a change of id starts a new document, and the
    gram's doc count is the sum of those starts, so the table is read
    once and never cached. ``__tie`` marks a row that repeats the
    ``(id, pos)`` before it. Both flags are projected above the count
    window, so a caller's filter on them compiles to one Filter there."""
    # the token array feeds _gram_hashes directly: the per-element
    # xxhash64 pre-pass exists for TEXT grams (hash each word string
    # once); on int tokens the nested transform measured ~6x slower under
    # Spark 4's interpreted higher-order functions (5.6 s -> 1.0 s for the
    # sf0.1 8-gram explode)
    grams = df.select(
        F.col(id_col),
        F.coalesce(F.size(F.col(tokens_col)), F.lit(0)).alias("__len"),
        F.posexplode(_gram_hashes(F.col(tokens_col), n)).alias("__pos", "__g"),
    )
    occ = Window.partitionBy("__g").orderBy(
        F.col(id_col).asc_nulls_last(), F.col("__pos")
    )
    ranked = grams.select(
        "*",
        F.row_number().over(occ).alias("__rn"),
        F.lag(id_col).over(occ).eqNullSafe(F.col(id_col)).alias("__same"),
        F.lag("__pos").over(occ).alias("__pp"),
    )
    new_doc = (F.col("__rn") == 1) | ~F.col("__same")
    # a row repeating the (id, pos) before it comes from a duplicated
    # doc_id: it shares that row's fate, so the canonical (id, pos) stays
    tie = F.col("__same") & (F.col("__pp") == F.col("__pos"))
    return ranked.withColumn(
        "__nd", F.sum(new_doc.cast("int")).over(Window.partitionBy("__g"))
    ).withColumns({"__dup": F.col("__nd") >= min_docs, "__tie": tie})


def _segments(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """Merge the gram intervals ``[pos, min(pos + n, len))`` of ``hits``
    into disjoint ``(id, __s, __e)`` segments: a running max of the
    earlier ends, per id, clips each interval to what they left
    uncovered."""
    end = F.least(F.col("__pos") + n, F.col("__len"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.coalesce(F.max(end).over(w), F.col("__pos"))
    return hits.select(
        F.col(id_col),
        F.greatest(F.col("__pos"), prev_end).alias("__s"),
        end.alias("__e"),
    ).filter(F.col("__e") > F.col("__s"))


def duplicated_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    *,
    n: int = 16,
    min_docs: int = 2,
    n_tok_col: str | None = None,
) -> DataFrame:
    """Per-document duplicated-token coverage (Lee et al. 2022 signal).

    A token position is *duplicated* when it is covered by at least one
    token ``n``-gram occurring in ≥ ``min_docs`` distinct documents.
    Returns ``(id_col, tok_len, dup_tokens, dup_frac)`` for EVERY input
    document (0 coverage included), where ``dup_tokens`` is the exact
    size of the union of the duplicated grams' position intervals —
    overlapping intervals merged by a running-max window, not
    double-counted.

    Gram identity is the hash-combined scheme shared with
    ``token_contamination_flags`` (``xxhash64`` over the n element
    hashes, equality ≡ tuple equality up to 2⁻⁶⁴); a document shorter
    than ``n`` contributes one whole-document gram whose interval is
    clipped to the document, so short exact-duplicate docs are fully
    covered rather than skipped.

    Pass ``n_tok_col`` when a trusted length column exists (the
    north-star table carries ``n_tok``): the all-docs base projection
    then scans only ``(id, n_tok)`` instead of re-reading the token
    arrays to size them.

    A NULL ``id`` counts as one document toward ``min_docs`` (all
    NULL-id rows together) and reports 0 coverage. Ids must be unique:
    rows sharing an id count as one document and share one interval
    union, so each reports the union of all their grams (``dup_tokens``
    can exceed ``tok_len``).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    length = (
        F.coalesce(F.col(n_tok_col).cast("int"), F.lit(0))
        if n_tok_col is not None
        else F.coalesce(F.size(F.col(tokens_col)), F.lit(0))
    )
    base = df.select(F.col(id_col), length.alias("__len"))
    hits = _dup_gram_occurrences(df, id_col, tokens_col, n, min_docs).filter(
        F.col("__dup")
    )
    cov = (
        _segments(hits, id_col, n)
        .groupBy(id_col)
        .agg(F.sum(F.col("__e") - F.col("__s")).alias("__dup"))
    )
    return base.join(cov, id_col, "left").select(
        F.col(id_col),
        F.col("__len").alias("tok_len"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(
            F.col("__len") > 0,
            F.coalesce(F.col("__dup"), F.lit(0)).cast("double") / F.col("__len"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    *,
    n: int = 16,
    min_docs: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (the edit step of Lee
    et al. 2022 — :func:`duplicated_ngram_coverage` is the matching
    measurement): delete from every document the token positions covered
    by a duplicated ``n``-gram occurrence, keeping ONE canonical
    occurrence per gram (the first by ``(doc_id, pos)``). The guarantee
    is per GRAM, not per run: each duplicated ``n``-gram survives at its
    first ``(doc_id, pos)`` occurrence. When the overlapping grams of one
    repeated run have canonical occurrences in *different* documents
    (possible with interleaved duplicate content), every copy of the run
    can be partially shredded — no single intact copy is promised, only
    that no gram disappears from the corpus entirely.

    Returns one row per input document: ``(id, *keep_cols, tokens_col,
    tok_len, n_removed)`` where ``tokens_col`` is the rebuilt array
    (original order, removed spans cut out), ``tok_len`` the ORIGINAL
    length. Documents with nothing to remove (including NULL-token
    docs) pass through unchanged.

    Shape at scale: the gram explode is shared machinery with the
    coverage operator (hash-combined grams, never materialized strings);
    the gram table crosses ONE exchange, keyed on the gram hash, where a
    window over each gram's occurrences picks the canonical one and
    counts the gram's documents; the running-max window converts
    overlapping hit intervals into disjoint segments, so the per-doc
    segment list is bounded by ``len/1`` worst-case but tiny in
    practice; the ONE shuffle of token arrays is the final ``id``-keyed
    join that pairs each doc with its segment list for the rebuild
    (rewriting content requires touching it exactly once). The rebuild
    itself is a per-row fold over the segment list (interpreted HOF —
    acceptable: it runs once per *rewritten* document, not per token).

    A NULL ``id`` counts as one document toward ``min_docs`` (all NULL-id
    rows together, as ``groupBy`` keys them), never holds a canonical
    occurrence, and its documents pass through unchanged. Ids must be
    unique: rows sharing an id count as one document and share one
    segment list, so a span cut from one is cut from each (``n_removed``
    can exceed ``tok_len``)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    hits = _dup_gram_occurrences(df, id_col, tokens_col, n, min_docs).filter(
        F.col("__dup")
        & (F.col("__rn") > 1)
        & ~F.col("__tie")
        & F.col(id_col).isNotNull()
    )
    segs = (
        _segments(hits, id_col, n)
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__s"), F.col("__e")))
            ).alias("__segs"),
            F.sum(F.col("__e") - F.col("__s")).alias("__removed"),
        )
    )
    toks = F.col(tokens_col)
    # fold the disjoint, sorted segment list into the kept-gap concat:
    # acc = (end of last removed segment, tokens kept so far)
    tok_type = df.schema[tokens_col].dataType.simpleString()
    init = F.struct(
        F.lit(0).cast("int").alias("last"),
        F.array().cast(tok_type).alias("acc"),
    )
    rebuilt = F.aggregate(
        F.col("__segs"),
        init,
        lambda a, s: F.struct(
            s["__e"].cast("int").alias("last"),
            F.concat(
                a["acc"],
                F.slice(
                    toks,
                    a["last"] + 1,
                    F.greatest(s["__s"] - a["last"], F.lit(0)),
                ),
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"],
            F.slice(
                toks,
                a["last"] + 1,
                F.greatest(F.size(toks) - a["last"], F.lit(0)),
            ),
        ),
    )
    return df.join(segs, id_col, "left").select(
        F.col(id_col),
        *keep_cols,
        F.when(F.col("__segs").isNull(), toks)
        .otherwise(rebuilt)
        .alias(tokens_col),
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("tok_len"),
        F.coalesce(F.col("__removed"), F.lit(0)).cast("long").alias("n_removed"),
    )


# ----------------------------------------------------- sequence packing ---


def pack_sequences(
    df: DataFrame,
    *,
    capacity: int,
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    shards: int = 64,
    seed: int = 42,
    order_col: str | None = None,
) -> DataFrame:
    """Greedy next-fit packing of sequences into fixed-``capacity`` bins.

    Each sequence is hashed to one of ``shards`` independent shards
    (md5 content hash — deterministic under any partitioning, and
    replayable by any SQL engine), ordered within its shard by
    ``(order_col, id_col)`` (default ``id_col``; the id tie-break keeps
    the layout partitioning-invariant when ``order_col`` has duplicate
    values), and packed next-fit: a sequence
    joins the current bin if it fits, else opens a new bin. A sequence
    longer than ``capacity`` gets a bin of its own and is flagged
    ``oversize`` (truncation policy is the caller's).

    Returns ``(id_col, n_tok, shard, bin, offset, oversize)`` — ``bin``
    is per-shard (a global id is ``shard * 2^40 + bin`` if needed),
    ``offset`` is the sequence's start position inside its bin. Rows
    with NULL ``n_tok`` are excluded (validate first).

    Sequential-looking but scale-free: packing is independent per shard
    (pick ``shards`` ≈ cluster cores × small constant), only
    ``(id, n_tok, order)`` triples shuffle — token arrays never move —
    and the per-shard Arrow batch is packed by an O(#bins) cumsum +
    ``searchsorted`` loop (each step closes one whole bin with numpy
    slice assignment), not a per-row Python loop.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    ordc = order_col or id_col
    slim = df.filter(F.col(n_tok_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(n_tok_col).cast("long").alias("__n"),
        F.col(ordc).alias("__ord"),
        F.pmod(sample_hash(F.col(id_col), seed), F.lit(shards))
        .cast("int")
        .alias("shard"),
    )

    id_type = slim.schema["__id"].dataType.simpleString()
    out_schema = (
        f"__id {id_type}, __n bigint, shard int, bin bigint, offset bigint, "
        "oversize boolean"
    )

    def _pack(pdf):
        import numpy as np
        import pandas as pd

        # tie-break equal __ord values by id: a stable sort alone would
        # inherit the Arrow batch's row order, which depends on upstream
        # partitioning — breaking the documented "deterministic under any
        # partitioning" contract whenever order_col has duplicates
        pdf = pdf.sort_values(["__ord", "__id"], kind="mergesort").reset_index(
            drop=True
        )
        L = pdf["__n"].to_numpy(dtype="int64")
        C = np.cumsum(L)
        bins = np.empty(len(L), dtype="int64")
        offs = np.empty(len(L), dtype="int64")
        start, b, base = 0, 0, 0
        while start < len(L):
            j = int(np.searchsorted(C, base + capacity, side="right"))
            if j <= start:  # first item alone exceeds capacity: own bin
                j = start + 1
            bins[start:j] = b
            offs[start:j] = C[start:j] - L[start:j] - base
            base = int(C[j - 1])
            b += 1
            start = j
        return pd.DataFrame(
            {
                "__id": pdf["__id"],
                "__n": pdf["__n"],
                "shard": pdf["shard"],
                "bin": bins,
                "offset": offs,
                "oversize": L > capacity,
            }
        )

    packed = slim.groupBy("shard").applyInPandas(_pack, out_schema)
    return packed.select(
        F.col("__id").alias(id_col),
        F.col("__n").alias(n_tok_col),
        "shard",
        "bin",
        "offset",
        "oversize",
    )


# ------------------------------------------------ token-budget sampling ---


def mixture_rates(
    df: DataFrame,
    *,
    budget_tokens: float,
    shares: Mapping[str, float],
    source_col: str = "source",
    n_tok_col: str = "n_tok",
) -> dict[str, float]:
    """Per-source keep rates to hit a token budget with target shares.

    ``rate_s = min(1, budget_tokens * shares[s] / tokens_s)`` — the
    deterministic DoReMi-style mixture step: sources over their share
    are down-sampled, sources at or under it are kept whole (rates are
    never boosted above 1; re-weighting upward is an epoch-repetition
    concern, not a sampling one). Sources absent from ``shares`` get
    rate 0. One tiny aggregate job (K sources, collected).
    """
    totals = {
        r["s"]: r["t"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(F.col(n_tok_col)).alias("t"))
        .collect()
        if r["s"] is not None and r["t"]
    }
    return {
        s: min(1.0, budget_tokens * share / totals[s])
        for s, share in shares.items()
        if totals.get(s)
    }


def materialize_packed_bins(
    df: DataFrame,
    packed: DataFrame,
    *,
    capacity: int,
    pad_id: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    copartition: bool = False,
    shards: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Materialize :func:`pack_sequences`' layout into training rows:
    one row per ``(shard, bin)`` with the member token arrays
    concatenated in offset order and padded to exactly ``capacity``
    with ``pad_id``. Only a single-doc ``oversize`` bin can exceed the
    capacity — it is truncated to ``capacity`` and flagged
    (``pack_sequences`` leaves the truncation policy to this step).

    Returns ``(shard, bin, tokens_col[capacity], n_seqs, fill,
    doc_ids, seq_lens, truncated)`` — ``doc_ids``/``seq_lens`` carry
    the document boundaries an attention mask / sequence-id tensor
    needs (offsets are their exclusive prefix sums, not re-emitted);
    ``fill`` is the pre-pad token count (uncapped, so a truncated bin
    reports what it lost).

    Shape at scale: with the default ``copartition=False`` the token
    arrays cross the id-keyed layout join (a broadcast at gate scale; at
    corpus scale the one-row-per-doc layout side is too big to broadcast,
    making the join the first of TWO array-carrying shuffles) and the
    ``(shard, bin)`` groupBy. ``copartition=True`` (pass the SAME
    ``shards``/``seed`` as the ``pack_sequences`` call) is the corpus-
    scale path: the shard id is re-derived from ``id_col`` on BOTH sides
    (it is a pure function of the id), both sides repartition on it, the
    layout joins as a shuffled-hash build side with no new exchange, and
    the ``(shard, bin)`` aggregate reuses the shard partitioning — token
    arrays cross EXACTLY ONE exchange end to end (requires the session
    default ``spark.sql.requireAllClusterKeysForCoPartition=false`` so
    the planner accepts the shard-subset co-partitioning; see
    ``session.get_spark``). Per-group aggregate state is bounded by
    ``capacity`` tokens (+ the one oversize doc) either way — no bin can
    blow a task. The in-row concat/pad expressions run once per
    BIN, not per token (interpreted HOFs off the hot path — the
    ``remove_duplicated_spans`` rebuild precedent). A NULL token array
    poisons its bin's ``tokens`` to NULL rather than silently emitting
    a wrong row — validate with :func:`token_sequence_flags` first.
    """
    if copartition:
        if shards is None:
            raise ValueError(
                "copartition=True needs the pack_sequences shard count "
                "(pass shards=<same value>, and seed if non-default)"
            )
        if shards < 1:
            raise ValueError(f"shards must be >= 1, got {shards}")
        shard_of = (
            F.pmod(sample_hash(F.col(id_col), seed), F.lit(shards))
            .cast("int")
            .alias("shard")
        )
        lay = (
            packed.select(id_col, "bin", "offset")
            .withColumn("shard", shard_of)
            .repartition(F.col("shard"))
        )
        corp = (
            df.select(id_col, tokens_col)
            .withColumn("shard", shard_of)
            .repartition(F.col("shard"))
        )
        j = lay.hint("shuffle_hash").join(corp, ["shard", id_col])
    else:
        j = packed.select(id_col, "shard", "bin", "offset").join(
            df.select(id_col, tokens_col), id_col
        )
    members = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("offset").alias("o"),
                F.col(id_col).alias("i"),
                F.col(tokens_col).alias("t"),
            )
        )
    )
    # materialize the concat as a REAL projection column before slicing /
    # sizing it (SPARK-36718: multiply-referenced non-cheap aliases would
    # otherwise inline the whole flatten per reference)
    withm = (
        j.groupBy("shard", "bin")
        .agg(members.alias("__m"), F.count(F.lit(1)).alias("n_seqs"))
        .select(
            "shard",
            "bin",
            "n_seqs",
            F.transform(F.col("__m"), lambda m: m["i"]).alias("doc_ids"),
            F.transform(F.col("__m"), lambda m: F.size(m["t"])).alias("seq_lens"),
            F.flatten(F.transform(F.col("__m"), lambda m: m["t"])).alias("__body"),
        )
    )
    fill = F.size(F.col("__body"))
    elem_type = df.schema[tokens_col].dataType.elementType.simpleString()
    padded = F.concat(
        F.slice(F.col("__body"), 1, capacity),
        F.array_repeat(
            F.lit(pad_id).cast(elem_type),
            F.greatest(F.lit(capacity) - fill, F.lit(0)),
        ),
    )
    return withm.select(
        "shard",
        "bin",
        padded.alias(tokens_col),
        "n_seqs",
        fill.cast("long").alias("fill"),
        "doc_ids",
        "seq_lens",
        (fill > capacity).alias("truncated"),
    )


def token_budget_sample(
    df: DataFrame,
    *,
    budget_tokens: float,
    shares: Mapping[str, float],
    source_col: str = "source",
    n_tok_col: str = "n_tok",
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministically sample ``df`` down to ≈``budget_tokens`` with
    per-source target ``shares`` (see :func:`mixture_rates`).

    Selection is the md5 hash-threshold filter of
    ``operators.sampling`` — stable under repartitioning and appends,
    nested across budgets for one seed (a bigger budget's sample is a
    superset), and bit-replayable by the DuckDB oracle: the threshold
    is ``int(rate * 2^32)`` where ``rate`` is the same IEEE-double
    expression both engines evaluate.
    """
    rates = mixture_rates(
        df,
        budget_tokens=budget_tokens,
        shares=shares,
        source_col=source_col,
        n_tok_col=n_tok_col,
    )
    thr: Column = F.lit(0)
    for s, rate in sorted(rates.items()):
        thr = F.when(
            F.col(source_col) == s, F.lit(int(rate * _HASH_SPAN))
        ).otherwise(thr)
    return df.where(sample_hash(key_col, seed) < thr)
