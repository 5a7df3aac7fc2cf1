"""Deterministic synthetic token table (BASELINE.json input_hint / FIXTURES.md F1).

Generates ``(doc_id string, tokens array<int32>, n_tok int32, source string)``
entirely JVM-side from ``spark.range`` + hash expressions — a pure function of
(row id, seed), no Python per row, no driver-side data. The same code
generates identical rows at any parallelism, which is what makes the
two-parallelism scaling benchmark apples-to-apples.

The "dirty" variant injects violations at deterministic row positions so
expected verdict counts are exactly computable (see ``expected_dirty_counts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "SOURCES",
    "VOCAB_SIZE",
    "MAX_TOK",
    "token_table",
    "source_dim",
    "token_schema",
    "expected_dirty_counts",
]

# hot-key distribution: "web" ≈ 70% (FIXTURES.md F1)
SOURCES = ("web", "books", "code", "wiki", "academic")
VOCAB_SIZE = 50257
MAX_TOK = 8192

# deterministic injection moduli (dirty variant)
_M_NULL_DOC = 997      # doc_id → NULL
_M_DUP_DOC = 991       # doc_id duplicates the previous row's
_M_BAD_NTOK = 983      # n_tok out of range (0 or > MAX_TOK)
_M_BAD_SRC = 977       # unknown source value
_M_BAD_LEN = 967       # size(tokens) != n_tok  (cross-column violation)
_M_BAD_ELEM = 953      # a token id outside [0, VOCAB_SIZE)


def _u(col, seed: int, salt: int):
    """Deterministic uniform double in [0,1) from (id, seed, salt)."""
    h = F.xxhash64(col, F.lit(seed), F.lit(salt))
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def token_table(
    spark: SparkSession,
    n_rows: int,
    *,
    dirty: bool = False,
    seed: int = 42,
    mean_scale: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build the token table.

    ``n_tok`` is log-uniform in [1, mean_scale] (mean ≈ mean_scale/ln(mean_scale)),
    capped at MAX_TOK. ``tokens`` has exactly ``n_tok`` elements, each
    ``xxhash64(id, seed, pos) mod VOCAB_SIZE`` — per-row token-array equality
    (the ground-truth invariant) holds for any reader that recomputes the same
    pure function.
    """
    rng = spark.range(0, n_rows, numPartitions=num_partitions)
    i = F.col("id")

    u_len = _u(i, seed, 1)
    n_tok = F.least(
        F.greatest(
            F.floor(F.pow(F.lit(float(mean_scale)), u_len)).cast("int"), F.lit(1)
        ),
        F.lit(MAX_TOK),
    )

    u_src = _u(i, seed, 2)
    source = (
        F.when(u_src < 0.70, SOURCES[0])
        .when(u_src < 0.80, SOURCES[1])
        .when(u_src < 0.88, SOURCES[2])
        .when(u_src < 0.95, SOURCES[3])
        .otherwise(SOURCES[4])
    )

    doc_id = F.format_string("doc-%012d", i)

    df = rng.select(
        i,
        doc_id.alias("doc_id"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )

    if dirty:
        df = (
            df.withColumn(
                "doc_id",
                F.when((i > 0) & (F.pmod(i, _M_NULL_DOC) == 0), F.lit(None))
                .when(
                    (i > 0) & (F.pmod(i, _M_DUP_DOC) == 0),
                    F.format_string("doc-%012d", i - 1),
                )
                .otherwise(F.col("doc_id")),
            )
            .withColumn(
                "n_tok",
                F.when(
                    (i > 0) & (F.pmod(i, _M_BAD_NTOK) == 0),
                    F.when(F.pmod(i, 2) == 0, F.lit(0)).otherwise(F.lit(MAX_TOK + 7)),
                ).otherwise(F.col("n_tok")),
            )
            .withColumn(
                "source",
                F.when((i > 0) & (F.pmod(i, _M_BAD_SRC) == 0), F.lit("junk")).otherwise(
                    F.col("source")
                ),
            )
        )

    # tokens: array of exactly n_tok hashes — JVM-side sequence+transform,
    # stays inside codegen; ~0 bytes cross the Python boundary.
    gen_len = F.greatest(F.least(F.col("n_tok"), F.lit(MAX_TOK)), F.lit(1))
    if dirty:
        gen_len = F.when(
            (i > 0) & (F.pmod(i, _M_BAD_LEN) == 0), gen_len + 1
        ).otherwise(gen_len)
    tokens = F.transform(
        F.sequence(F.lit(0), gen_len - 1),
        lambda pos: F.pmod(F.xxhash64(i, F.lit(seed), pos), F.lit(VOCAB_SIZE)).cast("int"),
    )
    if dirty:
        tokens = F.when(
            (i > 0) & (F.pmod(i, _M_BAD_ELEM) == 0),
            F.concat(F.slice(tokens, 1, 1), F.array(F.lit(VOCAB_SIZE + 5).cast("int"))),
        ).otherwise(tokens)

    return df.select(
        "doc_id", tokens.alias("tokens"), F.col("n_tok").cast("int").alias("n_tok"), "source"
    )


def source_dim(spark: SparkSession) -> DataFrame:
    """The allowed-values dimension table for the referential check. It is a
    ``VALUES`` relation planned in the JVM, not a Python RDD, so reading its
    keys runs locally on the driver and starts no job."""
    rows = ", ".join(f"('{s}')" for s in SOURCES)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(source)")


def token_schema():
    """The ValidationSchema for the token table (north-star check suite)."""
    from .plans.schema import SchemaBuilder

    return (
        SchemaBuilder("tokens")
        .column("doc_id", "str", nullable=False, unique=True, pattern=r"^doc-\d{12}$")
        .column(
            "tokens",
            "array<int>",
            nullable=False,
            element_ge=0,
            element_lt=VOCAB_SIZE,
        )
        .column("n_tok", "int", nullable=False, ge=1, le=MAX_TOK)
        .column("source", "str", nullable=False, isin=list(SOURCES))
        .cross_column_check("tokens_len_matches", sql="size(tokens) = n_tok")
        .build()
    )


def expected_dirty_counts(n_rows: int) -> dict[str, int]:
    """Exact expected violation counts for the dirty variant at ``n_rows``.

    Derived from the injection moduli; collisions between injections are
    resolved in the same order as the generator's ``when`` chains.
    """
    def hits(m: int) -> list[int]:
        return [i for i in range(1, n_rows) if i % m == 0]

    null_doc = set(hits(_M_NULL_DOC))
    dup_src = set(hits(_M_DUP_DOC)) - null_doc  # null wins the when-chain
    bad_ntok = set(hits(_M_BAD_NTOK))
    bad_src = set(hits(_M_BAD_SRC))
    bad_len = set(hits(_M_BAD_LEN))
    bad_elem = set(hits(_M_BAD_ELEM))
    # a dup row makes BOTH rows (i and i-1) members of a duplicate key,
    # UNLESS row i-1 had its own doc_id nulled (i % 991 == 0 with
    # (i-1) % 997 == 0 — first at i = 164,506 by CRT): then the duplicate
    # pair never forms, because the only other holder of that doc_id is gone.
    dup_members = set()
    for i in sorted(dup_src):
        if (i - 1) in null_doc:
            continue
        dup_members.add(i)
        dup_members.add(i - 1)
    # n_tok range: even multiples → 0 (fails ge), odd → MAX_TOK+7 (fails le)
    ge_fail = {i for i in bad_ntok if i % 2 == 0}
    le_fail = bad_ntok - ge_fail
    # bad_len rows emit n_tok+1 tokens; bad_elem rows emit 2 tokens with one
    # out-of-range element (length also ≠ n_tok unless n_tok was 2... counted
    # separately below in tokens_len). element failures:
    elem_fail = bad_elem
    return {
        "doc_id__not_null": len(null_doc),
        "doc_id__unique": len(dup_members),
        "n_tok__ge": len(ge_fail),
        "n_tok__le": len(le_fail),
        "source__isin": len(bad_src),
        "tokens__element_range": len(elem_fail),
    }
