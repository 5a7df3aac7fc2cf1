"""Text-analysis operators for training-data pipelines: token counting,
language identification, quality scoring, document fingerprinting.

No reference analogue (the reference validates tabular frames only) — these
are the large-scale corpus operators the task brief requires as first-class
components. Everything here is a pure ``pyspark.sql.Column`` expression
(whole-stage codegen, no Python in the hot path); table-level wrappers
return annotated DataFrames.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from operator import and_
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "words",
    "shingle_hashes",
    "token_count_whitespace",
    "token_count_regex",
    "language_id",
    "quality_features",
    "quality_score",
    "repetition_scores",
    "pii_counts",
    "redact_pii",
    "compression_ratio",
    "fingerprint",
    "extract_urls",
    "extract_domains",
    "url_flags",
    "gopher_quality_flags",
    "unigram_lm",
    "unigram_doc_scores",
    "GramClassifier",
    "train_gram_classifier",
    "score_gram_classifier",
    "DsirModel",
    "fit_dsir",
    "fit_resample_dsir",
    "dsir_log_weights",
    "dsir_resample",
]

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# language marker sets (disjoint across languages; ASCII-only tokens so the
# Java-regex and RE2 \b word boundaries agree; deterministic heuristic)
_LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|was|with)\b",
    "es": r"\b(el|los|las|que|una|por|como)\b",
    "fr": r"\b(le|les|et|dans|une|pour|avec)\b",
    "de": r"\b(der|die|das|und|ist|ein|nicht)\b",
    "it": r"\b(il|che|della|sono|anche|gli|nel)\b",
    "pt": r"\b(uma|mais|muito|quando|isso|ele|dos)\b",
    "nl": r"\b(het|een|van|niet|voor|ook|maar)\b",
}
# script-range short-circuits, checked IN ORDER before the marker vote:
# kana before CJK (Japanese mixes kanji with kana; pure-ideograph text is
# classified zh), hangul before CJK (hanja is rare), the rest are mutually
# exclusive scripts. All ranges are BMP literals both Java regex and RE2
# interpret identically.
_SCRIPT_LANGS: tuple[tuple[str, str], ...] = (
    ("ja", r"[ぁ-ゖァ-ヺー]"),   # hiragana + katakana + prolonged mark
    ("ko", r"[가-힣]"),          # hangul syllables
    ("zh", r"[一-鿿]"),          # CJK unified ideographs
    ("ru", r"[Ѐ-ӿ]"),           # Cyrillic
    ("ar", r"[؀-ۿ]"),           # Arabic
    ("hi", r"[ऀ-ॿ]"),           # Devanagari
    ("el", r"[Ͱ-Ͽ]"),           # Greek
    ("he", r"[֐-׿]"),           # Hebrew
)
_CJK = r"[一-鿿]"

_STOPWORDS_RE = (
    r"\b(the|a|an|and|or|of|to|in|is|it|that|for|on|as|with|was|at|by)\b"
)

# character sets for translate()-based counting (round 7): counting the
# characters OUTSIDE a class via length(translate(c, class_chars, '')) is a
# per-character codegen pass; regexp_count('[^...]') walks the regex engine
# once per MATCH and measured 2.3x slower on punctuation-dense text
# (1.23s -> 0.54s at sf1.0). Java's \s is exactly [ \t\n\x0b\f\r].
_WS_CHARS = " \t\n\x0b\x0c\r"
_ALNUM_WS_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789" + _WS_CHARS
)
_DIGIT_CHARS = "0123456789"
_UPPER_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _count_outside(c: Column, keep_chars: str) -> Column:
    """Number of characters of ``c`` NOT in ``keep_chars`` — equivalent to
    ``regexp_count(c, '[^<keep>]')`` (both count code points) at a fraction
    of the cost."""
    return F.length(F.translate(c, keep_chars, ""))


def _count_inside(c: Column, chars: str) -> Column:
    """Number of characters of ``c`` in ``chars`` — equivalent to
    ``regexp_count(c, '[<chars>]')``."""
    return F.length(c) - F.length(F.translate(c, chars, ""))

# rolling-hash parameters: two independent 31-bit folds combined into one
# 62-bit fingerprint. Each fold keeps acc < 2^31, so acc·base + h < 2^52 —
# never overflows a long (ANSI mode, the Spark 4 default, aborts on overflow).
_FP_MOD1 = 2147483647   # 2^31 - 1 (Mersenne)
_FP_MOD2 = 2147483629   # prime < 2^31
_FP_BASE1 = 1000003
_FP_BASE2 = 999983


def words(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace word split (empty string → empty array, not [''])."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")


def _gram_hashes(whh: Column, k: int) -> Column:
    """k-gram hashes from a word-hash array column: gram i =
    ``xxhash64(whh[i], …, whh[i+k-1])``. ``try_element_at`` past the end is
    NULL and xxhash64 SKIPS null children, so a doc shorter than k words
    yields one whole-doc hash over its actual words — mirroring the string
    ``shingles``'s single short-doc gram. Two grams collide iff their word
    sequences are equal (up to a vanishing 2^-64 hash collision), so every
    equality-based consumer (banding, set Jaccard, repetition counts) sees
    the same sets as the string form."""
    n = F.size(whh)
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(*[F.try_element_at(whh, i + F.lit(j)) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def shingle_hashes(text: Column | str, k: int = 5) -> Column:
    """Word k-gram shingle array as 8-byte HASHES — the corpus-scale gram
    representation (round 4): each word is hashed once, each gram hash
    combines k word hashes, so no gram STRING is ever materialized. The
    round-3 ``shingles`` + ``xxhash64(gram)`` path built every gram string
    with ``concat_ws(slice(words))`` — measured 3x slower at sf0.1 purely
    on string allocation. Gram equality matches ``dedup.shingles`` exactly,
    so oracles replaying string grams stay valid; only the internal hash
    VALUES differ (scheme: ``xxhash64(xxhash64(w_i), …)`` instead of
    ``xxhash64(concat)``)."""
    return _gram_hashes(F.transform(words(text), lambda w: F.xxhash64(w)), k)


def repetition_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Intra-document repetition signals (the Gopher-style repetition
    filters a training-data pipeline gates on):

    * ``repetition_ratio`` — 1 − distinct/total word n-grams: near 0 for
      natural prose, near 1 for looping/boilerplate text;
    * ``dup_line_frac`` — fraction of non-empty lines that are duplicates
      of an earlier line (boilerplate/navigation pages).

    One pass, no shuffle: both signals are per-row expressions over the
    gram-hash and line arrays (grams via the word-hash scheme — no gram
    strings), so the operator composes into any scan. The word-hash and
    gram arrays are MATERIALIZED projections (one evaluation per row) — a
    single inlined expression would re-evaluate the word hashes once per
    gram, O(words²) per doc (measured 26s → 1s at sf0.1). Docs with no
    words get ratio 0 (nothing repeats). ``keep_cols`` carries extra input
    columns through (e.g. the stratum for a per-source aggregate) so
    callers never need a join-back on ``id_col`` — a shuffle at corpus
    scale. Returns (id, *keep_cols, n_grams, n_distinct_grams,
    repetition_ratio, dup_line_frac)."""
    # single-arg lambda on purpose: F.trim itself has an optional second
    # parameter, so passing it bare would receive the element INDEX as the
    # trim-characters argument (the F.transform arity dispatch, CLAUDE.md)
    lines = F.filter(
        F.transform(
            F.split(F.col(text_col) if isinstance(text_col, str) else text_col, "\n"),
            lambda l: F.trim(l),
        ),
        lambda l: l != "",
    )
    keep = [F.col(c) for c in keep_cols]
    staged = df.select(
        F.col(id_col),
        *keep,
        F.transform(words(text_col), lambda w: F.xxhash64(w)).alias("__whh"),
        lines.alias("__lines"),
    ).select(
        F.col(id_col),
        *keep,
        _gram_hashes(F.col("__whh"), n).alias("__gh"),
        F.col("__lines"),
    )
    n_grams = F.size("__gh")
    n_distinct = F.size(F.array_distinct("__gh"))
    n_lines = F.size("__lines")
    rep = F.when(
        n_grams > 0, 1.0 - n_distinct.cast("double") / n_grams
    ).otherwise(F.lit(0.0))
    dlf = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct("__lines")).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    return staged.select(
        F.col(id_col),
        *keep,
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct_grams"),
        F.round(rep, 4).alias("repetition_ratio"),
        F.round(dlf, 4).alias("dup_line_frac"),
    )


def token_count_whitespace(text: Column | str) -> Column:
    return F.size(words(text, lowercase=False))


def token_count_regex(text: Column | str, pattern: str = BPE_REGEX) -> Column:
    """BPE-ish token count via regexp_count — a cheap, deterministic proxy
    for subword token budgets at corpus scale."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(pattern))


def language_id(text: Column | str) -> Column:
    """Language ID over 15 languages, pure codegen expressions (no model,
    no UDF — the highest-frequency gate of a multilingual pipeline must be
    a per-row expression at 10^12 docs).

    Two tiers: (1) script-range short-circuits in ``_SCRIPT_LANGS`` order —
    ja (kana), ko (hangul), zh (CJK ideographs), ru (Cyrillic), ar
    (Arabic), hi (Devanagari), el (Greek), he (Hebrew) — one cheap
    ``rlike`` each (first match wins, no counting); then (2) a marker-word
    vote over the Latin-script languages {en, es, fr, de, it, pt, nl}: the
    language with the most marker hits wins, ties break to the
    lexicographically LARGEST code via struct-max on (hits, code) —
    deterministic and SQL-expressible (the DuckDB oracle replays it with a
    rank window). Returns 'und' when nothing matches, NULL for NULL text.
    """
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    scored = F.array(
        *[
            F.struct(
                F.regexp_count(c, F.lit(pat)).alias("hits"),
                F.lit(code).alias("code"),
            )
            for code, pat in sorted(_LANG_MARKERS.items())
        ]
    )
    # ONE evaluation of the 7-scan marker array: array_max over the
    # positive-hit subset is NULL when nothing matched (-> 'und') and equals
    # the overall struct-max otherwise (any positive (hits, code) orders
    # above every zero). The round-6 form referenced best['hits'] in the
    # CaseWhen condition and best['code'] in its value — two full
    # evaluations of all 7 regexp_counts per Latin-script row (measured:
    # langid 6.5s -> 3.6s at sf1.0).
    best = F.array_max(F.filter(scored, lambda s: s["hits"] > 0))
    marker_pick = F.coalesce(best["code"], F.lit("und"))
    # script probes only run when the text has ANY non-ASCII character (one
    # cheap class scan); every script range is non-ASCII, so pure-ASCII rows
    # can never match a script probe and skip all 8 rlikes.
    script_pick = F.lit(None).cast("string")
    for code, pat in reversed(_SCRIPT_LANGS):
        script_pick = F.when(c.rlike(pat), F.lit(code)).otherwise(script_pick)
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(
            c.rlike(r"[^\x00-\x7F]"), F.coalesce(script_pick, marker_pick)
        )
        .otherwise(marker_pick)
    )


def quality_features(text: Column | str) -> dict[str, Column]:
    """Deterministic quality signals (length / punctuation / stopword ratios)."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    ws = words(c)
    n_words = F.size(ws)
    safe_words = F.greatest(n_words, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    # round 7: class-counting regexp_counts -> translate() passes (2.3x on
    # punctuation; see _count_outside) and the per-word interpreted
    # sum-of-lengths fold -> "non-whitespace chars of the lowercased text"
    # (identical by construction: the words are exactly the non-\s runs).
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": (
            _count_outside(F.lower(c), _WS_CHARS).cast("double") / safe_words
        ),
        "stopword_ratio": F.regexp_count(F.lower(c), F.lit(_STOPWORDS_RE)).cast("double")
        / safe_words,
        "punct_ratio": _count_outside(c, _ALNUM_WS_CHARS).cast("double")
        / safe_chars,
        "upper_ratio": _count_inside(c, _UPPER_CHARS).cast("double") / safe_chars,
        "digit_ratio": _count_inside(c, _DIGIT_CHARS).cast("double") / safe_chars,
    }


def quality_score(text: Column | str) -> Column:
    """Blend of quality signals → [0, 1]. Heuristic but deterministic:
    rewards natural word length (3-8 chars), presence of stopwords, and
    penalizes punctuation/digit/upper saturation and extreme shortness."""
    f = quality_features(text)
    len_ok = F.when(
        (f["mean_word_len"] >= 3.0) & (f["mean_word_len"] <= 8.0), F.lit(1.0)
    ).otherwise(F.lit(0.4))
    short_pen = F.when(f["n_words"] >= 20, F.lit(1.0)).otherwise(
        f["n_words"].cast("double") / 20.0
    )
    stop_ok = F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
    noise = F.greatest(
        F.lit(0.0), F.lit(1.0) - (f["punct_ratio"] + f["digit_ratio"]) * 2.0
    )
    score = 0.3 * len_ok + 0.25 * short_pen + 0.2 * stop_ok + 0.25 * noise
    return F.round(score, 4)


# PII patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): no lookarounds, ASCII \b word boundaries, explicit classes.
# Order matters for redaction: SSN before phone (overlapping digit shapes).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII occurrence counts (email / ssn / phone / ipv4) as pure
    ``regexp_count`` expressions — codegen, no UDF, and the patterns are
    RE2-portable so a SQL oracle counts the identical matches. Heuristic
    surface patterns (the corpus-hygiene gate), not a compliance scanner."""
    c = F.col(text) if isinstance(text, str) else text
    return {k: F.regexp_count(c, F.lit(p)) for k, p in PII_PATTERNS.items()}


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with ``[KIND]`` — a chained global
    ``regexp_replace`` (one codegen projection; order = PII_PATTERNS order,
    SSN before phone so the more specific shape wins)."""
    c = F.col(text) if isinstance(text, str) else text
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


def compression_ratio(text: Column | str, level: int = 6) -> Column:
    """zlib-compressed size / raw UTF-8 size — the classic boilerplate
    detector (natural prose ≈ 0.4-0.7; looping/templated text ≪ that;
    already-compressed or random data ≈ 1). Arrow-batched pandas UDF (zlib
    is not expressible in Spark SQL); the per-row work is C-speed zlib, so
    the batch transfer dominates — acceptable for a gating signal computed
    once per doc. NULL text → NULL; empty text → 1.0 (incompressible by
    convention, so empty docs aren't flagged as repetitive)."""
    c = F.col(text) if isinstance(text, str) else text

    @F.pandas_udf("double")
    def _ratio(s):
        import zlib

        import pandas as pd

        out = []
        for v in s:
            if v is None:
                out.append(None)
            else:
                raw = v.encode("utf-8")
                out.append(
                    round(len(zlib.compress(raw, level)) / len(raw), 6)
                    if raw
                    else 1.0
                )
        return pd.Series(out, dtype="float64")

    return _ratio(c)


def fingerprint(text: Column | str) -> Column:
    """Order-sensitive rolling polynomial hash over lowercased words
    (Karp-Rabin style): two independent 31-bit folds packed into a 62-bit
    fingerprint. Identical word sequences collide; any edit almost surely
    does not (collision odds ~2^-62 per pair)."""
    ws = words(text)
    folded = F.aggregate(
        ws,
        F.struct(F.lit(0).cast("long").alias("a"), F.lit(0).cast("long").alias("b")),
        lambda acc, w: F.struct(
            F.pmod(
                acc["a"] * F.lit(_FP_BASE1) + F.pmod(F.xxhash64(w), F.lit(_FP_MOD1)),
                F.lit(_FP_MOD1),
            ).alias("a"),
            F.pmod(
                acc["b"] * F.lit(_FP_BASE2) + F.pmod(F.xxhash64(F.lit(1), w), F.lit(_FP_MOD2)),
                F.lit(_FP_MOD2),
            ).alias("b"),
        ),
    )
    return F.shiftleft(folded["a"], 31).bitwiseXOR(folded["b"])


# ------------------------------------------------- URL / domain hygiene ----
# portable across Java regex (Spark) and RE2 (DuckDB): no lookarounds, no \s
# shorthand inside classes, explicit path charset (quotes excluded so the
# pattern embeds in SQL string literals unescaped)
URL_REGEX = r"https?://[A-Za-z0-9.-]+(:[0-9]+)?(/[A-Za-z0-9._~:/?#@!$&*+,;=%-]*)?"
_DOMAIN_REGEX = r"https?://([A-Za-z0-9.-]+)"


def extract_urls(text: Column | str) -> Column:
    """Every http(s) URL in the text, in order — codegen
    ``regexp_extract_all`` (group 0, the full match)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(URL_REGEX), 0)


def extract_domains(text: Column | str, lowercase: bool = True) -> Column:
    """Distinct registrable hosts referenced by the text (scheme and port
    stripped, lowercased by default) — the key the standard domain
    block/allow-list corpus gate (RefinedWeb's URL filtering stage) joins
    on. Trailing '.'/'-' are stripped from the host: the URL charset
    swallows sentence punctuation ("see https://ads.tracker.net." would
    otherwise extract host "ads.tracker.net." and dodge the blocklist's
    equality/suffix test — advice r5)."""
    urls = extract_urls(text)
    doms = F.transform(
        urls,
        lambda u: F.regexp_replace(
            F.regexp_extract(u, _DOMAIN_REGEX, 1), r"[.-]+$", ""
        ),
    )
    if lowercase:
        doms = F.transform(doms, F.lower)
    return F.array_distinct(doms)


def url_flags(
    text: Column | str, blocked_domains: Sequence[str] = ()
) -> dict[str, Column]:
    """URL-hygiene signals per document: ``n_urls`` (total mentions),
    ``n_domains`` (distinct hosts), and ``blocked`` — TRUE when any
    referenced domain OR one of its parents is on ``blocked_domains``
    (``ads.evil.com`` is blocked by an entry ``evil.com``). The blocklist
    is embedded as literals — right for curated lists up to a few
    thousand entries (one codegen projection, zero shuffle); join
    ``extract_domains`` against a broadcast DataFrame for web-scale
    lists. NULL text yields NULL counts and ``blocked = false``."""
    urls = extract_urls(text)
    doms = extract_domains(text)
    blocked = F.lit(False)
    for b in blocked_domains:
        b = b.lower()
        blocked = blocked | F.exists(
            doms, lambda d: (d == b) | d.endswith("." + b)
        )
    return {
        "n_urls": F.size(urls),
        "n_domains": F.size(doms),
        "blocked": F.coalesce(blocked, F.lit(False)),
    }


# ----------------------------------------------- Gopher quality rules ------
# the published repetition-free Gopher quality filters (Rae et al. 2021,
# §A1.1 — public paper), expressed as pure Column predicates. Thresholds are
# the paper's.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(text: Column | str) -> dict[str, Column]:
    """Gopher's document-quality rules as one codegen/HOF expression set —
    each key a boolean "passes this rule" Column (NULL text fails all):

    * ``words_in_range``   — 50 ≤ word count ≤ 100,000
    * ``mean_word_len_ok`` — mean word length in [3, 10]
    * ``symbol_ratio_ok``  — (# + …) / words ≤ 0.1
    * ``bullet_lines_ok``  — ≤ 90% of lines start with a bullet
    * ``ellipsis_lines_ok``— ≤ 30% of lines end with an ellipsis
    * ``alpha_words_ok``   — ≥ 80% of words contain a letter
    * ``stopwords_ok``     — ≥ 2 distinct Gopher stop words present
    * ``passes``           — AND of all of the above

    Per-row expressions only (array HOFs over the doc's own words/lines —
    the same altitude as ``quality_features``); zero shuffle, so the gate
    composes into any scan. Intended use: ``df.filter(
    gopher_quality_flags("text")["passes"])`` before expensive stages."""
    c = F.col(text) if isinstance(text, str) else text
    lc = F.lower(c)
    ws = words(c)
    n_words = F.size(ws)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    # round 7: sum-of-word-lengths == non-whitespace chars of the lowercased
    # text (the words ARE its non-\s runs) — one translate pass replaces the
    # per-word interpreted fold
    mean_wl = _count_outside(lc, _WS_CHARS).cast("double") / safe_words
    symbols = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    # line-shaped rules as multiline regexp_counts over the whole document —
    # no line array, no per-line interpreted filter. Equivalences (Spark
    # trim/rtrim strip 0x20 only, so ' *' mirrors them exactly):
    #   nonempty line  == '(?m)^ *[^ \n]'    (any non-space, non-EOL char)
    #   bullet line    == '(?m)^ *[-*•]'     (trimmed line starts with bullet)
    #   ellipsis line  == '(?m)(\.\.\.|…) *$' (rtrimmed line ends with one;
    #                     $ anchoring caps it at one match per line)
    n_lines = F.greatest(
        F.regexp_count(c, F.lit(r"(?m)^ *[^ \n]")), F.lit(1)
    ).cast("double")
    bullet_frac = F.regexp_count(c, F.lit(r"(?m)^ *[-*•]")) / n_lines
    ellipsis_frac = F.regexp_count(c, F.lit(r"(?m)(\.\.\.|…) *$")) / n_lines
    alpha_frac = (
        F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))) / safe_words
    )
    # distinct stop words present: ONE alternation scan + array_distinct
    # instead of 8 whole-string rlikes (measured 1.35s -> 0.56s at sf1.0)
    stop_distinct = F.size(
        F.array_distinct(
            F.regexp_extract_all(
                lc,
                F.lit(r"\b(" + "|".join(_GOPHER_STOPWORDS) + r")\b"),
                1,
            )
        )
    )
    flags = {
        "words_in_range": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "symbol_ratio_ok": symbols.cast("double") / safe_words <= 0.1,
        "bullet_lines_ok": bullet_frac <= 0.9,
        "ellipsis_lines_ok": ellipsis_frac <= 0.3,
        "alpha_words_ok": alpha_frac >= 0.8,
        "stopwords_ok": stop_distinct >= 2,
    }
    passes = reduce(and_, flags.values())
    return {k: F.coalesce(v, F.lit(False)) for k, v in {**flags, "passes": passes}.items()}


# ------------------------------------------- unigram LM quality scoring ----
def unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    *,
    alpha: float = 0.5,
    vocab_limit: int | None = 1_000_000,
) -> DataFrame:
    """Unigram language model from a corpus: (word, logp) with Laplace
    smoothing ``logp = ln((count + α) / (total + α·(V+1)))`` — the +1
    reserves one smoothed slot for any out-of-vocabulary word, so OOV
    probability mass is well-defined and every doc scores. Words are the
    engine's standard lowercased whitespace tokens.

    ``vocab_limit`` keeps the broadcastable LM bounded: only the top-K
    words by count keep their own entry (ties broken by word for
    determinism); everything else scores as OOV. V = the KEPT vocabulary
    size, so the model stays a proper distribution over kept-words + OOV.
    One explode → map-side-combined groupBy; the result is the dimension
    table a 10^12-doc run builds once from a clean reference corpus
    (CCNet trains its reference LM on Wikipedia) and broadcasts ever
    after."""
    from ..utils.cache import registry as _cache

    counts = (
        df.select(F.explode(words(text_col)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    if vocab_limit is not None:
        counts = counts.orderBy(F.col("__n").desc(), F.col("__w")).limit(vocab_limit)
    # the vocab pipeline feeds the total/V scalar job here, the OOV-floor
    # job and the broadcast join in unigram_doc_scores — persist it once
    # (registry-tracked; release via operator_cache_scope) instead of
    # re-running the corpus explode/shuffle up to four times
    counts = _cache.persist(counts, "unigram_lm.counts")
    # total/V reduce over the (bounded) kept vocab — a driver-side scalar
    row = counts.agg(
        F.sum("__n").alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    total, v = (row["t"] or 0), row["v"]
    denom = float(total) + alpha * (v + 1)
    return counts.select(
        F.col("__w").alias("word"),
        F.log((F.col("__n") + F.lit(alpha)) / F.lit(denom)).alias("logp"),
    )


def unigram_doc_scores(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    oov_logp: float | None = None,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """CCNet-style LM quality scores: per doc, the mean unigram
    log-probability of its words under ``lm`` (= −cross-entropy; exp(−x)
    is the per-word perplexity). Low scores flag boilerplate/gibberish,
    high scores natural prose — the standard LM filtering gate of a
    training-data pipeline, here against a unigram model so the whole
    computation stays JVM-side.

    Scale shape: one explode of the corpus (multiset — repeated words
    count repeatedly, as cross-entropy requires), one **broadcast** hash
    join against the LM (≤ ``vocab_limit`` rows by construction), one
    map-side-combined groupBy(doc). The corpus text itself never shuffles
    — only (doc_id, logp) pairs reach the aggregation. ``oov_logp``
    defaults to ``min(lm.logp)`` (one tiny job): unseen words score at
    least as badly as the rarest seen word. Docs with no words get NULL
    mean and n_words = 0. Returns (id, *keep_cols, n_words, mean_logp)."""
    if oov_logp is None:
        row = lm.agg(F.min("logp")).collect()[0]
        oov_logp = float(row[0]) if row[0] is not None else -20.0
    keep = [F.first(c).alias(c) for c in keep_cols]
    tok = df.select(
        F.col(id_col), *keep_cols, F.explode_outer(words(text_col)).alias("word")
    )
    return (
        tok.join(F.broadcast(lm), "word", "left")
        .groupBy(id_col)
        .agg(
            *keep,
            F.count("word").alias("n_words"),
            F.avg(
                F.when(
                    F.col("word").isNotNull(),
                    F.coalesce(F.col("logp"), F.lit(oov_logp)),
                )
            ).alias("mean_logp"),
        )
    )


# ------------------------------ hashed-ngram linear quality classifier ----
def _gram_join(ws: Column, k: int, sep: str) -> Column:
    """k-gram strings from an ALREADY-BUILT element-string array column —
    the package's one string-gram builder (``dedup.shingles`` and the md5
    gram buckets call it): grams joined by ``sep``, whole-doc gram for docs
    shorter than k, empty for empty or NULL. The oracle-replayable gram
    form: DuckDB rebuilds identical strings.

    Built by zipping k shifted slices (k-1 ``zip_with`` passes with a plain
    concat lambda), NOT a ``transform`` whose lambda slices per element —
    that form re-allocated a sub-array per gram under Spark 4's interpreted
    higher-order functions and measured 12× slower at sf0.1 (6.9s → 0.6s
    for the 1+2-gram md5 explode). Callers that need several k values
    should project ``ws`` once and call this per k — re-deriving the
    element array per k doubles the build (round 7: the md5 gram explode
    builds 1-grams AND 2-grams)."""
    n = F.coalesce(F.size(ws), F.lit(0))
    if k == 1:
        return F.when(n > 0, ws).otherwise(F.array().cast("array<string>"))
    cnt = F.greatest(n - (k - 1), F.lit(0))
    acc = F.slice(ws, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(ws, 1 + j, cnt), lambda a, b: F.concat(a, F.lit(sep), b)
        )
    return (
        F.when(n >= k, acc)
        .when(n > 0, F.array(F.concat_ws(sep, ws)))
        .otherwise(F.array().cast("array<string>"))
    )


def _gram_bucket_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_buckets: int,
    ngram_max: int,
    hash_fn: str,
    extra_cols: Sequence[str] = (),
    keep_empty_docs: bool = False,
    payload: str = "text",
) -> DataFrame:
    """One row per gram OCCURRENCE (multiset, k = 1..ngram_max) with its
    hashed feature bucket ``__b``: (id, *extra, __b).

    ``payload="text"`` grams are lowercased whitespace words of
    ``text_col``; ``payload="tokens"`` grams come straight off an
    ``array<int>`` token column (the north-star table shape) — int
    tokens hash DIRECTLY in xxhash64 mode (no per-element pre-hash; the
    word pre-hash exists so each text word is hashed once) and join as
    comma-separated strings in md5 mode.

    ``hash_fn="xxhash64"`` is the hot path — gram hash combines element
    hashes (``_gram_hashes``), no gram string ever built.
    ``hash_fn="md5"`` buckets ``pmod(int(md5(gram)[:8]), B)`` over REAL
    gram strings — byte-replayable in DuckDB (``('0x' || substr(md5, 1,
    8))::BIGINT % B``), the cross-engine-oracle form. Both are pure
    codegen; bucket ASSIGNMENTS differ between the two (different hash →
    different collisions), so a model must be scored with the hash AND
    payload it was trained with (``GramClassifier``/``DsirModel`` carry
    them)."""
    if payload not in ("text", "tokens"):
        raise ValueError(f"payload must be 'text' or 'tokens', got {payload!r}")
    explode = F.explode_outer if keep_empty_docs else F.explode
    if hash_fn == "xxhash64":
        if payload == "text":
            elems = df.select(
                F.col(id_col),
                *extra_cols,
                F.transform(words(text_col), lambda w: F.xxhash64(w)).alias("__e"),
            )
        else:
            elems = df.select(
                F.col(id_col), *extra_cols, F.col(text_col).alias("__e")
            )
        arr = F.concat(
            *[_gram_hashes(F.col("__e"), k) for k in range(1, ngram_max + 1)]
        )
        ex = elems.select(F.col(id_col), *extra_cols, explode(arr).alias("__gh"))
        bucket = F.pmod(F.col("__gh"), F.lit(num_buckets)).cast("int")
    elif hash_fn == "md5":
        # stage the element-string array ONCE (materialized projection —
        # CollapseProject keeps it because it is referenced per k), then
        # build every k-gram level from the staged column: the round-6 form
        # re-derived the word/stringified-token array once per k — ngram_max
        # full rebuilds per row
        if payload == "text":
            base, sep = words(text_col), " "
        else:
            t = F.col(text_col) if isinstance(text_col, str) else text_col
            base, sep = F.transform(t, lambda x: x.cast("string")), ","
        staged = df.select(F.col(id_col), *extra_cols, base.alias("__ws"))
        arr = F.concat(
            *[_gram_join(F.col("__ws"), k, sep) for k in range(1, ngram_max + 1)]
        )
        ex = staged.select(F.col(id_col), *extra_cols, explode(arr).alias("__gs"))
        bucket = F.pmod(
            F.conv(F.substring(F.md5("__gs"), 1, 8), 16, 10).cast("long"),
            F.lit(num_buckets),
        ).cast("int")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return ex.select(F.col(id_col), *extra_cols, bucket.alias("__b"))


@dataclass
class GramClassifier:
    """A trained hashed-ngram linear model: broadcast weight table +
    scalars. ``weights`` has ≤ ``num_buckets`` rows (bucket, weight) —
    at the standard 2^18 buckets that is a ≤ 3 MB broadcast, the whole
    point of the hashing trick (vocabulary-size-independent state)."""

    weights: DataFrame
    bias: float
    default_weight: float
    num_buckets: int
    ngram_max: int
    hash_fn: str
    payload: str = "text"


def train_gram_classifier(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_buckets: int = 1 << 18,
    ngram_max: int = 2,
    alpha: float = 0.5,
    hash_fn: str = "xxhash64",
    payload: str = "text",
) -> GramClassifier:
    """fastText-style linear quality classifier over hashed bag-of-ngram
    buckets (the learned filter of the CCNet / DCLM curation lineage —
    public technique), trained CLOSED-FORM as smoothed naive-Bayes
    log-odds: ``w[b] = ln((cnt⁺_b + α)/(N⁺ + αB)) − ln((cnt⁻_b + α)/(N⁻
    + αB))``, ``bias = ln(docs⁺/docs⁻)``. No gradient loop — one explode
    → map-side-combined groupBy(bucket) over the corpus (the ONLY
    full-corpus pass; the persisted ≤B-row count table feeds the totals
    scalar and the weight projection), one pruned scan for the doc-count
    prior. ``label_col`` must be boolean (true = positive/high-quality);
    NULL-labeled rows are ignored.

    100 TB shape: training state is bounded by ``num_buckets`` regardless
    of corpus vocabulary; scoring (``score_gram_classifier``) is explode
    → broadcast join → map-side-combined groupBy — identical wire shape
    to ``unigram_doc_scores``, no shuffle of text, nothing all-pairs."""
    lab = df.filter(F.col(label_col).isNotNull())
    g = _gram_bucket_rows(
        lab,
        id_col,
        text_col,
        num_buckets=num_buckets,
        ngram_max=ngram_max,
        hash_fn=hash_fn,
        extra_cols=(label_col,),
        payload=payload,
    )
    return _fit_gram_classifier(
        g,
        lab,
        label_col,
        num_buckets=num_buckets,
        ngram_max=ngram_max,
        alpha=alpha,
        hash_fn=hash_fn,
        payload=payload,
    )


def _fit_gram_classifier(
    g: DataFrame,
    lab: DataFrame,
    label_col: str,
    *,
    num_buckets: int,
    ngram_max: int,
    alpha: float,
    hash_fn: str,
    payload: str = "text",
) -> GramClassifier:
    """Fit the closed-form NB log-odds model from a gram-occurrence table
    ``g`` (id, label, __b) plus the labeled doc table ``lab`` (doc-count
    prior — a pruned scan, no explode). NULL-labeled and NULL-bucket rows
    (wordless docs under ``explode_outer``) are excluded, so a table built
    with ``keep_empty_docs=True`` fits identically to the explode form."""
    from ..utils.cache import registry as _cache

    cnt = _cache.persist(
        g.filter(F.col("__b").isNotNull() & F.col(label_col).isNotNull())
        .groupBy("__b")
        .agg(
            F.sum(F.col(label_col).cast("long")).alias("__cp"),
            F.sum((~F.col(label_col)).cast("long")).alias("__cn"),
        ),
        "gram_classifier.counts",
    )
    tot = cnt.agg(F.sum("__cp").alias("np"), F.sum("__cn").alias("nn")).collect()[0]
    n_pos, n_neg = (tot["np"] or 0), (tot["nn"] or 0)
    docs = lab.agg(
        F.sum(F.col(label_col).cast("long")).alias("dp"),
        F.sum((~F.col(label_col)).cast("long")).alias("dn"),
    ).collect()[0]
    d_pos, d_neg = (docs["dp"] or 0), (docs["dn"] or 0)
    if d_pos == 0 or d_neg == 0:
        raise ValueError(
            f"training needs both classes; got {d_pos} positive / "
            f"{d_neg} negative labeled docs"
        )
    denom_p = float(n_pos) + alpha * num_buckets
    denom_n = float(n_neg) + alpha * num_buckets
    weights = cnt.select(
        F.col("__b").alias("bucket"),
        (
            F.log((F.col("__cp") + F.lit(alpha)) / F.lit(denom_p))
            - F.log((F.col("__cn") + F.lit(alpha)) / F.lit(denom_n))
        ).alias("weight"),
    )
    return GramClassifier(
        weights=weights,
        bias=math.log(d_pos / d_neg),
        default_weight=math.log(alpha / denom_p) - math.log(alpha / denom_n),
        num_buckets=num_buckets,
        ngram_max=ngram_max,
        hash_fn=hash_fn,
        payload=payload,
    )


def score_gram_classifier(
    df: DataFrame,
    model: GramClassifier,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Score docs under a ``GramClassifier``: per doc, ``logit = bias +
    mean(w[bucket])`` over its gram multiset (fastText average pooling —
    mean, not sum, so long docs don't saturate), ``prob = σ(logit)``.
    Buckets unseen in training coalesce to the model's smoothed
    zero-count weight. One explode → ONE broadcast hash join (≤ B-row
    weight table) → map-side-combined groupBy(doc); text never shuffles.
    Wordless docs keep a row: n_grams = 0, NULL logit/prob (the
    ``unigram_doc_scores`` contract). Returns (id, *keep_cols, n_grams,
    logit, prob)."""
    g = _gram_bucket_rows(
        df,
        id_col,
        text_col,
        num_buckets=model.num_buckets,
        ngram_max=model.ngram_max,
        hash_fn=model.hash_fn,
        extra_cols=keep_cols,
        keep_empty_docs=True,
        payload=model.payload,
    )
    return _score_gram_rows(g, model, id_col, keep_cols)


def _score_gram_rows(
    g: DataFrame,
    model: GramClassifier,
    id_col: str,
    keep_cols: Sequence[str],
) -> DataFrame:
    """Aggregate a gram-occurrence table (id, *keep, __b; NULL __b =
    wordless doc) into per-doc scores under ``model`` — the back half of
    ``score_gram_classifier``, shared with the one-explode combined path."""
    scored = (
        g.join(
            F.broadcast(model.weights.withColumnRenamed("bucket", "__b")),
            "__b",
            "left",
        )
        .groupBy(id_col)
        .agg(
            *[F.first(c).alias(c) for c in keep_cols],
            F.count("__b").alias("n_grams"),
            F.avg(
                F.when(
                    F.col("__b").isNotNull(),
                    F.coalesce(F.col("weight"), F.lit(model.default_weight)),
                )
            ).alias("__mw"),
        )
    )
    logit = F.col("__mw") + F.lit(model.bias)
    return scored.select(
        F.col(id_col),
        *keep_cols,
        "n_grams",
        logit.alias("logit"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("prob"),
    )


def train_score_gram_classifier(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_cols: Sequence[str] = (),
    num_buckets: int = 1 << 18,
    ngram_max: int = 2,
    alpha: float = 0.5,
    hash_fn: str = "xxhash64",
    payload: str = "text",
) -> tuple[GramClassifier, DataFrame]:
    """Train on the labeled subset AND score every doc over ONE gram
    explode. ``train_gram_classifier`` + ``score_gram_classifier`` on the
    same corpus each pay a full explode (+ gram-string build in md5 mode)
    — the dominant cost, and at 100 TB the difference between two
    full-corpus passes and one. Here the (id, label, *keep, __b)
    occurrence table is built once, persisted through the cache registry,
    and feeds both the bucket-count fit and the score aggregation.
    ``label_col`` NULL marks docs outside the training split (the
    existing ``train_gram_classifier`` contract); every doc is scored.
    Returns ``(model, scored)`` with ``scored`` shaped exactly like
    ``score_gram_classifier``."""
    from ..utils.cache import registry as _cache

    g = _cache.persist(
        _gram_bucket_rows(
            df,
            id_col,
            text_col,
            num_buckets=num_buckets,
            ngram_max=ngram_max,
            hash_fn=hash_fn,
            extra_cols=(label_col, *keep_cols),
            keep_empty_docs=True,
            payload=payload,
        ),
        "gram_classifier.grams",
    )
    model = _fit_gram_classifier(
        g,
        df.filter(F.col(label_col).isNotNull()),
        label_col,
        num_buckets=num_buckets,
        ngram_max=ngram_max,
        alpha=alpha,
        hash_fn=hash_fn,
        payload=payload,
    )
    return model, _score_gram_rows(g, model, id_col, keep_cols)


# ------------------------------------------------ DSIR importance resampling ---


@dataclass
class DsirModel:
    """Fitted hashed-ngram importance model (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): per-bucket
    ``log(p_target(b) / q_raw(b))`` over hashed 1..k-gram features.
    ``log_ratio`` holds ≤ ``num_buckets`` rows (bucket, log_ratio) — a
    ≤ few-MB broadcast at the standard bucket counts, exactly like
    :class:`GramClassifier`; ``default_log_ratio`` covers buckets unseen
    in BOTH fitting corpora (smoothing-only mass)."""

    log_ratio: DataFrame
    default_log_ratio: float
    num_buckets: int
    ngram_max: int
    hash_fn: str
    payload: str = "text"


def _dsir_bucket_counts(
    df: DataFrame,
    text_col: str,
    *,
    num_buckets: int,
    ngram_max: int,
    hash_fn: str,
    payload: str,
) -> DataFrame:
    """Gram-occurrence counts per hashed bucket: (``__b``, ``__c``).
    Doc identity is irrelevant for fitting, so a literal id feeds the
    shared gram machinery and prunes the scan to the text column."""
    g = _gram_bucket_rows(
        df.select(F.lit(1).alias("__id"), F.col(text_col)),
        "__id",
        text_col,
        num_buckets=num_buckets,
        ngram_max=ngram_max,
        hash_fn=hash_fn,
        payload=payload,
    )
    return g.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))


def fit_dsir(
    target_df: DataFrame,
    raw_df: DataFrame,
    text_col: str = "text",
    *,
    num_buckets: int = 1 << 16,
    ngram_max: int = 2,
    alpha: float = 0.5,
    hash_fn: str = "xxhash64",
    payload: str = "text",
) -> DsirModel:
    """Fit DSIR bucket log-ratios from a (small) TARGET corpus and the
    RAW corpus being selected from. ``payload="tokens"`` fits over an
    ``array<int>`` token column instead of text — DSIR on the
    north-star pre-tokenized table shape, same arithmetic.

    Both sides reduce to smoothed multinomials over hashed n-gram
    buckets: ``p(b) = (c_target[b] + α) / (T_target + αB)`` and likewise
    ``q(b)`` for raw; the stored weight is ``ln p(b) − ln q(b)``. The
    fit is two explode→groupBy count passes (map-side combined, buckets
    bounded by B) full-outer-joined on the bucket id; totals ride a
    1-row aggregate off the persisted join, so neither corpus is
    re-exploded for the totals. Public technique; no reference analogue
    (the reference has no corpus operators).

    At 100 TB the raw-side count pass is the only big job — a bounded-
    key (≤B) partial-aggregated count, the cheapest full-corpus shape
    there is; the target corpus is small by construction (DSIR's premise:
    target = a quality exemplar set like Wikipedia)."""
    from ..utils.cache import registry as _cache

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (smoothing), got {alpha}")
    ct = _dsir_bucket_counts(
        target_df, text_col, num_buckets=num_buckets, ngram_max=ngram_max,
        hash_fn=hash_fn, payload=payload,
    ).withColumnRenamed("__c", "__ct")
    cr = _dsir_bucket_counts(
        raw_df, text_col, num_buckets=num_buckets, ngram_max=ngram_max,
        hash_fn=hash_fn, payload=payload,
    ).withColumnRenamed("__c", "__cr")
    return _fit_dsir_from_counts(
        ct, cr, num_buckets=num_buckets, ngram_max=ngram_max, alpha=alpha,
        hash_fn=hash_fn, payload=payload,
    )


def _fit_dsir_from_counts(
    ct: DataFrame,
    cr: DataFrame,
    *,
    num_buckets: int,
    ngram_max: int,
    alpha: float,
    hash_fn: str,
    payload: str,
) -> DsirModel:
    """Build a :class:`DsirModel` from per-bucket target / raw counts
    (``(__b, __ct)`` and ``(__b, __cr)``) — the arithmetic tail shared by
    :func:`fit_dsir` and the one-explode :func:`fit_resample_dsir`."""
    from ..utils.cache import registry as _cache

    j = _cache.persist(
        ct.join(cr, "__b", "full_outer").select(
            "__b",
            F.coalesce("__ct", F.lit(0)).alias("__ct"),
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
        ),
        "dsir.bucket_counts",
    )
    tot = j.agg(F.sum("__ct").alias("tt"), F.sum("__cr").alias("tr")).collect()[0]
    t_t, t_r = (tot["tt"] or 0), (tot["tr"] or 0)
    if t_t == 0 or t_r == 0:
        raise ValueError(
            f"fit_dsir needs non-empty corpora; got {t_t} target / "
            f"{t_r} raw gram occurrences"
        )
    denom_t = float(t_t) + alpha * num_buckets
    denom_r = float(t_r) + alpha * num_buckets
    log_ratio = j.select(
        F.col("__b").alias("bucket"),
        (
            F.log((F.col("__ct") + F.lit(alpha)) / F.lit(denom_t))
            - F.log((F.col("__cr") + F.lit(alpha)) / F.lit(denom_r))
        ).alias("log_ratio"),
    )
    return DsirModel(
        log_ratio=log_ratio,
        default_log_ratio=math.log(alpha / denom_t) - math.log(alpha / denom_r),
        num_buckets=num_buckets,
        ngram_max=ngram_max,
        hash_fn=hash_fn,
        payload=payload,
    )


def dsir_log_weights(
    df: DataFrame,
    model: DsirModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-document log importance weight under ``model``: ``log w(doc) =
    Σ_grams log_ratio[bucket]`` — the multinomial log-likelihood ratio
    over the doc's gram multiset (sum, not mean: DSIR weights, unlike the
    classifier's fastText pooling, ARE the likelihood ratio). Returns
    (id, *keep_cols, log_w, n_grams); wordless/NULL docs keep
    ``log_w = 0`` (empty product), ``n_grams = 0``.

    ``keep_cols`` MUST be functionally dependent on ``id_col`` (one value
    per document): they ride the aggregation as grouping keys, so a
    non-dependent keep column would split a document into one weight row
    per distinct value — same requirement as ``fit_resample_dsir``
    (``score_gram_classifier`` instead takes ``first()`` per id; both
    behave identically under the dependence this contract requires).

    One explode → broadcast join (≤B-row weight table) → groupBy(id)
    partial-aggregated sum; document text never crosses the shuffle —
    only (id, bucket) pairs."""
    g = _gram_bucket_rows(
        df,
        id_col,
        text_col,
        num_buckets=model.num_buckets,
        ngram_max=model.ngram_max,
        hash_fn=model.hash_fn,
        extra_cols=keep_cols,
        keep_empty_docs=True,
        payload=model.payload,
    )
    return _dsir_weight_rows(g, model, id_col, keep_cols)


def _dsir_weight_rows(
    g: DataFrame,
    model: DsirModel,
    id_col: str,
    keep_cols: Sequence[str],
) -> DataFrame:
    """Aggregate a gram-occurrence table (id, …, __b; NULL __b = wordless
    doc) into per-doc log weights under ``model`` — the back half of
    :func:`dsir_log_weights`, shared with :func:`fit_resample_dsir`."""
    scored = g.join(
        F.broadcast(model.log_ratio), g["__b"] == F.col("bucket"), "left"
    )
    term = (
        F.when(F.col("__b").isNull(), F.lit(0.0))
        .otherwise(F.coalesce("log_ratio", F.lit(model.default_log_ratio)))
    )
    return scored.groupBy(id_col, *keep_cols).agg(
        F.sum(term).alias("log_w"),
        F.sum(F.col("__b").isNotNull().cast("long")).alias("n_grams"),
    )


def dsir_resample(
    df: DataFrame,
    model: DsirModel,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    seed: int = 42,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Select ``k`` documents without replacement with probability
    ∝ importance weight — DSIR's resampling step — via the Gumbel-top-k
    trick: rank on ``log_w + Gumbel(doc)`` where the Gumbel noise is
    ``-ln(-ln(u))`` with ``u`` derived from the DETERMINISTIC md5
    content hash (:func:`sampling.sample_hash`), so the selected set is
    identical on every run, any partitioning, and replayable by any SQL
    engine. ``log_w`` is rounded to 4dp before ranking (ties broken by
    id) so cross-engine float-summation-order noise cannot flip ranks.

    Returns (id, *keep_cols, log_w, gumbel) for the k selected docs.
    The plan is a TakeOrderedAndProject (per-partition top-k heaps, no
    global sort materialization) — scale-safe for any bounded k."""
    lw = dsir_log_weights(df, model, id_col, text_col, keep_cols=keep_cols)
    return _gumbel_topk(lw, k, id_col, seed, keep_cols)


def _gumbel_topk(
    lw: DataFrame,
    k: int,
    id_col: str,
    seed: int,
    keep_cols: Sequence[str],
) -> DataFrame:
    """Deterministic Gumbel-top-k over a (id, *keep, log_w, n_grams) weight
    table — the selection tail of :func:`dsir_resample`, shared with
    :func:`fit_resample_dsir`."""
    from .sampling import _HASH_SPAN, sample_hash

    lw = lw.select(
        id_col,
        *keep_cols,
        F.round("log_w", 4).alias("log_w"),
        "n_grams",
    )
    u = (sample_hash(F.col(id_col), seed) + F.lit(0.5)) / F.lit(float(_HASH_SPAN))
    gumbel = -F.log(-F.log(u))
    return (
        lw.withColumn("gumbel", F.round(gumbel, 4))
        .orderBy(F.desc(F.col("log_w") + F.col("gumbel")), F.col(id_col))
        .limit(k)
    )


def fit_resample_dsir(
    df: DataFrame,
    target_col: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_cols: Sequence[str] = (),
    seed: int = 42,
    num_buckets: int = 1 << 16,
    ngram_max: int = 2,
    alpha: float = 0.5,
    hash_fn: str = "xxhash64",
    payload: str = "text",
) -> tuple[DsirModel, DataFrame]:
    """Fit DSIR against an IN-CORPUS target (boolean ``target_col``; TRUE =
    target exemplar, the common "select toward the high-quality subset"
    shape) and resample ``k`` docs over ONE persisted gram explode.

    ``fit_dsir`` + ``dsir_resample`` on the same corpus pay the gram build
    (words / stringified tokens, gram strings in md5 mode, hashing) for the
    raw-count pass AND again for the scoring pass — at sf1.0 that build is
    the dominant term (~6.7s of a 15.2s query), and at 100 TB it is the
    difference between two full corpus passes and one. Here the (id,
    target, *keep, __b) occurrence table is built once, persisted through
    the cache registry, and feeds the target counts, the raw counts, and
    the per-doc weight aggregation. Rows with NULL ``target_col`` count as
    non-target (raw side only), matching ``df.where(col)``'s NULL-drop.
    Arithmetic is bit-identical to the two-pass API: counts are integer
    aggregates of the same multisets, and ``log_w`` rounds to 4dp before
    ranking exactly as :func:`dsir_resample` does.

    Returns ``(model, selected)`` with ``selected`` shaped exactly like
    :func:`dsir_resample` — (id, *keep_cols, log_w, n_grams, gumbel)."""
    from ..utils.cache import registry as _reg

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (smoothing), got {alpha}")
    g = _reg.persist(
        _gram_bucket_rows(
            df,
            id_col,
            text_col,
            num_buckets=num_buckets,
            ngram_max=ngram_max,
            hash_fn=hash_fn,
            extra_cols=(target_col, *keep_cols),
            keep_empty_docs=True,
            payload=payload,
        ),
        "dsir.grams",
    )
    nn = g.filter(F.col("__b").isNotNull())
    ct = (
        nn.filter(F.col(target_col))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__ct"))
    )
    cr = nn.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr"))
    model = _fit_dsir_from_counts(
        ct, cr, num_buckets=num_buckets, ngram_max=ngram_max, alpha=alpha,
        hash_fn=hash_fn, payload=payload,
    )
    lw = _dsir_weight_rows(g, model, id_col, keep_cols)
    return model, _gumbel_topk(lw, k, id_col, seed, keep_cols)
