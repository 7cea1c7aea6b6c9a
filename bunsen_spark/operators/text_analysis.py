"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token statistics, document fingerprinting.

Beyond-reference scale extension (SURVEY §7 M7). Every operator is a
pure Catalyst expression pipeline (split / higher-order functions /
regexp — whole-stage codegen, no Python UDFs), so it scales linearly
over document shards with zero shuffle: each output row depends only on
its input row. At 100 TB these run as a single map stage behind the
parquet scan with full column pruning (only ``doc_id`` + ``text`` read).

Determinism contract: every derived number is integer arithmetic or a
single IEEE-754 double division/weighted-sum evaluated in a fixed
order, so a DuckDB oracle reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Portable 53-bit integer from md5 — identical in Spark
# (conv(substr(md5(x),1,13),16,10)) and DuckDB
# (('0x' || substr(md5(x),1,13))::BIGINT). 13 hex digits = 52 bits keeps
# every value exactly representable and products within int64 when
# reduced mod 2^31-1 first.
MERSENNE31 = 2147483647


def md5int(col: Column) -> Column:
    """Portable 52-bit non-negative integer hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def md5int_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5int`."""
    return f"CAST(('0x' || substring(md5({expr}), 1, 13)) AS BIGINT)"


def md5int_py(s: str) -> int:
    """Driver-side :func:`md5int` of one string."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)


def hash31(col: Column, portable: bool = False) -> Column:
    """Non-negative integer hash in ``[0, MERSENNE31)`` of a string
    column — THE hash family switch for the shingle/gram hot loops
    (same pattern as `sketches._cm_pos`). Default is ``xxhash64``:
    whole-stage-codegen JVM hashing, ~5-10× faster per call than md5 —
    the production path, since gram hashing dominates CPU at corpus
    scale. ``portable=True`` selects the md5 family reproducible
    bit-for-bit in DuckDB; the oracle gate entries pin it. Both
    families yield the same uniform [0, 2^31-1) domain, so every
    downstream decision (MinHash permutations, SimHash bits, LSH bands,
    Jaccard on hashed sets, winnowing minima) is family-agnostic."""
    if portable:
        return md5int(col) % MERSENNE31
    return F.pmod(F.xxhash64(col), F.lit(MERSENNE31))


def words_col(text: Column) -> Column:
    """Lowercased alphanumeric word tokens."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), 0)


def gram_regex(n: int) -> str:
    """Java regex that captures every overlapping ``n``-word window of a
    single-space-joined token sentence: a zero-width word-boundary
    anchor (``\\b`` — matches at each token start; at token ENDS the
    lookahead fails on the following space) wrapping a lookahead whose
    group 1 is the next ``n`` space-separated tokens. Zero-width
    matches advance one char at a time, so every token start with
    ``n-1`` following tokens yields exactly one gram — the overlapping
    windows a plain (consuming) regex cannot produce. One regex pass
    replaces the former per-position interpreted ``transform``/
    ``zip_with`` higher-order chains: 2.9× (word 3-grams) to 5.8×
    (char 8-grams) measured at gen-sf1 with identical value hashes
    (PERF.md "Round-11: vectorized shingle constructor")."""
    return r"\\b(?=(" + "[a-z0-9]+" + " [a-z0-9]+" * (n - 1) + "))"


def ngrams_expr(n: int, col: str = "__w") -> str:
    """NON-distinct overlapping word ``n``-grams of a tokenized-array
    column (tokens are ``[a-z0-9]+``, so the space-joined sentence has
    single-space separators only), via one :func:`gram_regex` pass.
    Documents with fewer than ``n`` tokens emit an EMPTY array — the
    bigram-family semantics (surprisal/repetition/PMI count every
    occurrence with multiplicity; contrast ``dedup.shingles_expr``,
    which is distinct with a join-all-words short-doc fallback)."""
    return (
        f"CASE WHEN size({col}) >= {n}"
        f" THEN regexp_extract_all(concat_ws(' ', {col}), '{gram_regex(n)}', 1)"
        f" ELSE cast(array() AS array<string>) END"
    )


WORDS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# language marker stopwords: tiny per-language lists with no overlap.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en": ("the", "of", "and", "to", "in", "is", "that", "it"),
    "es": ("el", "la", "los", "las", "es", "por", "una", "como"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour", "que"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4", "you3", "wo3", "ta1"),
}

# quality-score weights, applied in this exact order (determinism)
_QUALITY_WEIGHTS = (
    ("ttr", 0.3),
    ("stopword_ratio", 0.3),
    ("alpha_ratio", 0.2),
    ("length_factor", 0.2),
)


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: count marker-stopword hits per language,
    pick the argmax (ties broken by language-code order). Output:
    (doc_id, predicted_lang, marker_hits)."""
    def marker_counter(markers: tuple[str, ...]):
        return lambda x: x.isin(*markers)

    # tokenize once; the per-language filters read the materialized
    # array instead of re-running the regex per language
    scored = docs.select("doc_id", words_col(F.col("text")).alias("ws")).select(
        "doc_id",
        *[
            F.size(F.filter(F.col("ws"), marker_counter(markers))).alias(f"c_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    langs = sorted(LANG_MARKERS)
    # forward CASE chain: earlier languages win ties (matches the SQL twin)
    chain = None
    hits = None
    for lang in langs:
        cond = F.col(f"c_{lang}") >= F.greatest(*[F.col(f"c_{l}") for l in langs])
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
        hits = F.when(cond, F.col(f"c_{lang}")) if hits is None else hits.when(cond, F.col(f"c_{lang}"))
    return scored.select(
        "doc_id",
        chain.alias("predicted_lang"),
        hits.cast("long").alias("marker_hits"),
    )


def language_id_sql(table: str = "documents") -> str:
    langs = sorted(LANG_MARKERS)
    counts = ", ".join(
        f"len(list_filter({WORDS_SQL}, w -> w IN ({', '.join(repr(m) for m in LANG_MARKERS[lang])}))) AS c_{lang}"
        for lang in langs
    )
    greatest = f"greatest({', '.join('c_' + lang for lang in langs)})"
    case_lang = "CASE " + " ".join(
        f"WHEN c_{lang} >= {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    case_hits = "CASE " + " ".join(
        f"WHEN c_{lang} >= {greatest} THEN c_{lang}" for lang in langs
    ) + " END"
    return f"""
SELECT doc_id, {case_lang} AS predicted_lang,
       CAST({case_hits} AS BIGINT) AS marker_hits
FROM (SELECT doc_id, {counts} FROM {table})
"""


_ALL_MARKERS = tuple(m for ms in LANG_MARKERS.values() for m in ms)


def quality_score(docs: DataFrame) -> DataFrame:
    """Deterministic quality features + weighted score per document:
    type-token ratio, stopword ratio, alphabetic-character ratio and a
    length factor (min(n_words, 256)/256), each a double in [0, 1].
    Output: (doc_id, n_words, n_distinct, ttr, stopword_ratio,
    alpha_ratio, length_factor, quality_score) — ratios rounded to 6
    decimals AFTER the score is computed from unrounded values."""
    w = F.col("ws")
    base = docs.select(
        "doc_id", "text", words_col(F.col("text")).alias("ws")
    ).select(
        "doc_id",
        F.col("text"),
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.size(F.filter(w, lambda x: x.isin(*_ALL_MARKERS))).alias("n_stop"),
    )
    n_alpha = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    n_chars = F.length("text")
    ttr = F.col("n_distinct") / F.greatest(F.col("n_words"), F.lit(1))
    stop_ratio = F.col("n_stop") / F.greatest(F.col("n_words"), F.lit(1))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    length_factor = F.least(F.col("n_words"), F.lit(256)) / F.lit(256.0)
    parts = {
        "ttr": ttr,
        "stopword_ratio": stop_ratio,
        "alpha_ratio": alpha_ratio,
        "length_factor": length_factor,
    }
    score = None
    for name, weight in _QUALITY_WEIGHTS:
        term = parts[name] * F.lit(weight)
        score = term if score is None else score + term
    return base.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(length_factor, 6).alias("length_factor"),
        F.round(score, 6).alias("quality_score"),
    )


def quality_score_sql(table: str = "documents") -> str:
    markers = ", ".join(repr(m) for m in _ALL_MARKERS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         len({WORDS_SQL}) AS n_words,
         len(list_distinct({WORDS_SQL})) AS n_distinct,
         len(list_filter({WORDS_SQL}, w -> w IN ({markers}))) AS n_stop
  FROM {table}
), feat AS (
  SELECT doc_id, n_words, n_distinct,
         n_distinct / greatest(n_words, 1) AS ttr,
         n_stop / greatest(n_words, 1) AS stopword_ratio,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) /
             greatest(length(text), 1) AS alpha_ratio,
         least(n_words, 256) / 256.0 AS length_factor
  FROM base
)
SELECT doc_id, n_words, n_distinct,
       round(ttr, 6) AS ttr,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(length_factor, 6) AS length_factor,
       round(ttr*0.3 + stopword_ratio*0.3 + alpha_ratio*0.2 + length_factor*0.2,
             6) AS quality_score
FROM feat
"""


#: BPE-ish token regex: alphanumeric runs or single non-space symbols
TOKEN_REGEX = "[a-z0-9]+|[^a-z0-9\\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, regex (BPE-ish) tokens,
    distinct regex tokens, and chars-per-token. Output: (doc_id,
    ws_tokens, re_tokens, distinct_tokens, chars_per_token)."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0)
    return docs.select("doc_id", "text", toks.alias("tk")).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size("tk").alias("re_tokens"),
        F.size(F.array_distinct("tk")).alias("distinct_tokens"),
        F.round(
            F.length("text") / F.greatest(F.size("tk"), F.lit(1)), 6
        ).alias("chars_per_token"),
    )


def token_stats_sql(table: str = "documents") -> str:
    toks = f"regexp_extract_all(lower(text), '{TOKEN_REGEX}')"
    return f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len({toks}) AS re_tokens,
       len(list_distinct({toks})) AS distinct_tokens,
       round(length(text) / greatest(len({toks}), 1), 6) AS chars_per_token
FROM {table}
"""


FP_K = 8  #: fingerprint k-gram length (characters)
FP_WINDOW = 16  #: winnowing window (k-grams per window)


def fingerprint(docs: DataFrame, portable: bool = False) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style): hash every
    ``FP_K``-char gram of the lowercased text, then keep the minimum
    hash of each ``FP_WINDOW``-wide window; the distinct window minima
    form the fingerprint set. Output: (doc_id, n_grams, fp_min,
    fp_size) where fp_min is the global minimum gram hash and fp_size
    the winnowed-set size. Per-gram hashing dominates this operator's
    CPU; ``portable`` selects the :func:`hash31` family (xxhash64
    default; md5 for the DuckDB-twin gate)."""
    # lower(text) is materialized first (substr/regex over the raw text
    # would re-lower per use). Char k-grams via one DOTALL zero-width-
    # lookahead regex pass — every position captures its next FP_K
    # chars — instead of an interpreted per-position transform+substr:
    # 5.8× at gen-sf1 (20.7 s -> 3.55 s construction force, identical
    # count AND hash; PERF.md "Round-11"). Short docs (< FP_K chars)
    # match nothing under .{FP_K}, so the CASE preserves the original
    # whole-text single gram.
    grams = F.expr(
        f"CASE WHEN char_length(__t) < {FP_K} THEN array(__t)"
        f" ELSE regexp_extract_all(__t, '(?s)(?=(.{{{FP_K}}}))', 1) END"
    )
    hashes = F.transform(grams, lambda g: hash31(g, portable))
    # Sliding-window minima via sparse-table DOUBLING: window-2p minima
    # are least(m_p[i], m_p[i+p]) — one zip_with over two aligned slices
    # per doubling, so width-16 windows cost 4 whole-array passes
    # instead of a fresh 16-element slice copy PER POSITION inside an
    # interpreted lambda (the same pattern round 6 removed from
    # shingles; VERDICT r6 item 5). Each level is a NAMED column so the
    # two slice references share one computed array — CollapseProject
    # keeps non-cheap multi-referenced projections un-inlined, which a
    # nested single-expression chain would not (2^levels blowup).
    w = FP_WINDOW
    cur = docs.select("doc_id", F.lower("text").alias("__t")).select(
        "doc_id", hashes.alias("__m1")
    )
    # lengths clamp at 0 so short docs (n_grams < w) flow through as
    # empty arrays — they take the CASE's min-of-all branch below,
    # preserving the original clamped-slice semantics exactly
    p, final_name = 1, "__m1"
    while p * 2 <= w:
        np2 = 2 * p
        new_len = f"greatest(size(__m1) - {np2 - 1}, 0)"
        zexpr = (
            f"zip_with(slice(__m{p}, 1, {new_len}),"
            f" slice(__m{p}, {p + 1}, {new_len}), (x, y) -> least(x, y))"
        )
        cur = cur.select("doc_id", "__m1", F.expr(zexpr).alias(f"__m{np2}"))
        p, final_name = np2, f"__m{np2}"
    if p < w:  # non-power-of-two width: overlap two width-p windows
        fl = f"greatest(size(__m1) - {w - 1}, 0)"
        zexpr = (
            f"zip_with(slice({final_name}, 1, {fl}),"
            f" slice({final_name}, {w - p + 1}, {fl}), (x, y) -> least(x, y))"
        )
        cur = cur.select("doc_id", "__m1", F.expr(zexpr).alias("__mw"))
        final_name = "__mw"
    windows = F.expr(
        f"CASE WHEN size(__m1) < {w} THEN array(array_min(__m1))"
        f" ELSE {final_name} END"
    )
    return cur.select(
        "doc_id",
        F.size("__m1").alias("n_grams"),
        F.array_min("__m1").alias("fp_min"),
        F.size(F.array_distinct(windows)).alias("fp_size"),
    )


def fingerprint_sql(table: str = "documents") -> str:
    gram = f"substr(lower(text), CAST(i AS INTEGER), {FP_K})"
    hashes = (
        f"list_transform(range(1, greatest(length(text) - {FP_K - 1}, 1) + 1),"
        f" i -> {md5int_sql(gram)} % {MERSENNE31})"
    )
    return f"""
WITH h AS (SELECT doc_id, {hashes} AS hs FROM {table})
SELECT doc_id,
       len(hs) AS n_grams,
       list_min(hs) AS fp_min,
       len(list_distinct(
           list_transform(range(1, greatest(len(hs) - {FP_WINDOW - 1}, 1) + 1),
                          i -> list_min(hs[CAST(i AS INTEGER):CAST(i + {FP_WINDOW - 1} AS INTEGER)]))
       )) AS fp_size
FROM h
"""


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (word-level,
    adapted to the corpus's single-line texts): duplicate-word and
    duplicate-bigram fractions from array cardinalities (pure Catalyst,
    zero shuffle), plus top-word dominance (most frequent word's share)
    via one explode + two map-side-combined aggregations. High values
    on any of the three are the standard "remove boilerplate/spam"
    curation predicate. Output: (doc_id, n_words, dup_word_frac,
    dup_bigram_frac, top_word_frac), fractions rounded to 6."""
    from pyspark.sql import Window

    # tokenize ONCE into a column; every downstream expression reads
    # the materialized array (the regex is the dominant per-row cost —
    # re-evaluating it per derived expression tripled the query time)
    toks = docs.select("doc_id", words_col(F.col("text")).alias("ws"))
    words = F.col("ws")
    # 0/1-word docs emit NO bigrams (the CASE guard inside ngrams_expr;
    # the oracle mirrors it)
    bigrams = F.expr(ngrams_expr(2, "ws"))
    base = toks.select(
        "doc_id",
        "ws",
        F.size(words).alias("n_words"),
        bigrams.alias("bg"),
    )
    flat = base.select(
        "doc_id",
        "n_words",
        F.round(
            (F.size("ws") - F.size(F.array_distinct("ws")))
            / F.greatest(F.size("ws"), F.lit(1)),
            6,
        ).alias("dup_word_frac"),
        F.round(
            (F.size("bg") - F.size(F.array_distinct("bg")))
            / F.greatest(F.size("bg"), F.lit(1)),
            6,
        ).alias("dup_bigram_frac"),
    )
    counts = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return flat.join(counts, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "dup_bigram_frac",
        F.round(
            F.coalesce(F.col("top_c"), F.lit(0))
            / F.greatest(F.col("n_words"), F.lit(1)),
            6,
        ).alias("top_word_frac"),
    )


def repetition_stats_sql(table: str = "documents") -> str:
    bigrams = (
        f"CASE WHEN len({WORDS_SQL}) >= 2 THEN "
        f"list_transform(range(1, len({WORDS_SQL})), "
        f"i -> array_to_string({WORDS_SQL}[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)], ' ')) "
        f"ELSE [] END"
    )
    return f"""
WITH flat AS (
  SELECT doc_id,
         len({WORDS_SQL}) AS n_words,
         round((len({WORDS_SQL}) - len(list_distinct({WORDS_SQL})))
               / greatest(len({WORDS_SQL}), 1), 6) AS dup_word_frac,
         round((len({bigrams}) - len(list_distinct({bigrams})))
               / greatest(len({bigrams}), 1), 6) AS dup_bigram_frac
  FROM {table}
), counts AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest({WORDS_SQL}) AS w FROM {table})
    GROUP BY doc_id, w
  ) GROUP BY doc_id
)
SELECT f.doc_id, f.n_words, f.dup_word_frac, f.dup_bigram_frac,
       round(COALESCE(c.top_c, 0) / greatest(f.n_words, 1), 6) AS top_word_frac
FROM flat f LEFT JOIN counts c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# denylist scrubbing (the PII-redaction pipeline shape)
# ---------------------------------------------------------------------------

def scrub_terms(docs: DataFrame, denylist: tuple[str, ...]) -> DataFrame:
    """Redact denylisted terms and report per-doc scrub stats:
    ``(doc_id, n_scrubbed, scrubbed_chars)``.

    This is the PII-redaction pipeline stage (emails / phone numbers /
    ids → ``[REDACTED]``): one ``regexp_replace`` over the text plus a
    match count, all in Catalyst — a pure map stage with NO shuffle, so
    at 100 TB it runs at scan speed and composes with any downstream
    filter. The synthetic corpus contains no real PII, so the gate
    query scrubs a word denylist; swapping the pattern for an
    email/phone regex changes nothing structurally (the pattern is
    word-boundary-anchored alternation, expressible identically in
    Java regex and RE2 — keep to that common subset when adding
    patterns).
    """
    if not denylist:
        raise ValueError("denylist must be non-empty")
    pat = r"\b(" + "|".join(denylist) + r")\b"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).alias("n_scrubbed"),
        F.length(F.regexp_replace(F.col("text"), pat, "[REDACTED]")).alias(
            "scrubbed_chars"
        ),
    )


def scrub_terms_sql(denylist: tuple[str, ...], table: str = "documents") -> str:
    pat = r"\b(" + "|".join(denylist) + r")\b"
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER) AS n_scrubbed,
       CAST(length(regexp_replace(text, '{pat}', '[REDACTED]', 'g')) AS INTEGER)
         AS scrubbed_chars
FROM {table}
"""


def surprisal_score(docs: DataFrame) -> DataFrame:
    """Corpus-conditioned unigram surprisal quality score — the
    "perplexity-ish" doc filter of training pipelines, made
    integer-exact so a DuckDB oracle reproduces it bit-for-bit.

    A token occurring ``cnt`` times in a corpus of ``N`` tokens
    carries ``floor(log2(N div cnt))`` whole BITS of surprisal —
    computed as ``length(bin(N div cnt)) - 1``, i.e. pure integer bit
    arithmetic, never a float ``log`` (whose last-ulp rounding is not
    guaranteed identical across engines). A document's score is the
    sum of its tokens' bit-surprisals (with multiplicity): template/
    boilerplate docs full of stop-tokens score near 0 bits/token;
    rare-vocabulary docs score high; the downstream quantile filter
    (`queries/curation.py:quality_quantile_filter` pattern) picks
    the band to keep.

    Plan shape: one token explode feeding (a) the corpus vocab
    aggregate and (b) the per-doc sum — the vocab (distinct tokens,
    Zipf-bounded) is broadcast back onto the token stream, and the
    corpus-total ``N`` is a 1-row scalar broadcast, so the only
    corpus-wide shuffle is the vocab aggregate's map-side-combined
    ``groupBy(tok)``. Output is one row per doc, integer columns only.
    """
    toks = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("long").alias("n_total"))
    # floor(log2(N div cnt)) via binary-string length: exact integers
    surpr = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        (
            F.length(F.bin(F.expr("n_total div cnt"))) - 1
        ).cast("long").alias("bits"),
    )
    # no forced broadcast: the vocab is Zipf-SMALL on natural corpora
    # but corpus-dependent, not budget-bounded — AQE broadcasts it when
    # it fits and falls back to a shuffle join when a pathological
    # corpus (random strings) blows the vocab up
    per_doc = (
        toks.join(surpr, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("surprisal_bits"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce(F.col("surprisal_bits"), F.lit(0).cast("long")).alias(
                "surprisal_bits"
            ),
        )
    )


def surprisal_score_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`surprisal_score` — ``printf('%b', x)``
    is the engine's exact binary rendering, the twin of Spark's
    ``bin()``; integer division before the log keeps both sides in
    integer arithmetic end to end."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({WORDS_SQL}) AS tok FROM {table}
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab
), surpr AS (
  SELECT tok,
         CAST(length(printf('%b', n_total // cnt)) - 1 AS BIGINT) AS bits
  FROM vocab, total
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(bits) AS BIGINT) AS surprisal_bits
  FROM toks JOIN surpr USING (tok) GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.surprisal_bits, 0) AS surprisal_bits
FROM {table} t LEFT JOIN per_doc p USING (doc_id)
"""


def bigram_surprisal_score(docs: DataFrame) -> DataFrame:
    """Bigram extension of :func:`surprisal_score` — the next step up
    the n-gram-LM quality ladder: a document whose ADJACENT token
    pairs are corpus-frequent (boilerplate, templates) scores low
    bits/bigram even when its unigrams are unremarkable, and
    word-salad (rare pairs of common words) scores high. Same
    integer-bits contract: ``floor(log2(N_bigrams div cnt))`` per
    bigram, summed with multiplicity; no float log anywhere.

    Plan shape mirrors the unigram form: one bigram explode feeding
    the corpus bigram-count aggregate and the per-doc sum; the bigram
    table joins back WITHOUT a forced broadcast (bigram vocab grows
    faster than unigram — quadratic in principle, Zipf-tempered in
    practice — so AQE must keep the right to shuffle-join it).
    """
    words = words_col(F.col("text"))
    # CASE guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]), so a
    # 0/1-token doc would index past the array — emit no bigrams instead
    bigrams = F.expr(ngrams_expr(2, "__w"))
    toks = (
        docs.select("doc_id", words.alias("__w"))
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    vocab = toks.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("long").alias("n_total"))
    surpr = vocab.crossJoin(F.broadcast(total)).select(
        "bg",
        (F.length(F.bin(F.expr("n_total div cnt"))) - 1)
        .cast("long")
        .alias("bits"),
    )
    per_doc = (
        toks.join(surpr, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("surprisal_bits"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            F.coalesce(F.col("surprisal_bits"), F.lit(0).cast("long")).alias(
                "surprisal_bits"
            ),
        )
    )


def bigram_surprisal_score_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`bigram_surprisal_score`."""
    return f"""
WITH src AS (
  SELECT doc_id, {WORDS_SQL} AS ws FROM {table}
), toks AS (
  SELECT doc_id,
         ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i + 1 AS INTEGER)] AS bg
  FROM src, unnest(generate_series(1, len(ws) - 1)) u(i)
), vocab AS (
  SELECT bg, count(*) AS cnt FROM toks GROUP BY bg
), total AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab
), surpr AS (
  SELECT bg,
         CAST(length(printf('%b', n_total // cnt)) - 1 AS BIGINT) AS bits
  FROM vocab, total
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(bits) AS BIGINT) AS surprisal_bits
  FROM toks JOIN surpr USING (bg) GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.surprisal_bits, 0) AS surprisal_bits
FROM {table} t LEFT JOIN per_doc p USING (doc_id)
"""


def importance_score(
    docs: DataFrame,
    target,
    n_buckets: int = 4096,
    portable: bool = False,
) -> DataFrame:
    """DSIR-style data selection score (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): rank
    every document by how target-like its hashed-bigram feature
    profile is, where ``target`` is a boolean column/expression
    marking the in-domain exemplar docs. DSIR's importance weight is
    ``sum(log(p_t(b) / p_b(b)))`` over the doc's hashed n-gram
    buckets; this variant keeps the same feature space (bigrams hashed
    into ``n_buckets`` buckets) but scores with the integer
    cross-multiplied proportion gap ``sum(cnt_t[b]*N_b - cnt_b[b]*N_t)``
    — positive = target-like — so the result is float-free and
    bit-reproducible (same contract as ``drift.vocab_shift``). Returns
    ``(doc_id, n_bigrams, score_num)``, one row per input doc; docs
    with <2 tokens score (0, 0).

    Plan: ONE bigram explode scan feeds both (a) the bucket-count
    aggregate — map-side combined down to at most ``n_buckets`` rows,
    then weighted by a 1-row totals broadcast — and (b) the per-doc
    sum, which joins the weights back by an explicit
    ``F.broadcast`` (the table is bounded by ``n_buckets``, never
    corpus-sized) and shuffles only on ``doc_id``. Linear in corpus
    token count at any scale; no pair expansion anywhere.

    int64 bound: ``|weight| <= max(cnt)*max(N)``; safe while each
    side's total bigram count stays under ~3e9. Beyond that, cast the
    two products to ``decimal(38,0)`` (DuckDB HUGEINT twin) — ranking
    is unchanged.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    words = words_col(F.col("text"))
    bigrams = F.expr(ngrams_expr(2, "__w"))
    toks = (
        docs.select(
            "doc_id",
            F.when(target, F.lit(1)).otherwise(F.lit(0)).alias("__t"),
            words.alias("__w"),
        )
        .select("doc_id", "__t", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            "__t",
            (hash31(F.col("bg"), portable) % n_buckets).alias("bk"),
        )
    )
    buckets = toks.groupBy("bk").agg(
        F.sum("__t").cast("long").alias("cnt_t"),
        F.sum(1 - F.col("__t")).cast("long").alias("cnt_b"),
    )
    totals = buckets.agg(
        F.sum("cnt_t").cast("long").alias("__nt"),
        F.sum("cnt_b").cast("long").alias("__nb"),
    )
    weights = buckets.crossJoin(F.broadcast(totals)).select(
        "bk",
        (
            F.col("cnt_t") * F.col("__nb") - F.col("cnt_b") * F.col("__nt")
        ).alias("__wt"),
    )
    per_doc = (
        toks.join(F.broadcast(weights), "bk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("__wt").cast("long").alias("score_num"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            F.coalesce(F.col("score_num"), F.lit(0).cast("long")).alias(
                "score_num"
            ),
        )
    )


def importance_score_sql(
    target_sql: str, n_buckets: int = 4096, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`importance_score` (portable hash family)."""
    bk = f"({md5int_sql('bg')} % {MERSENNE31}) % {n_buckets}"
    return f"""
WITH src AS (
  SELECT doc_id, CASE WHEN {target_sql} THEN 1 ELSE 0 END AS t,
         {WORDS_SQL} AS ws
  FROM {table}
), toks AS (
  SELECT doc_id, t,
         {bk.replace('bg', "(ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i + 1 AS INTEGER)])")} AS bk
  FROM src, unnest(generate_series(1, len(ws) - 1)) u(i)
), buckets AS (
  SELECT bk, CAST(sum(t) AS BIGINT) AS cnt_t,
         CAST(sum(1 - t) AS BIGINT) AS cnt_b
  FROM toks GROUP BY bk
), totals AS (
  SELECT CAST(sum(cnt_t) AS BIGINT) AS nt,
         CAST(sum(cnt_b) AS BIGINT) AS nb
  FROM buckets
), weights AS (
  SELECT bk, cnt_t * nb - cnt_b * nt AS wt FROM buckets, totals
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(wt) AS BIGINT) AS score_num
  FROM toks JOIN weights USING (bk) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.score_num, 0) AS score_num
FROM {table} d LEFT JOIN per_doc p USING (doc_id)
"""


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty against the lower-``doc_id`` corpus:
    how many of a document's distinct word ``n``-grams does it
    INTRODUCE (no earlier document contains them)? The streaming-order
    diagnostic behind "is new data still adding anything" curation
    calls — a crawl snapshot whose novel-gram ratio collapses is
    re-crawling what the corpus already has (cf. the RefinedWeb /
    C4-style dedup ablations, which track exactly this curve).

    Output: ``(doc_id, total_grams, novel_grams)``; a gram is novel in
    the UNIQUE earliest document containing it (``min(doc_id)``), so
    corpus-wide ``sum(novel_grams)`` = the corpus's distinct-gram count
    exactly — duplicates never double-count.

    Plan: distinct-gram explode (the shared lookahead-regex shingle
    builder, `dedup.py:shingles_expr`) → one map-side-combined
    ``min(doc_id)`` per gram, from which the per-doc NOVEL counts are
    a direct second aggregate (``groupBy(first_doc)``) — no join back
    to the corpus-scale gram table at all (the join formulation
    re-shuffled every gram a second time; measured 2.3× slower at 50k
    docs, PERF.md round-7). Totals are their own per-doc aggregate;
    the two doc-level tables join on doc_id. Nothing quadratic: work
    is O(corpus grams), state per reducer is one long per distinct
    gram."""
    from .dedup import shingles_expr

    grams = docs.select(
        "doc_id", F.explode(F.expr(shingles_expr(n))).alias("gram")
    )
    total = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("total_grams")
    )
    novel = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__novel"))
    )
    return total.join(novel, "doc_id", "left").select(
        "doc_id",
        "total_grams",
        F.coalesce(F.col("__novel"), F.lit(0))
        .cast("long")
        .alias("novel_grams"),
    )


def ngram_novelty_sql(table: str = "documents", n: int = 3) -> str:
    """DuckDB twin of :func:`ngram_novelty`."""
    from .dedup import shingles_sql

    return f"""
WITH g AS (SELECT doc_id, unnest({shingles_sql(n)}) AS gram FROM {table}),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS total_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_grams
FROM g JOIN f USING (gram)
GROUP BY g.doc_id
"""


def pmi_term_pairs(
    docs: DataFrame, top_v: int = 100, top_n: int = 50
) -> DataFrame:
    """Collocation mining: the ``top_n`` co-occurring term pairs among
    the ``top_v`` most document-frequent words, ranked by milli-lift —
    ``lift_milli = (1000·c_ij·N) div (c_i·c_j)``, the integer-quantized
    e^PMI (same ordering as PMI since log is monotone; ``div`` keeps
    the gate float-free). Output: ``(w1, w2, pair_docs, w1_docs,
    w2_docs, lift_milli, rank)`` — all counts are DOCUMENT frequencies
    (distinct per doc), the standard collocation convention.

    Scale shape: the vocab is a distributed ``orderBy().limit(top_v)``
    top-k, then BROADCAST; pairs come from a self-equi-join of the
    vocab-restricted (doc, term) table on ``doc_id`` with ``w1 < w2``
    — group sizes are bounded by ``top_v``, so join output is
    ``Σ m_d² <= top_v²·N`` rows flowing straight into a map-side-
    combined pair count (measured 8× faster than the array
    nested-transform expansion at 50k docs: the join is whole-stage
    codegen, the per-element ``slice``/``transform`` HOF chain is
    interpreted array copying — PERF.md round-7 PMI note). The
    (doc, term) table is materialized once and feeds both join sides.
    Integer magnitudes: ``1000·c_ij·N <= 1000·N²`` needs N < ~3·10⁶
    docs for long arithmetic — shard the corpus or drop the 1000
    quantizer above that."""
    from pyspark.sql import Window

    if top_v < 2:
        raise ValueError("top_v must be >= 2")
    terms = docs.select(
        "doc_id", F.explode(F.array_distinct(words_col(F.col("text")))).alias("w")
    )
    dfreq = terms.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = dfreq.orderBy(F.desc("c"), F.asc("w")).limit(top_v)
    from ..persist import materialize

    in_vocab = materialize(
        terms.join(F.broadcast(vocab.select("w")), "w")
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
    pairs = (
        in_vocab.select("doc_id", F.col("w").alias("w1"))
        .join(in_vocab.select("doc_id", F.col("w").alias("w2")), "doc_id")
        .where(F.col("w1") < F.col("w2"))
        .select("w1", "w2")
    )
    pc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("pair_docs")
    )
    v1 = vocab.select(F.col("w").alias("w1"), F.col("c").alias("w1_docs"))
    v2 = vocab.select(F.col("w").alias("w2"), F.col("c").alias("w2_docs"))
    scored = (
        pc.join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "lift_milli",
            F.expr("(1000 * pair_docs * __n) div (w1_docs * w2_docs)").cast(
                "long"
            ),
        )
    )
    w = Window.partitionBy(F.pmod(F.col("pair_docs"), F.lit(1))).orderBy(
        F.desc("lift_milli"), F.asc("w1"), F.asc("w2")
    )
    return (
        scored.orderBy(F.desc("lift_milli"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "w1",
            "w2",
            "pair_docs",
            F.col("w1_docs").cast("long").alias("w1_docs"),
            F.col("w2_docs").cast("long").alias("w2_docs"),
            "lift_milli",
            "rank",
        )
    )


def pmi_term_pairs_sql(
    table: str = "documents", top_v: int = 100, top_n: int = 50
) -> str:
    """DuckDB twin of :func:`pmi_term_pairs` (engine-native windows,
    explicit i<j self-join instead of the array pair expansion)."""
    return f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest({WORDS_SQL}) AS w FROM {table}
),
vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM terms GROUP BY w
  ORDER BY c DESC, w ASC LIMIT {top_v}
),
iv AS (SELECT t.doc_id, t.w FROM terms t JOIN vocab v USING (w)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {table}),
pc AS (
  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS pair_docs
  FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
),
scored AS (
  SELECT pc.w1, pc.w2, pc.pair_docs,
         v1.c AS w1_docs, v2.c AS w2_docs,
         CAST((1000 * pc.pair_docs * n.n_docs)
              // (v1.c * v2.c) AS BIGINT) AS lift_milli
  FROM pc
  JOIN vocab v1 ON v1.w = pc.w1
  JOIN vocab v2 ON v2.w = pc.w2
  CROSS JOIN n
)
SELECT w1, w2, pair_docs, w1_docs, w2_docs, lift_milli,
       CAST(row_number() OVER (
           ORDER BY lift_milli DESC, w1 ASC, w2 ASC
       ) AS BIGINT) AS rank
FROM scored
ORDER BY rank
LIMIT {top_n}
"""


def gram_state(docs: DataFrame, n: int = 3) -> DataFrame:
    """Persistable novelty state for :func:`novelty_against_state`:
    the corpus's distinct word-``n``-gram set as one ``gram`` column —
    no text, one row per distinct gram. At warehouse scale persist it
    bucketed by ``gram`` (sources/warehouse.py) so each batch's
    novelty join is bucket-local."""
    from .dedup import shingles_expr

    return docs.select(
        F.explode(F.expr(shingles_expr(n))).alias("gram")
    ).distinct()


def novelty_against_state(
    new_docs: DataFrame, state: DataFrame, n: int = 3
) -> DataFrame:
    """Incremental n-gram novelty: per NEW document, how many of its
    distinct ``n``-grams are absent from an already-ingested gram
    state — the streaming-ingest form of :func:`ngram_novelty` ("did
    this crawl snapshot add anything?"), pairing with
    ``incremental_dedup``'s batch-advance discipline: union the kept
    batch's :func:`gram_state` into ``state`` to advance it, and the
    update is associative (any batch split yields the same final
    state).

    Output: ``(doc_id, total_grams, novel_grams)`` — ``novel`` counts
    grams in NO state row (batch-internal repeats still count as novel
    in EVERY batch doc carrying them; novelty is vs the state, not vs
    the batch — apply :func:`ngram_novelty` inside the batch for
    that). One gram explode + one left-anti-style join on ``gram``
    (broadcast when the state is small, shuffle-on-gram otherwise —
    AQE's call), then a per-doc aggregate."""
    from .dedup import shingles_expr

    grams = new_docs.select(
        "doc_id", F.explode(F.expr(shingles_expr(n))).alias("gram")
    )
    hit = state.select("gram").distinct().withColumn("__seen", F.lit(1))
    return (
        grams.join(hit, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_grams"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("novel_grams"),
        )
    )


def novelty_against_state_sql(
    new_sql: str, state_sql: str, n: int = 3
) -> str:
    """DuckDB twin of :func:`novelty_against_state`; ``new_sql`` /
    ``state_sql`` are SELECTs producing (doc_id, text) and (text) (the
    state is built with the same shingle expression)."""
    from .dedup import shingles_sql

    sh = shingles_sql(n)
    return f"""
WITH g AS (
  SELECT doc_id, unnest({sh}) AS gram FROM ({new_sql}) __n
),
st AS (
  SELECT DISTINCT unnest({sh}) AS gram FROM ({state_sql}) __s
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS total_grams,
       CAST(sum(CASE WHEN st.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_grams
FROM g LEFT JOIN st USING (gram)
GROUP BY g.doc_id
"""


def zipf_stats(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Vocabulary-shape report per group: token mass, distinct words,
    hapax legomena (frequency-1 words — the Heaps'/Zipf tail whose
    share collapses when a corpus is template spam or inflates under
    OCR noise), and the modal word's count. Output: ``(group,
    n_tokens, n_distinct, n_hapax, top_freq)``, exact longs — the
    corpus-linguistics QA card next to `corpus_report_by_source`.

    Two map-side-combined aggregates (word counts per group, then the
    group rollup) — state bounded by group vocabularies."""
    wc = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(words_col(F.col("text"))).alias("w"),
        )
        .groupBy("__g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("__g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.max("c").cast("long").alias("top_freq"),
    ).select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "n_distinct",
        "n_hapax",
        "top_freq",
    )


def zipf_stats_sql(table: str = "documents", group_col: str = "source") -> str:
    """DuckDB twin of :func:`zipf_stats`."""
    return f"""
WITH wc AS (
  SELECT {group_col} AS g, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT {group_col}, unnest({WORDS_SQL}) AS w FROM {table}) __t
  GROUP BY g, w
)
SELECT g AS {group_col},
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(max(c) AS BIGINT) AS top_freq
FROM wc GROUP BY g
"""


def quality_dup_deciles(docs: DataFrame, n_bins: int = 10) -> DataFrame:
    """Quality-vs-duplication correlation audit: bucket documents into
    global quality-score n-tiles (the distributed arithmetic-ntile
    machinery — NO single-partition window) and count exact duplicates
    per bucket — the "is low-quality text also the duplicated text?"
    scatter every dedup ablation reports (Lee et al. 2022 observe
    exactly this coupling). Output: ``(q_bin, n_docs, n_dup_docs)``,
    ``n_dup_docs`` = docs whose text digest appears more than once in
    the corpus.

    Plan: quality features (one map stage) → exact global rank over
    (quality_score, doc_id) via range-repartition + broadcast offsets
    (:func:`~bunsen_spark.operators.windows.global_row_number`) →
    arithmetic ntile from (rank, N); duplicate digests are one
    md5 group-by with AQE choosing the flag-join strategy; the final
    aggregate has ``n_bins`` groups."""
    from ..persist import materialize
    from .windows import global_row_number, ntile_from_rank

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    scored = materialize(
        quality_score(docs)
        .select("doc_id", "quality_score")
        .join(docs.select("doc_id", F.md5("text").alias("__d")), "doc_id")
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("__n"))
    ranked = global_row_number(
        scored,
        [F.col("quality_score").asc(), F.col("doc_id").asc()],
        out_col="__k",
    ).crossJoin(F.broadcast(n_tot))
    binned = ranked.select(
        "__d", ntile_from_rank("__k", "__n", n_bins).alias("q_bin")
    )
    dup = (
        scored.groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("__d", F.lit(1).alias("__dup"))
    )
    return (
        binned.join(dup, "__d", "left")
        .groupBy("q_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup_docs"),
        )
    )


def quality_dup_deciles_sql(table: str = "documents", n_bins: int = 10) -> str:
    """DuckDB twin of :func:`quality_dup_deciles` (engine-native
    ``ntile`` — the gate pins the arithmetic-ntile identity on real
    data, same contract as the RFM gate)."""
    q = quality_score_sql(table)
    return f"""
WITH q AS ({q}),
scored AS (
  SELECT q.doc_id, q.quality_score, md5(d.text) AS dg
  FROM q JOIN {table} d USING (doc_id)
),
binned AS (
  SELECT dg, CAST(ntile({n_bins}) OVER (
      ORDER BY quality_score ASC, doc_id ASC) AS BIGINT) AS q_bin
  FROM scored
),
dup AS (
  SELECT dg FROM scored GROUP BY dg HAVING count(*) > 1
)
SELECT q_bin, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dup.dg IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_dup_docs
FROM binned LEFT JOIN dup USING (dg)
GROUP BY q_bin
"""


def gini_concentration(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Gini coefficient of the token-frequency distribution —
    the vocabulary-concentration QA card: near 0 = tokens spread evenly
    (healthy prose), near 1 = a few tokens dominate (template spam /
    boilerplate mills). Exact integer arithmetic end to end via the
    rank formula  G = (2·Σ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ)  with
    frequencies ranked ascending (ties broken by token text), reported
    micro-scaled as ``gini_micro = 10⁶·numerator div denominator``.

    100 TB design: one corpus-scale word explode feeding a map-side-
    combinable (group, word) count; everything after is VOCABULARY-
    sized — the per-group rank window orders at most |vocab| rows per
    group, never corpus positions."""
    from pyspark.sql import Window

    words = df.select(
        F.col(group_col), F.explode(words_col(F.col(text_col))).alias("w")
    )
    counts = words.groupBy(group_col, "w").agg(F.count("*").cast("long").alias("c"))
    wnd = Window.partitionBy(group_col).orderBy(F.asc("c"), F.asc("w"))
    ranked = counts.withColumn("i", F.row_number().over(wnd).cast("long"))
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("c").cast("long").alias("total_tokens"),
            F.sum(F.col("i") * F.col("c")).cast("long").alias("__ic"),
        )
        .withColumn(
            "__num",
            (
                2 * F.col("__ic").cast("decimal(38,0)")
                - (F.col("n_terms") + 1).cast("decimal(38,0)")
                * F.col("total_tokens")
            )
            * 1000000,
        )
        .withColumn(
            "__den",
            F.col("n_terms").cast("decimal(38,0)") * F.col("total_tokens"),
        )
        .select(
            group_col,
            "n_terms",
            "total_tokens",
            # decimal(38,0) intermediates, same as fano_dispersion: at
            # corpus scale n_terms·total_tokens·10⁶ blows past 2^63 and
            # non-ANSI int64 would wrap silently while the DuckDB twin
            # promotes to HUGEINT. div floor == trunc here since the
            # numerator is >= 0 by the Chebyshev sum inequality.
            F.expr("__num div __den").cast("long").alias("gini_micro"),
        )
    )


def gini_concentration_sql(
    table: str = "documents", group_col: str = "source"
) -> str:
    return f"""
WITH words AS (
  SELECT {group_col}, unnest({WORDS_SQL}) AS w FROM {table}
),
counts AS (
  SELECT {group_col}, w, CAST(count(*) AS BIGINT) AS c
  FROM words GROUP BY {group_col}, w
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY {group_col} ORDER BY c, w) AS BIGINT) AS i
  FROM counts
)
SELECT {group_col}, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(c) AS BIGINT) AS total_tokens,
       CAST((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 1000000
           // (count(*) * sum(c)) AS BIGINT) AS gini_micro
FROM ranked GROUP BY {group_col}
"""
