"""Deduplication operators for training-data pipelines: exact,
shingle-Jaccard (inverted index), MinHash+LSH, SimHash, and
embedding-cosine near-duplicate detection.

Beyond-reference scale extension (SURVEY §7 M7). Design for 100 TB:

- **exact**: one hash-aggregate on a text digest — a single shuffle on
  a 32-byte key, never on the text itself.
- **jaccard_pairs**: exact set-Jaccard via PPJoin rarest-first prefix
  filtering over the hashed inverted index (the shared
  :mod:`setjoin` core) — candidates are bounded by the rarest tokens
  of each set, never a posting-list pair expansion (the O(Σ df²) form
  measured superlinear at 10× data; PERF.md "Round-7"). ``max_df``
  stop-shingle pruning still applies to BOTH the intersection and the
  per-doc sizes, keeping the pruned measure self-consistent.
- **minhash_lsh_pairs**: candidate generation is |docs| × bands rows
  (constant per doc), so the pair-join only sees docs agreeing on a
  full band — the classic sub-quadratic near-dup path. Candidates are
  verified with the exact Jaccard, so precision is 1 and only recall
  is approximate.
- **simhash_pairs**: 32-bit signature, 4 × 8-bit bands; candidate
  pairs share a band byte, verified by Hamming distance.
- **embedding_near_dup_pairs**: exact all-pairs cosine threshold, as a
  numpy matmul against a broadcast corpus matrix when the one
  gather-or-scatter rule accepts the corpus, else block pair by block
  pair after a shuffle (the LSH-bucketed scale path lives in
  :mod:`bunsen_spark.operators.similarity`).

The text-side operators are integer / fixed-order arithmetic over a
portable md5 hash (see :mod:`text_analysis`) in pure Catalyst
expressions, so DuckDB oracles reproduce results bit-for-bit; the
embedding operator is the one vectorized-Python stage (Arrow-batched,
no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_analysis import MERSENNE31, gram_regex as _gram_regex, hash31, md5int, md5int_sql
from ..persist import materialize, materialize_eager, release

#: word n-gram order used by the similarity-family dedup operators —
#: unigram word sets are non-discriminative on low-vocabulary corpora
#: (nearly all pairs exceed any threshold), 3-grams key on word ORDER
SHINGLE_N = 3

WORDS_DISTINCT = "array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
WORDS_DISTINCT_SQL = "list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))"

# -- exact dedup -------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate grouping by text digest: one row per distinct
    text with the representative (minimum) doc_id and the duplicate
    count. Output: (fingerprint, keep_id, n_docs)."""
    return (
        docs.groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def exact_dedup_sql(table: str = "documents") -> str:
    return f"""
SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_docs
FROM {table} GROUP BY md5(text)
"""


# -- shingle helpers ---------------------------------------------------------


def shingles_expr(n: int) -> str:
    """Distinct word ``n``-gram shingles of ``text`` (Spark SQL expr).

    One regex pass over the space-normalized token sentence via a
    zero-width lookahead capture (see :func:`_gram_regex`) instead of
    the former n-1 interpreted ``zip_with`` passes: measured 2.9×
    faster at gen-sf1 (8.39 s -> 2.86 s for construction + per-gram
    hash force, identical row count AND value hash; PERF.md "Round-11:
    vectorized shingle constructor"). The fully-codegen
    explode(sequence)+slice form is 8.2× but loses per-doc
    distinctness, which downstream jaccard/novelty semantics need —
    re-deduplicating would cost a (doc_id, gram) shuffle, the wrong
    trade at 100 TB where this map-only shape keeps shingling inside
    the scan stage. Documents with fewer than ``n`` words produce one
    shingle joining all their words (the DuckDB twins pin it)."""
    words = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
    if n == 1:
        return WORDS_DISTINCT
    return (
        f"array_distinct(CASE WHEN size({words}) < {n}"
        f" THEN array(concat_ws(' ', {words}))"
        f" ELSE regexp_extract_all(concat_ws(' ', {words}), '{_gram_regex(n)}', 1)"
        f" END)"
    )


def shingles_sql(n: int) -> str:
    if n == 1:
        return WORDS_DISTINCT_SQL
    words = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({words}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string({words}[CAST(i AS INTEGER):CAST(i + {n - 1} AS INTEGER)], ' ')))"
    )



def _with_shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingles array<string>): word n-gram shingles via one
    zero-width-lookahead regex pass over the space-joined token
    sentence (see :func:`shingles_expr` for semantics, the measured
    A/B history — round-6 zip_with 3.4× over naive transform, round-11
    regex 2.9× over zip_with — and why the 8.2× non-distinct codegen
    form is the wrong trade). Map-only: shingling stays embarrassingly
    parallel inside the scan stage at any scale.

    Documents with fewer than ``n`` words produce one shingle joining
    all their words (preserved exactly — the DuckDB twins pin it)."""
    words = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    base = docs.select("doc_id", words.alias("__w"))
    if n == 1:
        sh = F.array_distinct(F.col("__w"))
    else:
        sh = F.expr(
            f"array_distinct(CASE WHEN size(__w) < {n}"
            f" THEN array(concat_ws(' ', __w))"
            f" ELSE regexp_extract_all(concat_ws(' ', __w), '{_gram_regex(n)}', 1)"
            f" END)"
        )
    return base.select("doc_id", sh.alias("shingles"))


# -- exact set-Jaccard via inverted index ------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    max_df: int = 1000,
    portable: bool = False,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over word ``n``-gram shingle sets,
    via prefix-filtered candidate join; shingles with document
    frequency > ``max_df`` are pruned everywhere (see module doc). Output:
    (a_id, b_id, jaccard) with jaccard ≥ threshold, rounded to 6.

    Postings are keyed by the 8-byte shingle hash, not the shingle
    string — the shuffles move longs instead of word n-grams (the
    oracle hashes identically, so parity holds under collisions, which
    also affect both engines' set sizes the same way).

    Candidate generation is PPJoin prefix filtering (the same rarest-
    first lossless core as :func:`setjoin.prefix_jaccard_pairs`), not a
    posting-list pair expansion: the inverted-index form emits O(df²)
    pair rows per shingle — measured superlinear at sf1 (soak α = 1.5,
    4.4 s → 139 s; PERF.md "Round-7: jaccard prefix") — while prefixes
    bound candidates by the RAREST tokens of each set. The hash is the
    token in this operator's similarity space, so hash equality is
    exact token equality and the positional-filter anchor argument
    holds. The pre-filters use a rational lower bound of ``threshold``
    (lossless — they may only relax), and the final comparison stays
    the IEEE double ``inter/union >= threshold`` the oracle pins.

    ``n='auto'`` (or any int width) runs through the saturation guard
    (:func:`setjoin._guarded_prefix_inputs`): a histogram probe refuses
    — or, for auto, escalates past — token spaces where the prefix join
    would go quadratic."""
    from .setjoin import (
        _guarded_prefix_inputs,
        _lossless_fraction,
        jaccard_prefix_candidates,
    )

    frac = _lossless_fraction(threshold)
    num, den = frac.numerator, frac.denominator
    ranked, prefix, sets = _guarded_prefix_inputs(
        lambda w: _pruned_postings(docs, w, max_df, portable), n, num, den,
        asymmetric=False, candidate_budget=candidate_budget,
    )
    cands = jaccard_prefix_candidates(ranked, num, den, prefix=prefix)
    return _verify_jaccard_pairs(
        cands.withColumnsRenamed({"doc_a": "a_id", "doc_b": "b_id"}),
        sets, sets, "a_id", "b_id", threshold,
    )


def _pruned_postings(
    docs: DataFrame, n: int, max_df: int, portable: bool
) -> DataFrame:
    """Shared df-pruned inverted index of the exact set-overlap
    operators: (doc_id, tok, df) rows over the hashed distinct shingle
    sets, with shingles appearing in more than ``max_df`` documents
    dropped everywhere (both the intersections and the set sizes are
    computed downstream from THIS relation, keeping the pruned measure
    self-consistent). One shingling scan + one df aggregate; the df
    column rides along so the prefix ranking needn't re-aggregate."""
    postings = _with_shingles(docs, n).select(
        "doc_id",
        F.explode(
            F.array_distinct(_shingle_hashes(F.col("shingles"), portable))
        ).alias("tok"),
    )
    kept = (
        postings.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
    )
    return postings.join(kept, "tok").select("doc_id", "tok", "df")


def containment_pairs(
    docs: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = 0.8,
    max_df: int = 1000,
    portable: bool = False,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A→B) = |A∩B| / |A| over
    word ``n``-gram shingle sets. Catches the doc-inside-doc cases that
    symmetric Jaccard misses — a short document quoted verbatim inside
    a much longer one has C ≈ 1 while J ≈ |A|/|B| ≈ 0, so a Jaccard
    threshold never fires. Real crawl pipelines dedup boilerplate and
    quotation inclusions this way.

    Output: (contained_id, container_id, containment) — one row per
    direction that clears ``threshold``, so a pair of equal sets yields
    two rows. Same df-pruned inverted index as :func:`jaccard_pairs`
    (``max_df`` stop-shingle pruning applies to both the intersection
    and the denominators, keeping the measure self-consistent);
    candidates come from the ASYMMETRIC prefix filter
    (:func:`setjoin.containment_prefix_candidates` — prefix of the
    contained side probed against full posting lists, lossless for the
    direction-either-way output), never an all-pairs posting expansion.
    The division is a single IEEE-exact op on integer-valued doubles,
    so the DuckDB oracle reproduces it bit-for-bit.

    ``n='auto'`` (or any int width) runs through the saturation guard
    (:func:`setjoin._guarded_prefix_inputs`): a histogram probe refuses
    — or, for auto, escalates past — the saturated-vocabulary regime
    where even the prefix×full join degrades to Σ df² (PERF.md
    round-8)."""
    from .setjoin import (
        _guarded_prefix_inputs,
        _lossless_fraction,
        containment_prefix_candidates,
        exact_intersections,
    )

    frac = _lossless_fraction(threshold)
    num, den = frac.numerator, frac.denominator
    ranked, prefix, sets = _guarded_prefix_inputs(
        lambda w: _pruned_postings(docs, w, max_df, portable), n, num, den,
        asymmetric=True, candidate_budget=candidate_budget,
    )
    cands = containment_prefix_candidates(ranked, num, den, prefix=prefix)
    both = exact_intersections(cands, sets, sets).withColumnsRenamed(
        {"doc_a": "a_id", "doc_b": "b_id"}
    )
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a_id").alias("contained_id"),
                    F.col("b_id").alias("container_id"),
                    (F.col("inter") / F.col("sza")).alias("c"),
                ),
                F.struct(
                    F.col("b_id").alias("contained_id"),
                    F.col("a_id").alias("container_id"),
                    (F.col("inter") / F.col("szb")).alias("c"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return directed.where(F.col("c") >= threshold).select(
        "contained_id", "container_id", F.round("c", 6).alias("containment")
    )


def containment_pairs_sql(
    table: str = "documents", n: int = SHINGLE_N, threshold: float = 0.8, max_df: int = 1000
) -> str:
    shingle_hash = f"{md5int_sql('s')} % {MERSENNE31}"
    return f"""
WITH postings AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform({shingles_sql(n)}, s -> {shingle_hash}))) AS s
  FROM {table}
), kept AS (
  SELECT s FROM postings GROUP BY s HAVING count(*) <= {max_df}
), pruned AS (
  SELECT p.doc_id, p.s FROM postings p JOIN kept USING (s)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM pruned a JOIN pruned b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), both_sizes AS (
  SELECT a_id, b_id, inter, sa.sz AS sza, sb.sz AS szb
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
), directed AS (
  SELECT a_id AS contained_id, b_id AS container_id, inter / sza AS c FROM both_sizes
  UNION ALL
  SELECT b_id AS contained_id, a_id AS container_id, inter / szb AS c FROM both_sizes
)
SELECT contained_id, container_id, round(c, 6) AS containment
FROM directed WHERE c >= {threshold}
"""


def jaccard_pairs_sql(
    table: str = "documents", n: int = SHINGLE_N, threshold: float = 0.5, max_df: int = 1000
) -> str:
    shingle_hash = f"{md5int_sql('s')} % {MERSENNE31}"
    return f"""
WITH postings AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform({shingles_sql(n)}, s -> {shingle_hash}))) AS s
  FROM {table}
), kept AS (
  SELECT s FROM postings GROUP BY s HAVING count(*) <= {max_df}
), pruned AS (
  SELECT p.doc_id, p.s FROM postings p JOIN kept USING (s)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM pruned a JOIN pruned b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, round(j, 6) AS jaccard FROM (
  SELECT a_id, b_id,
         inter / (sa.sz + sb.sz - inter) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
) WHERE j >= {threshold}
"""


# -- MinHash + LSH -----------------------------------------------------------

NUM_HASHES = 32
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS

#: fixed permutation constants (a_k * h + b_k) mod 2^31-1 — generated
#: from a deterministic formula so the DuckDB oracle embeds the same
#: literals.
MINHASH_A = [((k + 1) * 2654435761) % MERSENNE31 for k in range(NUM_HASHES)]
MINHASH_B = [(k * k * 912367 + 7) % MERSENNE31 for k in range(NUM_HASHES)]

def _shingle_hashes(col: Column, portable: bool = False) -> Column:
    # hash31: xxhash64 fast path by default; md5 family when a DuckDB
    # twin needs bit-exact parity (gate queries pin portable=True)
    return F.transform(col, lambda s: hash31(s, portable))


def minhash_signature(docs: DataFrame, portable: bool = False) -> DataFrame:
    """(doc_id, hs array<long>, sig array<long>): the distinct hashed
    shingle set and the ``NUM_HASHES``-wide MinHash signature over it.

    The string shingles never leave the map stage: both the signature
    AND the later exact-Jaccard verify work on the 8-byte shingle
    hashes, so downstream joins shuffle compact long arrays instead of
    word n-gram strings (~an order of magnitude smaller)."""
    base = _with_shingles(docs).select(
        "doc_id",
        F.array_distinct(_shingle_hashes(F.col("shingles"), portable)).alias("hs"),
    )
    # ONE parser-built expression instead of NUM_HASHES Python-side
    # transform/array_min constructions: the py4j round trips of the
    # per-permutation Column building were ~0.5 s of driver time per
    # fresh frame (r13 build-time ledger, OPTIMIZATION_r13.md §8); the
    # SQL text resolves to the identical (a_k * h + b_k) % M array_min
    # expressions, so results are byte-identical.
    sig = F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(hs, h -> ({MINHASH_A[k]} * h + {MINHASH_B[k]})"
            f" % {MERSENNE31}))"
            for k in range(NUM_HASHES)
        )
        + ")"
    )
    return base.select("doc_id", "hs", sig.alias("sig"))


def _band_keys() -> Column:
    """LSH band keys over a ``sig`` column: one string per band,
    concatenating the band's ``ROWS_PER_BAND`` signature slots.
    Parser-built (one py4j call) — resolves to the same concat_ws over
    element_at slots as the former per-band Column construction."""
    return F.expr(
        "array("
        + ", ".join(
            f"concat_ws('-', {i}, "
            + ", ".join(
                f"element_at(sig, {i * ROWS_PER_BAND + r + 1})"
                for r in range(ROWS_PER_BAND)
            )
            + ")"
            for i in range(BANDS)
        )
        + ")"
    )


def _band_candidates(
    a_sigs: DataFrame,
    b_sigs: DataFrame,
    a: str,
    b: str,
    keep: Column | None = None,
) -> DataFrame:
    """LSH candidate pairs ``(a, b)``: the docs of two MinHash signature
    frames (:func:`minhash_signature` rows) that agree on all
    ``ROWS_PER_BAND`` slots of some band. One band-key explode per
    side, one join on the key, one distinct — |docs| × bands rows, so
    the pair join only sees band collisions, never |a| × |b|.
    ``keep`` filters the joined rows before the distinct; it may use
    ``a``, ``b`` and the two set sizes ``sza`` / ``szb``."""
    x = a_sigs.select(
        F.col("doc_id").alias(a), F.size("hs").alias("sza"),
        F.explode(_band_keys()).alias("bk"),
    )
    y = b_sigs.select(
        F.col("doc_id").alias(b), F.size("hs").alias("szb"),
        F.explode(_band_keys()).alias("bk"),
    )
    pairs = x.join(y, "bk")
    if keep is not None:
        pairs = pairs.where(keep)
    return pairs.select(a, b).distinct()


def _verify_jaccard_pairs(
    cand: DataFrame,
    a_sets: DataFrame,
    b_sets: DataFrame,
    a: str,
    b: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification shared by the Jaccard operators:
    intersect the candidates' token sets (``(doc_id, hs)`` rows, through
    :func:`setjoin.exact_intersections`), keep pairs with the IEEE
    double Jaccard ≥ threshold, emit (a, b, jaccard rounded 6). One
    place owns the threshold/rounding semantics the DuckDB twins
    mirror."""
    from .setjoin import exact_intersections

    j = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        exact_intersections(cand, a_sets, b_sets, a, b)
        .select(a, b, j.alias("j"))
        .where(F.col("j") >= threshold)
        .select(a, b, F.round("j", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.5, portable: bool = False
) -> DataFrame:
    """Near-dup pairs: LSH banding proposes candidates (docs agreeing
    on all ``ROWS_PER_BAND`` signature slots of some band), exact
    Jaccard over the hashed shingle sets verifies (the oracle hashes
    identically, so parity is exact even under md5 collisions).
    Output: (a_id, b_id, jaccard ≥ threshold, rounded 6)."""
    # the signature stage (full-text regex shingling + NUM_HASHES
    # permutation mins) feeds three consumers (buckets, both verify
    # sides); an eager checkpoint materializes it once instead of three
    # times — state is (doc_id, hs, sig), far smaller than the text
    from .setjoin import _lossless_fraction

    sigs = minhash_signature(docs, portable).transform(materialize_eager)
    # size prefilter inside the band join: J >= t forces
    # min(|A|,|B|) >= t*max(|A|,|B|) (intersection <= min, union >= max),
    # so chance band collisions between very differently-sized sets are
    # dropped on two ints before the distinct and the hs-array verify.
    # Lossless for the output (the dropped pairs cannot pass verify);
    # num/den <= t keeps the integer cross-multiplication a relaxation.
    frac = _lossless_fraction(threshold)
    num, den = frac.numerator, frac.denominator
    cand = _band_candidates(
        sigs, sigs, "a_id", "b_id",
        (F.col("a_id") < F.col("b_id"))
        & (F.least("sza", "szb") * den >= F.greatest("sza", "szb") * num),
    )
    return _verify_jaccard_pairs(cand, sigs, sigs, "a_id", "b_id", threshold)


def _minhash_ctes_sql(table: str, flag: tuple[str, str] | None = None) -> str:
    """The DuckDB twins' MinHash CTEs over ``table``: ``base`` (doc_id,
    distinct md5 shingle hashes ``hs``), ``sigs`` (+ the ``NUM_HASHES``
    signature ``sig``) and ``buckets`` (one row per band key ``bk``) —
    the SQL text of :func:`minhash_signature` and :func:`_band_keys`
    with ``portable=True``. ``flag = (expr, name)`` adds the boolean
    column ``name`` to all three (which side of a split a doc is on).
    Ends after ``buckets``, so callers continue with ``, cand AS (``."""
    shingle_hash = f"{md5int_sql('s')} % {MERSENNE31}"
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({MINHASH_A[k]} * h + {MINHASH_B[k]}) % {MERSENNE31}))"
        for k in range(NUM_HASHES)
    )
    band_keys = ", ".join(
        "concat_ws('-', "
        + f"{i}, "
        + ", ".join(f"sig[{i * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND))
        + ")"
        for i in range(BANDS)
    )
    extra, carry = (f",\n         ({flag[0]}) AS {flag[1]}", f"{flag[1]}, ") if flag else ("", "")
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(list_transform({shingles_sql(SHINGLE_N)}, s -> {shingle_hash})) AS hs{extra}
  FROM {table}
), sigs AS (
  SELECT doc_id, hs, {carry}[{mins}] AS sig FROM base
), buckets AS (
  SELECT doc_id, {carry}unnest([{band_keys}]) AS bk FROM sigs
)"""


def minhash_lsh_pairs_sql(table: str = "documents", threshold: float = 0.5) -> str:
    return _minhash_ctes_sql(table) + f""", cand AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
  FROM buckets x JOIN buckets y USING (bk)
  WHERE x.doc_id < y.doc_id
)
SELECT a_id, b_id, round(j, 6) AS jaccard FROM (
  SELECT a_id, b_id,
         len(list_intersect(sa.hs, sb.hs)) /
         (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS j
  FROM cand
  JOIN sigs sa ON sa.doc_id = a_id
  JOIN sigs sb ON sb.doc_id = b_id
) WHERE j >= {threshold}
"""


# -- benchmark decontamination (n-gram overlap vs a probe set) ---------------


def ngram_contamination(
    docs: DataFrame, probe: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """Benchmark decontamination check: for every corpus document, how
    many distinct word ``n``-gram shingles it shares with the (small)
    probe/benchmark set. Output: (doc_id, n_overlap) for contaminated
    docs only — feed the ids to a filter to drop them.

    Scale shape: probe shingles are distinct-collected and BROADCAST
    (benchmark suites are tiny next to a pretraining corpus), so the
    corpus side is one map + broadcast semi-match + one aggregation —
    the corpus text is never shuffled."""
    probe_shingles = (
        _with_shingles(probe, n)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    corpus = _with_shingles(docs, n).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    return (
        corpus.join(F.broadcast(probe_shingles), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


def ngram_contamination_sql(
    table: str = "documents", probe_filter: str = "doc_id < 10", n: int = SHINGLE_N
) -> str:
    return f"""
WITH probe AS (
  SELECT DISTINCT unnest({shingles_sql(n)}) AS s FROM {table} WHERE {probe_filter}
), corpus AS (
  SELECT doc_id, unnest({shingles_sql(n)}) AS s FROM {table} WHERE NOT ({probe_filter})
)
SELECT doc_id, count(*) AS n_overlap
FROM corpus JOIN probe USING (s)
GROUP BY doc_id
"""


# -- near-dup clustering (connected components + keep list) ------------------

#: label/min-frame rows below which the fixpoint loops broadcast the
#: node-sized side of each round's join instead of shuffling the edge
#: table by key every round (label rows are ~16-24 bytes, so the 10M
#: default is a few hundred MB built — well under broadcast caps).
#: A session that disables auto-broadcast (threshold -1/0) disables
#: these explicit hints too, so "never broadcast" stays one switch.
BROADCAST_LABELS_DEFAULT = 10_000_000


def _label_broadcast_cap(df: DataFrame) -> int:
    # row cap scales with the cluster's configured auto-broadcast
    # threshold (disabled threshold disables the hint too) — see
    # operators/_bcast.py
    from ._bcast import broadcast_row_cap

    return broadcast_row_cap(df.sparkSession, BROADCAST_LABELS_DEFAULT)


def near_dup_clusters(
    pairs: DataFrame, max_iterations: int = 20, algorithm: str = "auto"
) -> DataFrame:
    """Connected components over a near-dup pair graph → dedup clusters
    (the step a training pipeline runs AFTER pair finding: keep one
    document per cluster). Output: (doc_id, cluster_id, is_keeper) for
    every doc appearing in a pair; cluster_id is the component's
    minimum doc_id and its owner is the keeper.

    ``algorithm``:

    * ``"label-propagation"`` — each round every node takes the minimum
      label in its closed neighborhood (one join + one map-side-combined
      min agg; ``localCheckpoint`` cuts lineage per round). Rounds =
      component diameter: 2-4 for real near-dup graphs, but a chain of
      n docs needs n rounds. Raises ``RuntimeError`` if still changing
      after ``max_iterations`` — never silently returns wrong labels.
    * ``"star"`` — alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond"):
      every node links its higher/lower neighbors directly to the
      minimum of its closed neighborhood, so chains collapse in
      O(log n) rounds regardless of diameter.
    * ``"auto"`` (default) — label propagation for up to 4 rounds (the
      dense-component fast path, cheapest per round), then the star
      algorithm from the original edges if not yet converged. Both
      produce identical labels (component min), so the switch never
      changes results.
    """
    if algorithm not in ("auto", "label-propagation", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # canonicalize BEFORE the distinct, symmetrize after (map-only
    # union of two disjoint directions): the dedup exchange carries
    # half the rows of the symmetrized-then-distinct form. u == v
    # self-pairs are kept one-directional so their nodes still appear.
    canon = pairs.select(
        F.least("a_id", "b_id").alias("u"),
        F.greatest("a_id", "b_id").alias("v"),
    ).distinct()
    edges = (
        canon.union(
            canon.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("u"), F.col("u").alias("v")
            )
        )
        .transform(materialize_eager)
    )
    if algorithm == "star":
        labels = _star_components(edges, max_iterations)
    else:
        lp_budget = max_iterations if algorithm == "label-propagation" else min(4, max_iterations)
        labels = _label_propagation(edges, lp_budget)
        if labels is None:
            if algorithm == "label-propagation":
                raise RuntimeError(
                    f"near_dup_clusters did not converge in {max_iterations} "
                    "label-propagation rounds (component diameter exceeds the "
                    "budget); use algorithm='star' or raise max_iterations"
                )
            labels = _star_components(edges, max_iterations)
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("u") == F.col("label")).alias("is_keeper"),
    )


def _label_propagation(edges: DataFrame, max_rounds: int) -> DataFrame | None:
    """Min-label propagation; returns (u, label) on convergence, None
    if the budget ran out while labels were still changing.

    ONE Spark job per round (VERDICT r3 item 7): the per-row changed
    flag rides along in the new-label frame, the frame is LAZILY
    local-checkpointed, and the round's single ``sum(changed)`` action
    both answers convergence and materializes the checkpoint — no
    separate eager-checkpoint job, no second compare-join job.

    Round 1 needs no edges⋈labels join at all (labels are the identity,
    so the neighborhood minimum is just ``min(v) per u``). Rounds ≥ 2
    broadcast the node-sized label and min frames into their joins when
    the node count — counted for free inside round 1's convergence
    aggregate — is under :func:`_label_broadcast_cap`, so the edge
    table is never shuffled after its one materialization (guide
    §2.4/§3.1); above the cap the joins stay shuffle joins."""
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    cap = _label_broadcast_cap(edges)
    small = False
    prev: DataFrame | None = None

    def nsized(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    for rnd in range(max_rounds):
        if rnd == 0:
            nbr_min = edges.groupBy("u").agg(F.min("v").alias("nl"))
        else:
            nbr_min = (
                edges.join(
                    nsized(
                        labels.select(
                            F.col("u").alias("v"), F.col("label").alias("vlabel")
                        )
                    ),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("vlabel").alias("nl"))
            )
        new_labels = (
            labels.join(nsized(nbr_min), "u", "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias("label"),
                (F.coalesce("nl", F.col("label")) < F.col("label")).alias("__changed"),
            )
            .transform(materialize)
        )
        changed, n_nodes = new_labels.agg(
            F.coalesce(F.sum(F.col("__changed").cast("long")), F.lit(0)),
            F.count(F.lit(1)),
        ).first()
        small = n_nodes <= cap
        if prev is not None:
            release(prev)  # persist mode: free the superseded round
        prev = new_labels
        labels = new_labels.drop("__changed")
        if changed == 0:
            return labels
    return None


def _star_components(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Large-star/small-star alternation: each round every node u with
    closed-neighborhood minimum m re-links its larger (large-star) or
    not-larger (small-star) neighbors straight to m. Edge count stays
    O(|E|), chains halve per alternation → O(log n) rounds. Returns
    (u, label) for every node of ``edges``; raises on budget overrun
    (star's bound makes that a genuine anomaly, not a tuning issue)."""
    nodes = edges.select("u").distinct().transform(materialize_eager)
    cap = _label_broadcast_cap(edges)
    small = False  # set from each round's signature edge count

    def nsized(df: DataFrame) -> DataFrame:
        # min/label frames are node-sized; node count <= the symmetric
        # edge count the signature already measures, so that count
        # gates the broadcast without an extra job
        return F.broadcast(df) if small else df

    def star(e: DataFrame, large: bool) -> DataFrame:
        mins = e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        joined = e.join(nsized(mins), "u")
        relinked = joined.where(
            F.col("v") > F.col("u") if large else F.col("v") < F.col("u")
        ).select(F.col("v").alias("a"), F.col("m").alias("b"))
        if not large:  # small-star also links u itself to its minimum
            relinked = relinked.union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        sym = relinked.where(F.col("a") != F.col("b"))
        # lazy checkpoint: the round's signature job materializes both
        # stars at once — one job per round, not three (r3 item 7)
        return (
            sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .transform(materialize)
        )

    def signature(e: DataFrame):
        # bit_xor, not sum: xor of 64-bit hashes cannot overflow ANSI longs
        return tuple(
            e.agg(
                F.count("*"),
                F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)),
            ).first()
        )

    sig = signature(edges)
    for _ in range(max_iterations):
        small = sig[0] <= cap
        prev_edges = edges
        edges = star(star(edges, large=True), large=False)
        new_sig = signature(edges)  # materializes the round
        if prev_edges is not edges:
            release(prev_edges)  # persist mode: free the superseded round
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"star contraction did not reach a fixpoint in {max_iterations} rounds"
        )
    # fixpoint: every edge links a node to its component minimum
    final_min = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("label")
    ).transform(materialize)  # lazy: the two star-check branches read a
    # cheap contracted-edge aggregate — the duplicate-first-touch risk
    # (persist.py) is bounded by that tiny agg, and lazy keeps the
    # one-job-per-round contract pinned by test_dedup_clusters
    # Post-fixpoint invariant (ADVICE r3): the signature fixpoint must
    # be a star forest centered at component minima — every remaining
    # edge joins a leaf to its own label or a label to its own leaf.
    # A non-star fixpoint (theoretically excluded, but this small-star
    # uses the closed-neighborhood min) would silently mislabel; raise
    # loudly instead. One cheap job on the contracted edge set.
    lab_u = final_min.select(F.col("u"), F.col("label").alias("__lu"))
    lab_v = final_min.select(F.col("u").alias("v"), F.col("label").alias("__lv"))
    bad = (
        edges.join(nsized(lab_u), "u")
        .join(nsized(lab_v), "v")
        .where((F.col("v") != F.col("__lu")) & (F.col("u") != F.col("__lv")))
        .count()
    )
    if bad:
        raise RuntimeError(
            f"star contraction fixpoint is not a star forest ({bad} stray "
            "edges) — labels would be wrong; report this input"
        )
    return nodes.join(nsized(final_min), "u", "left").select(
        "u", F.coalesce("label", F.col("u")).alias("label")
    )


def near_dup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB twin: min reachable id per node via WITH RECURSIVE over
    the same pair query (components are small, so the recursion's
    quadratic frontier is fine at oracle scale)."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({pairs_sql}) __p
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) __n
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
)
SELECT u AS doc_id, min(v) AS cluster_id, u = min(v) AS is_keeper
FROM reach GROUP BY u
"""


# -- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = 3


def simhash_signature(docs: DataFrame, portable: bool = False) -> DataFrame:
    """(doc_id, sig long): 32-bit SimHash over the shingle md5
    hashes — bit b is 1 iff more word hashes have bit b set than not."""
    base = _with_shingles(docs).select(
        "doc_id",
        _shingle_hashes(F.col("shingles"), portable).alias("hs"),
        F.size("shingles").alias("n"),
    )
    # ONE parser-built expression instead of SIMHASH_BITS Python-side
    # filter/when constructions (~1.3 s of py4j driver time per fresh
    # frame — r13 build-time ledger). Resolves to the identical
    # size(filter)*2 > n CASE chain summed left-to-right over exact
    # longs, so results are byte-identical.
    sig = F.expr(
        " + ".join(
            f"(CASE WHEN size(filter(hs, h -> (shiftright(h, {b}) & 1) = 1))"
            f" * 2 > n THEN CAST({1 << b} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for b in range(SIMHASH_BITS)
        )
    )
    return base.select("doc_id", sig.alias("sig"))


def simhash_pairs(
    docs: DataFrame, hamming_max: int = HAMMING_MAX, portable: bool = False
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of the 4
    signature bytes (LSH on bands), verified by Hamming distance ≤
    ``hamming_max``. Output: (a_id, b_id, hamming)."""
    # the 32-bit-count signature scan feeds both sides of the bucket
    # self-join; materialize it once (state: doc_id + one long)
    sigs = simhash_signature(docs, portable).transform(materialize)
    band_keys = F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(i),
                F.shiftright("sig", i * SIMHASH_BAND_BITS).bitwiseAND((1 << SIMHASH_BAND_BITS) - 1),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    buckets = sigs.select("doc_id", "sig", F.explode(band_keys).alias("bk"))
    # Hamming is computed INSIDE the band join and filtered before the
    # dedup exchange: hamming is functionally determined by the pair
    # (same signatures whichever band collided), so filter-then-distinct
    # emits exactly the former distinct-then-filter rows while the
    # distinct shuffles only verified near-dups instead of every chance
    # band collision.
    hamming = F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig")))
    pairs = (
        buckets.alias("x")
        .join(buckets.alias("y"), "bk")
        .where((F.col("x.doc_id") < F.col("y.doc_id")) & (hamming <= hamming_max))
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
    return pairs


def simhash_pairs_sql(table: str = "documents", hamming_max: int = HAMMING_MAX) -> str:
    shingle_hash = f"{md5int_sql('s')} % {MERSENNE31}"
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) > n"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    band_keys = ", ".join(
        f"concat_ws('-', {i}, (sig >> {i * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1})"
        for i in range(SIMHASH_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_transform({shingles_sql(SHINGLE_N)}, s -> {shingle_hash}) AS hs,
         len({shingles_sql(SHINGLE_N)}) AS n
  FROM {table}
), sigs AS (
  SELECT doc_id, {bit_terms} AS sig FROM base
), buckets AS (
  SELECT doc_id, sig, unnest([{band_keys}]) AS bk FROM sigs
)
SELECT a_id, b_id, hamming FROM (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
         bit_count(xor(x.sig, y.sig)) AS hamming
  FROM buckets x JOIN buckets y USING (bk)
  WHERE x.doc_id < y.doc_id
) WHERE hamming <= {hamming_max}
"""


# -- embedding cosine near-dup ----------------------------------------------


def _unit_rows(m):
    """``m``'s rows divided by their L2 norms (a zero row becomes NaN)."""
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        return m / np.linalg.norm(m, axis=1, keepdims=True)


def _cosine_pairs(aid, a, bid, b_unit, threshold: float, one_set: bool):
    """The one pair-scoring step of :func:`embedding_near_dup_pairs`:
    normalize the rows of ``a`` (:func:`_unit_rows`), score them against
    the already normalized rows of ``b_unit`` by matmul, and return the
    hits (cosine ≥ ``threshold``) as canonical ``(lo, hi)`` id arrays
    with lo < hi. With ``one_set`` both sides are drawn from one set
    (the broadcast corpus, a diagonal block pair), so each pair is found
    from both of its rows and only the ``aid < bid`` hit is kept;
    otherwise the sides are disjoint and every hit is one pair. A
    zero-norm row scores NaN and never matches.

    ROW-CHUNKED matmul: a full |a|x|b| float64 sim matrix is (n/B)^2
    cells — 5 GB per task at 200k vectors / 8 blocks, which OOM-killed
    the Python workers in the sf10 soak. The slab is capped at ~16M
    cells (~128 MB) instead; per-cell dot products are unchanged."""
    import numpy as np

    a = _unit_rows(a)
    chunk = max(1, 16_000_000 // max(1, len(b_unit)))
    los, his = [], []
    for s in range(0, len(a), chunk):
        sims = a[s : s + chunk] @ b_unit.T
        ii, jj = np.nonzero(sims >= threshold)
        x, y = aid[s + ii], bid[jj]
        keep = x < y if one_set else x != y
        los.append(np.minimum(x, y)[keep])
        his.append(np.maximum(x, y)[keep])
    return np.concatenate(los), np.concatenate(his)


#: The largest input (optimized-plan ``sizeInBytes`` of its ``(vec_id,
#: v)`` frame) :func:`embedding_near_dup_pairs` gathers and broadcasts.
#: The broadcast path scores every row against the whole corpus (n²
#: cells) in as many tasks as the input has splits — one for a file
#: this small — while the blocked path scores about n²/2 cells over all
#: cores. Measured on a 4-core VM (``local[4]``, 64-d uniform vectors in
#: 8 row groups, threshold 0.45, median wall of 5-7 after warm-up, same
#: pairs both ways): broadcast vs blocked 0.54 vs 0.96 s at 3k vectors
#: (1.37 MB), 0.92 vs 0.95 s at 4k (1.82 MB), 1.21 vs 1.11 s at 5k
#: (2.31 MB), 2.42 vs 1.80 s at 10k (4.66 MB), 4.45 vs 2.64 s at 20k
#: (9.28 MB). More cores only speed up the blocked side, so the cap sits
#: at the crossover.
EMBEDDING_GATHER_MAX_BYTES = 2 * 1024 * 1024


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.45, num_blocks: int = 8
) -> DataFrame:
    """All-pairs cosine ≥ threshold over the embedding column (exact;
    see :mod:`similarity` for the approximate LSH top-k path).
    Output: (a_id, b_id), a_id < b_id — the similarity value itself is
    excluded so the check is robust to last-ulp float summation
    differences.

    The placement is the library's one gather-or-scatter rule
    (:func:`_bcast.gathers` with :data:`EMBEDDING_GATHER_MAX_BYTES`,
    plan statistics only, no job); both placements score with
    :func:`_cosine_pairs` and give the same rows. A zero-norm vector
    never matches.

    - **broadcast**: a corpus the rule accepts is gathered once
      (:func:`_bcast.gather`: no job for a Parquet corpus of float or
      double vectors, read from its files; else one ``toArrow()``) and
      its normalized matrix broadcast; each partition scores its rows
      against it in ``mapInArrow``. The output is never collected: an
      all-duplicate corpus makes it quadratic.
    - **blocked**: the 100 TB path — no driver collect anywhere.
      Vectors are hashed into ``num_blocks`` blocks; each of the
      B(B+1)/2 unordered block pairs is a shuffle group whose two
      blocks are cross-scored inside ``applyInPandas``. Every vector is
      shuffled exactly B times (its block pairs with every block), so
      total shuffle volume is n·B rows — linear in n with a
      √-replication factor, never an n² expansion. Size ``num_blocks``
      so two blocks of n/num_blocks × dim doubles fit an executor (e.g.
      1 M × 768-d ≈ 6 GB/block at B=32 → ~12 GB per task).
    """
    import pandas as pd
    import pyarrow as pa

    from ._bcast import gather, gathers
    from .similarity import _batch_mat, _corpus
    from ..localrel import values_df

    spark = embeddings.sparkSession
    src = _corpus(embeddings)
    out_ddl = "a_id long, b_id long"

    if gathers(src, EMBEDDING_GATHER_MAX_BYTES):
        corpus = gather(src).combine_chunks()
        if not corpus.num_rows:
            return values_df(spark, [], out_ddl)
        mat = _batch_mat(corpus.to_batches()[0], "v", -1)
        dim = mat.shape[1]
        b_ids = spark.sparkContext.broadcast(corpus["vec_id"].to_numpy())
        b_mat = spark.sparkContext.broadcast(_unit_rows(mat))

        def score(batches):
            for batch in batches:
                if batch.num_rows:
                    lo, hi = _cosine_pairs(
                        batch["vec_id"].to_numpy(), _batch_mat(batch, "v", dim),
                        b_ids.value, b_mat.value, threshold, one_set=True,
                    )
                    yield pa.RecordBatch.from_arrays([lo, hi], ["a_id", "b_id"])

        return src.mapInArrow(score, out_ddl)

    B = num_blocks
    # LocalRelation (r14): the RDD-backed form cost one 32-Python-task
    # scan per broadcast build (two builds here)
    pairs = values_df(
        spark, [(i, j) for i in range(B) for j in range(i, B)], "bi int, bj int"
    )
    blocked = src.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int"))
    # a vector participates in every block pair containing its block;
    # each unordered vector pair meets in exactly ONE group
    side_a = blocked.join(F.broadcast(pairs), F.col("blk") == F.col("bi")).select(
        "bi", "bj", F.lit("a").alias("side"), "vec_id", "v"
    )
    side_b = blocked.join(F.broadcast(pairs), F.col("blk") == F.col("bj")).select(
        "bi", "bj", F.lit("b").alias("side"), "vec_id", "v"
    )
    both = side_a.unionByName(side_b)

    def cross_score(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        lo, hi = _cosine_pairs(
            a["vec_id"].to_numpy(), _side_mat(a),
            b["vec_id"].to_numpy(), _unit_rows(_side_mat(b)),
            threshold, one_set=pdf["bi"].iat[0] == pdf["bj"].iat[0],
        )
        return pd.DataFrame({"a_id": lo, "b_id": hi})

    # each unordered pair meets in exactly one group, and is emitted
    # once there (_cosine_pairs' one_set rule on the diagonal groups)
    return both.groupBy("bi", "bj").applyInPandas(cross_score, out_ddl)


def _side_mat(side):
    """The vector matrix of one side of a blocked group, as
    :func:`similarity._batch_mat` reads it: a NULL or short vector
    raises naming its vec_id."""
    import pyarrow as pa

    from .similarity import _batch_mat

    batch = pa.RecordBatch.from_pandas(side[["vec_id", "v"]], preserve_index=False)
    return _batch_mat(batch, "v", -1)


def embedding_near_dup_pairs_sql(
    table: str = "embeddings", threshold: float = 0.45
) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.v, b.v) >= {threshold}
"""


# -- keep-best curation dedup ------------------------------------------------


def keep_best(
    docs: DataFrame, group_col: str = "source", score_col: str = "n_chars"
) -> DataFrame:
    """Keep-best dedup: one representative per ``group_col`` — the row
    maximizing ``score_col``, ties broken by minimum doc_id. The
    web-crawl curation shape ("one doc per canonical URL, keep the
    highest-quality capture").

    Implemented as a single ``max(struct(score, -doc_id))`` aggregate —
    partial max runs map-side, so the shuffle carries one struct per
    (partition × group), never whole rows, and there is no per-group
    sort. A window row_number() would have the same answer but
    sort-buffers every group member; at 100 TB with a skewed group
    (one domain = 10% of the crawl) the agg form stays a streaming max
    while the window form becomes one giant spill-sort task.

    Output: (grp, keep_id, best_score, n_docs).
    """
    best = F.max(F.struct(F.col(score_col), (-F.col("doc_id")).alias("neg_id")))
    return docs.groupBy(F.col(group_col).alias("grp")).agg(
        (-best.getField("neg_id")).alias("keep_id"),
        F.max(F.col(score_col)).alias("best_score"),
        F.count("*").alias("n_docs"),
    )


def keep_best_sql(
    group_col: str = "source", score_col: str = "n_chars", table: str = "documents"
) -> str:
    return f"""
SELECT {group_col} AS grp,
       min(doc_id) FILTER (
           WHERE {score_col} = mx
       ) AS keep_id,
       max({score_col}) AS best_score,
       CAST(count(*) AS BIGINT) AS n_docs
FROM (
  SELECT *, max({score_col}) OVER (PARTITION BY {group_col}) AS mx FROM {table}
)
GROUP BY {group_col}
"""


def cluster_keep_best(
    pairs: DataFrame,
    scores: DataFrame,
    score_col: str = "quality_score",
    max_iterations: int = 20,
) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters: the
    curation step AFTER pair finding where real pipelines keep the
    *best* member of each duplicate cluster, not an arbitrary one.
    ``pairs`` is any (a_id, b_id, …) near-dup pair frame
    (:func:`minhash_lsh_pairs`, :func:`jaccard_pairs`, …); ``scores``
    maps doc_id → ``score_col`` (e.g. :func:`~bunsen_spark.operators.
    text_analysis.quality_score`). Output: one row per cluster —
    (cluster_id, keep_id, best_score, n_members), keeper = the member
    maximizing the score, ties broken by minimum doc_id.

    Plan: :func:`near_dup_clusters` labels the pair graph, one inner
    join attaches scores, and the selection is a single
    ``max(struct(score, -doc_id))`` aggregate — the same map-side
    partial-max shape as :func:`keep_best`, so the shuffle carries one
    struct per (partition × cluster), never member rows, and a giant
    boilerplate cluster (the 100 TB skew case) needs no sort."""
    labels = materialize(near_dup_clusters(pairs, max_iterations=max_iterations))
    # labels are paired-doc-sized (≪ corpus); broadcasting them into
    # the scores join keeps the corpus-sized scores side unshuffled
    small = labels.count() <= _label_broadcast_cap(labels)
    members = (F.broadcast(labels) if small else labels).join(
        scores.select("doc_id", F.col(score_col).alias("__s")), "doc_id"
    )
    best = F.max(F.struct(F.col("__s"), (-F.col("doc_id")).alias("neg_id")))
    return members.groupBy("cluster_id").agg(
        (-best.getField("neg_id")).alias("keep_id"),
        F.max("__s").alias("best_score"),
        F.count("*").alias("n_members"),
    )


def cluster_keep_best_sql(pairs_sql: str, scores_sql: str) -> str:
    """DuckDB twin of :func:`cluster_keep_best`; ``scores_sql`` must
    select (doc_id, quality_score). Same argmax semantics via a
    per-cluster max window + FILTER min-id tie-break."""
    return f"""
WITH labels AS ({near_dup_clusters_sql(pairs_sql)}),
scores AS (SELECT doc_id, quality_score AS s FROM ({scores_sql}) __q),
members AS (
  SELECT l.doc_id, l.cluster_id, sc.s
  FROM labels l JOIN scores sc USING (doc_id)
), ranked AS (
  SELECT *, max(s) OVER (PARTITION BY cluster_id) AS mx FROM members
)
SELECT cluster_id,
       min(doc_id) FILTER (WHERE s = mx) AS keep_id,
       max(s) AS best_score,
       CAST(count(*) AS BIGINT) AS n_members
FROM ranked
GROUP BY cluster_id
"""


def near_dup_filter_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str = "quality_score",
    max_iterations: int = 20,
) -> DataFrame:
    """The filtering form of :func:`cluster_keep_best`: return ``docs``
    minus every near-dup cluster member except the cluster's best
    (max ``score_col``, ties → min doc_id). Documents in no pair pass
    through untouched — so this slots directly into a curation chain
    (`docs.transform(...)` keeps all columns).

    The cluster labels are materialized once and feed both the argmax
    and the loser list; the final subtraction is a LEFT ANTI join
    against the (small) loser id set, so the corpus itself is scanned
    once and never shuffled on anything but doc_id."""
    labels = near_dup_clusters(pairs, max_iterations=max_iterations).transform(
        materialize
    )
    # labels are paired-doc-sized (≪ corpus): broadcast them into the
    # score join and the loser list into the final anti join, so the
    # corpus is scanned once and never shuffled (guide §3.1)
    small = labels.count() <= _label_broadcast_cap(labels)

    def nsized(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    members = nsized(labels).join(
        docs.select("doc_id", F.col(score_col).alias("__s")), "doc_id"
    )
    best = F.max(F.struct(F.col("__s"), (-F.col("doc_id")).alias("neg_id")))
    keepers = members.groupBy("cluster_id").agg(
        (-best.getField("neg_id")).alias("keep_id")
    )
    losers = (
        labels.join(nsized(keepers), "cluster_id")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    return docs.join(nsized(losers), "doc_id", "left_anti")


# -- incremental dedup -------------------------------------------------------


def incremental_dedup(new_docs: DataFrame, seen: DataFrame) -> DataFrame:
    """Incremental exact dedup: the new-batch documents that survive
    against an already-ingested fingerprint state. Returns one row per
    NEW distinct text: ``(fingerprint, keep_id, n_docs)`` (keep_id =
    min doc_id inside the batch, n_docs = batch duplicate count).
    Appending the returned fingerprints to ``seen`` advances the state;
    the update is associative — processing a corpus in any batch split
    yields the same final state as one shot (tested in
    ``tests/test_dedup_incremental.py``).

    ``seen`` needs only a ``fingerprint`` column (32-char md5 hex):
    the anti-join ships 16-byte digests, never text, and the batch-side
    aggregate dedups BEFORE the anti-join so the state join sees one
    row per distinct new text. At warehouse scale, store the state
    table bucketed by fingerprint (sources/warehouse.py) and the
    per-batch anti-join becomes a zero-Exchange bucket-local join.
    """
    batch = exact_dedup(new_docs)
    return batch.join(
        seen.select("fingerprint"), "fingerprint", "left_anti"
    )


def minhash_state(docs: DataFrame, portable: bool = False) -> DataFrame:
    """Persistable near-dup state for :func:`incremental_near_dup`:
    ``(doc_id, hs, sig)`` — hashed shingle sets + MinHash signatures,
    no text. State size is O(tokens) longs per doc (~10× smaller than
    text); at warehouse scale persist it range- or bucket-partitioned
    and append each batch's kept rows."""
    return minhash_signature(docs, portable)


def incremental_near_dup(
    new_docs: DataFrame,
    state: DataFrame,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Incremental near-dup filter: the new-batch docs that are NOT
    MinHash-near-duplicates of any doc in ``state`` (rows from
    :func:`minhash_state`). Returns the kept docs' state rows
    ``(doc_id, hs, sig)`` — append them to ``state`` to advance it.

    Semantics are state-filter only: batch-internal near-dups are NOT
    dropped here (compose with :func:`minhash_lsh_pairs` /
    :func:`near_dup_clusters` for that). Each doc is judged against
    exactly the state as of its batch, so cutting the stream finer
    filters MORE (earlier docs enter the state sooner) — monotone, not
    cut-invariant; the contract and the brute-force equivalence of one
    step are tested in ``tests/test_dedup_incremental.py``.

    Scale shape: candidates come from the LSH band join — the batch
    side explodes to |batch| × bands rows and joins the state's bucket
    table, so cost is proportional to bucket collisions, never
    |batch| × |state|. Exact-Jaccard verification (precision 1) runs
    only on candidates. A warehouse that stores the exploded state
    buckets bucketed by ``bk`` (sources/warehouse.py) makes the
    candidate join bucket-local.

    ``portable`` MUST match the family ``state`` was built with
    (`minhash_state(..., portable=...)`): signatures from different
    hash families never collide, so a mismatch silently keeps
    everything."""
    batch = minhash_signature(new_docs, portable).transform(materialize_eager)
    cand = _band_candidates(batch, state, "b_id", "s_id")
    dropped = (
        _verify_jaccard_pairs(cand, batch, state, "b_id", "s_id", threshold)
        .select("b_id")
        .distinct()
    )
    return batch.join(dropped, batch.doc_id == dropped.b_id, "left_anti")


def incremental_near_dup_sql(
    table: str = "documents",
    state_filter: str = "doc_id < 250",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of one :func:`incremental_near_dup` step where the
    state was built from ``table`` rows matching ``state_filter`` and
    the batch is the rest. Emits kept batch docs as
    (doc_id, n_shingles)."""
    return _minhash_ctes_sql(table, (state_filter, "in_state")) + f""", cand AS (
  SELECT DISTINCT b.doc_id AS b_id, s.doc_id AS s_id
  FROM buckets b JOIN buckets s USING (bk)
  WHERE NOT b.in_state AND s.in_state
), dropped AS (
  SELECT DISTINCT b_id FROM cand
  JOIN sigs sa ON sa.doc_id = b_id
  JOIN sigs sb ON sb.doc_id = s_id
  WHERE len(list_intersect(sa.hs, sb.hs)) /
        (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) >= {threshold}
)
SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles
FROM sigs
WHERE NOT in_state AND doc_id NOT IN (SELECT b_id FROM dropped)
"""


# -- cross-corpus fuzzy join (record linkage) --------------------------------


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora (record linkage /
    cross-corpus decontamination with witness pairs): every
    (left.doc_id, right.doc_id) whose word-shingle Jaccard ≥
    ``threshold``. Output: (l_id, r_id, jaccard rounded 6).

    Same MinHash-LSH machinery as :func:`minhash_lsh_pairs`, but the
    band join is left-buckets ⋈ right-buckets, so candidates are
    linear in cross-bucket collisions and the corpora are never
    cross-joined. Exact-Jaccard verification on the hashed shingle
    sets keeps precision 1 (family-agnostic decisions, like the
    in-corpus operator). Both sides' signature scans materialize once.

    Unlike :func:`ngram_contamination` (which broadcasts a SMALL probe
    set and returns only overlap counts), this form handles two LARGE
    corpora — neither side is collected or broadcast — and names the
    matching pairs, which decontamination audits need."""
    from ..persist import materialize_all

    ls, rs = materialize_all(
        minhash_signature(left, portable), minhash_signature(right, portable)
    )
    cand = _band_candidates(ls, rs, "l_id", "r_id")
    return _verify_jaccard_pairs(cand, ls, rs, "l_id", "r_id", threshold)


def fuzzy_text_join_sql(
    table: str = "documents",
    left_filter: str = "doc_id % 2 = 0",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of one :func:`fuzzy_text_join` over ``table`` split
    by ``left_filter`` (left side) vs its complement (right side)."""
    return _minhash_ctes_sql(table, (left_filter, "is_left")) + f""", cand AS (
  SELECT DISTINCT l.doc_id AS l_id, r.doc_id AS r_id
  FROM buckets l JOIN buckets r USING (bk)
  WHERE l.is_left AND NOT r.is_left
)
SELECT l_id, r_id, round(j, 6) AS jaccard FROM (
  SELECT l_id, r_id,
         len(list_intersect(sa.hs, sb.hs))
           / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS j
  FROM cand
  JOIN sigs sa ON sa.doc_id = l_id
  JOIN sigs sb ON sb.doc_id = r_id
) WHERE j >= {threshold}
"""


def fuzzy_text_join_split(
    docs: DataFrame,
    left_cond: Column,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """:func:`fuzzy_text_join` for the common case where both corpora
    are PARTITIONS OF ONE TABLE (this-crawl vs last-crawl in one
    warehouse table, train vs test split): rows where ``left_cond``
    holds form the left side, the rest the right. The signature stage
    (full-text shingling + MinHash, the dominant cost) runs ONCE over
    the whole table instead of once per side — measured ~2× on the
    gate corpora. Output identical to the two-frame form."""
    flags = docs.select("doc_id", left_cond.alias("__left"))
    sigs = (
        minhash_signature(docs, portable)
        .join(flags, "doc_id")
        .transform(materialize_eager)
    )
    cand = _band_candidates(
        sigs.where("__left"), sigs.where(~F.col("__left")), "l_id", "r_id"
    )
    return _verify_jaccard_pairs(cand, sigs, sigs, "l_id", "r_id", threshold)


def _doc_segments(
    df: DataFrame, id_col: str, text_col: str, seg_words: int
) -> DataFrame:
    """(id, seg_idx, seg) rows: consecutive ``seg_words``-word segments
    of each document, empty tail segments dropped. The regexp
    tokenization runs ONCE per document (materialized as a column
    before the per-segment transform — lambda bodies are not
    common-subexpression-eliminated, so slicing ``words_col(text)``
    inside the lambda would re-tokenize per segment)."""
    from .text_analysis import words_col

    toks = df.select(F.col(id_col), words_col(F.col(text_col)).alias("__w"))
    nseg = ((F.size("__w") + F.lit(seg_words - 1)) / seg_words).cast("int")
    return toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(
                    F.slice(F.col("__w"), i * seg_words + 1, seg_words), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    ).where(F.col("seg") != "")


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-wide first-occurrence SEGMENT dedup (the RefinedWeb /
    C4 "remove repeated spans, keep the first" cleaning rule, at fixed
    ``seg_words``-word granularity): split every document into
    consecutive word segments, keep each distinct segment's first
    occurrence (smallest ``(doc_id, seg_idx)``) and drop every later
    repeat, then reassemble the surviving text per document.

    100 TB design: one posexplode (fan-out bounded by corpus word
    count / seg_words), one map-side-combinable ``min(struct)``
    aggregate per distinct segment, and one co-partitioned join-back on
    the segment key — no windows over corpus-sized partitions, no
    driver state. Output: (doc_id, n_segs, n_kept, clean_text) with
    ``clean_text = ''`` when every segment was seen earlier.
    """
    segs = _doc_segments(df, id_col, text_col, seg_words)
    first = segs.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("seg_idx").alias("i"))).alias(
            "f"
        )
    )
    kept = segs.join(first, "seg").withColumn(
        "is_first",
        (F.col(id_col) == F.col("f.d")) & (F.col("seg_idx") == F.col("f.i")),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.sum(F.col("is_first").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct(F.col("seg_idx").alias("i"), F.col("seg").alias("s")),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(id_col, "n_segs", "n_kept", "clean_text")
    )


def segment_dedup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    seg_words: int = 10,
) -> str:
    from .text_analysis import WORDS_SQL

    k = seg_words
    return f"""
WITH t AS (SELECT {id_col}, {WORDS_SQL} AS w FROM {table}),
segs AS (
  SELECT {id_col},
         unnest(range(0, CAST((len(w) + {k - 1}) // {k} AS BIGINT))) AS seg_idx,
         unnest(list_transform(range(0, CAST((len(w) + {k - 1}) // {k} AS BIGINT)),
                g -> array_to_string(w[CAST(g * {k} + 1 AS INT):CAST(g * {k} + {k} AS INT)], ' '))) AS seg
  FROM t
),
nz AS (SELECT * FROM segs WHERE seg <> ''),
first AS (
  SELECT seg, min(ROW({id_col}, seg_idx)) AS f FROM nz GROUP BY seg
),
kept AS (
  SELECT nz.*, (nz.{id_col} = first.f[1] AND nz.seg_idx = first.f[2]) AS is_first
  FROM nz JOIN first USING (seg)
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE is_first), '') AS clean_text
FROM kept GROUP BY {id_col}
"""


def segment_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
) -> DataFrame:
    """Distinct-segment state table ``(seg)`` for incremental segment
    dedup — the segment analogue of :func:`text_analysis.gram_state`.
    Unions of per-batch NEW segments advance the state associatively."""
    return _doc_segments(df, id_col, text_col, seg_words).select("seg").distinct()


def segment_dedup_against_state(
    df: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
) -> DataFrame:
    """Ingest-time form of :func:`segment_dedup`: score a NEW batch
    against a persisted distinct-segment state ``(seg)`` — a segment
    occurrence survives iff it is absent from the state AND it is the
    batch's own first occurrence. With batches arriving in ascending
    ``id_col`` order, streaming over batches emits exactly the batch
    operator's rows for those documents (parity pinned in
    ``tests/test_streaming_segment.py``).

    Same scale shape as the batch form (explode → min(struct) agg →
    co-partitioned join-back) plus one left-anti-style join against
    the state on the segment key."""
    segs = _doc_segments(df, id_col, text_col, seg_words)
    seen = state.select("seg").withColumn("__seen", F.lit(True))
    first = segs.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("seg_idx").alias("i"))).alias(
            "f"
        )
    )
    kept = (
        segs.join(first, "seg")
        .join(seen, "seg", "left")
        .withColumn(
            "is_first",
            F.col("__seen").isNull()
            & (F.col(id_col) == F.col("f.d"))
            & (F.col("seg_idx") == F.col("f.i")),
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.sum(F.col("is_first").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct(
                                    F.col("seg_idx").alias("i"), F.col("seg").alias("s")
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(id_col, "n_segs", "n_kept", "clean_text")
    )
