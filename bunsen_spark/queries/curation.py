"""Training-data curation queries over the synthetic ``documents`` table
(and generated multimodal samples): text analysis, deduplication,
sampling and mixing, tokenizer statistics, chunking and packing,
retrieval, drift and corpus reports.

Each entry pairs a Spark DataFrame implementation with a DuckDB oracle
that reproduces the result bit-for-bit (determinism contracts in the
operator modules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load
from ..persist import materialize, materialize_eager
from ..operators.dedup import (
    exact_dedup_sql,
    jaccard_pairs_sql,
    keep_best_sql,
    minhash_lsh_pairs_sql,
    near_dup_clusters_sql,
    ngram_contamination_sql,
    simhash_pairs_sql,
)
from ..operators.packing import pack_concat_chunks_sql
from ..operators.sampling import split_assign_sql, stratified_sample_sql
from ..operators.text_analysis import (
    fingerprint_sql,
    language_id_sql,
    quality_score_sql,
    repetition_stats_sql,
    scrub_terms_sql,
    token_stats_sql,
)


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import language_id

    return language_id(load(spark, sf_dir, "documents"))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import quality_score

    return quality_score(load(spark, sf_dir, "documents"))


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import token_stats

    return token_stats(load(spark, sf_dir, "documents"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import fingerprint

    return fingerprint(load(spark, sf_dir, "documents"), portable=True)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"))


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs

    return jaccard_pairs(load(spark, sf_dir, "documents"), portable=True)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), portable=True)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs

    return simhash_pairs(load(spark, sf_dir, "documents"), portable=True)


def corpus_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level 2-gram frequency table (top 25, ties broken by the
    ngram text): one explode + one aggregation + a top-k — the shape of
    every corpus-statistics job; at scale the explode fan-out is the
    cost and the agg is map-side combined."""
    from pyspark.sql import functions as F

    from ..operators.dedup import _with_shingles

    grams = _with_shingles(load(spark, sf_dir, "documents"), 2).select(
        F.explode("shingles").alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(25)
    )


CORPUS_TOP_NGRAMS_SQL = """
WITH grams AS (
  SELECT unnest(list_distinct(list_transform(
      range(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1, 1) + 1),
      i -> array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+')[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)], ' ')
  ))) AS ngram
  FROM documents
)
SELECT ngram, count(*) AS n_docs FROM grams
GROUP BY ngram ORDER BY n_docs DESC, ngram LIMIT 25
"""


def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (percentile aggregate
    family): Spark's exact ``percentile`` and DuckDB's ``quantile_cont``
    share the linear-interpolation formula bit-for-bit on integer
    inputs, so even interpolated values hash-match."""
    from pyspark.sql import functions as F

    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.25)").alias("q25"),
            F.expr("percentile(n_chars, 0.5)").alias("q50"),
            F.expr("percentile(n_chars, 0.9)").alias("q90"),
            F.count("*").alias("n_docs"),
        )
    )


CORPUS_LENGTH_QUANTILES_SQL = """
SELECT lang,
       quantile_cont(n_chars, 0.25) AS q25,
       quantile_cont(n_chars, 0.5) AS q50,
       quantile_cont(n_chars, 0.9) AS q90,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


#: canonical corpus split used by the split query + its oracle
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment over documents, reported
    as per-split counts (stable across runs/engines/scale — see
    operators.sampling)."""
    from pyspark.sql import functions as F

    from ..operators.sampling import split_assign

    assigned = split_assign(load(spark, sf_dir, "documents"), "doc_id", SPLITS)
    return assigned.groupBy("split").agg(F.count("*").alias("n_docs"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph → dedup clusters + keep list (connected
    components by distributed min-label propagation, verified against
    a WITH RECURSIVE reachability oracle)."""
    from ..operators.dedup import minhash_lsh_pairs, near_dup_clusters

    return near_dup_clusters(
        minhash_lsh_pairs(load(spark, sf_dir, "documents"), portable=True)
    )


#: canonical per-language sampling fractions used by the gate query
STRATA_FRACTIONS = {"en": 0.5, "de": 0.25}


STRATA_DEFAULT = 0.1


def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling, reported as kept-row counts
    per stratum (zero-shuffle filter; stable across engines/scale)."""
    from pyspark.sql import functions as F

    from ..operators.sampling import stratified_sample

    kept = stratified_sample(
        load(spark, sf_dir, "documents"), "doc_id", "lang", STRATA_FRACTIONS, STRATA_DEFAULT
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms: top 3 by (term frequency desc,
    document frequency asc, term) — the integer-exact flavor of tf-idf
    ranking (the same ordering a tf·idf score induces when tf
    dominates, with no cross-engine float-log hazards). Two map-side-
    combined aggregations + one join + one per-doc window."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


DOC_TOP_TERMS_SQL = """
WITH words AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents WHERE doc_id < 100
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
)
SELECT doc_id, term, tf, df, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (
             PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term
         ) AS rank
  FROM tf JOIN df USING (term)
) WHERE rank <= 3
"""


def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing assignment (deterministic
    shard + window cumsum; see operators.packing). num_shards is
    pinned so the DuckDB oracle mirrors the shard hash exactly; the
    operator's default derives it from the cluster parallelism."""
    from ..operators.packing import pack_concat_chunks

    return pack_concat_chunks(load(spark, sf_dir, "documents"), num_shards=32)


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing word 3-gram
    shingles with the probe set (doc_id < 10 stands in for the
    benchmark suite), with overlap counts."""
    from pyspark.sql import functions as F

    from ..operators.dedup import ngram_contamination

    docs = load(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.where(F.col("doc_id") >= 10), docs.where(F.col("doc_id") < 10)
    )


def sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group curation sample: the 5 docs per language
    with the smallest md5(doc_id) — a reservoir-style 'N per stratum'
    pick that is stable across runs, engines and scale (one window)."""
    from pyspark.sql import Window, functions as F

    from ..operators.text_analysis import md5int

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", md5int(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("lang", "doc_id", "rank")
    )


def _sample_per_lang_sql() -> str:
    from ..operators.text_analysis import md5int_sql

    h = md5int_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT lang, doc_id, rank FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rank
  FROM documents
) WHERE rank <= 5
"""


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel a real pipeline runs: per language, total
    docs vs docs surviving each quality bar (length, alpha ratio,
    type-token ratio) and the final keep count — one pass, conditional
    aggregation, no UDFs."""
    from pyspark.sql import functions as F

    from ..operators.text_analysis import quality_score

    q = quality_score(load(spark, sf_dir, "documents")).join(
        load(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    len_ok = F.col("n_words") >= 5
    alpha_ok = F.col("alpha_ratio") >= 0.5
    ttr_ok = F.col("ttr") >= 0.3
    return q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(len_ok.cast("long")).alias("n_len_ok"),
        F.sum((len_ok & alpha_ok).cast("long")).alias("n_alpha_ok"),
        F.sum((len_ok & alpha_ok & ttr_ok).cast("long")).alias("n_kept"),
    )


def _quality_funnel_sql() -> str:
    from ..operators.text_analysis import quality_score_sql

    return f"""
WITH q AS ({quality_score_sql()}),
j AS (SELECT q.*, d.lang FROM q JOIN documents d USING (doc_id))
SELECT lang,
       COUNT(*) AS n_total,
       -- CAST: DuckDB SUM(int) is HUGEINT → float64 under a pandas fetch;
       -- Spark sums longs, so pin the oracle to BIGINT for hash parity.
       CAST(SUM(CASE WHEN n_words >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
       CAST(SUM(CASE WHEN n_words >= 5 AND alpha_ratio >= 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alpha_ok,
       CAST(SUM(CASE WHEN n_words >= 5 AND alpha_ratio >= 0.5 AND ttr >= 0.3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM j GROUP BY lang
"""


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column media pipeline end-to-end (synthesize → decode →
    per-channel feature extraction in Arrow-batched mapInPandas). The
    decode is the deterministic fake (no codecs in this container), so
    the gate output is exactly reproducible: payload byte ``p`` is
    ``md5('media'+i)[p % 16]`` tiled to ``w*h*3``, so the per-channel
    means are integer-sum averages with a bit-exact DuckDB twin
    (``MULTIMODAL_FEATURES_SQL``). ``entropy_bits`` is excluded from
    the gate columns — its float64 ``Σ p·log2 p`` depends on summation
    order, so it is covered by ``tests/test_multimodal.py`` instead."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import decode_images, image_features, synthesize_media

    media = synthesize_media(spark, n=64, kind="image")
    # image_features carries width/height through, so the whole gate is
    # ONE decode pass — no self-join back to `decoded`, which would run
    # the dominant-cost mapInPandas decode stage twice
    # (plan-asserted single-decode in tests/test_plans.py).
    feats = image_features(decode_images(media))
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("mean", 1), 6).alias("mean_c0"),
        F.round(F.element_at("mean", 2), 6).alias("mean_c1"),
        F.round(F.element_at("mean", 3), 6).alias("mean_c2"),
    )


# DuckDB twin of the deterministic fake decode: byte q of the tiled
# pixel buffer is md5('media'+i)[(q % payload_len) % 16]; channel j is
# the positions with q % 3 = j. Integer sums are order-independent and
# exact in float64, so round(avg, 6) matches Spark bit-for-bit.
MULTIMODAL_FEATURES_SQL = """
WITH media AS (
  SELECT i,
         md5('media' || CAST(i AS VARCHAR)) AS h,
         64 + (i % 5) * 16 AS plen,
         8 + (i % 4) AS w,
         6 + (i % 3) AS ht
  FROM range(64) t(i)
),
px AS (
  SELECT m.i, m.w, m.ht, t.q,
         (strpos('0123456789abcdef',
                 substr(m.h, 2 * ((t.q % m.plen) % 16) + 1, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substr(m.h, 2 * ((t.q % m.plen) % 16) + 2, 1)) - 1 AS val
  FROM media m
  CROSS JOIN range(264) t(q)      -- 264 = max w (11) * max h (8) * 3
  WHERE t.q < m.w * m.ht * 3
)
SELECT i AS media_id, w AS width, ht AS height,
       round(avg(CASE WHEN q % 3 = 0 THEN val END), 6) AS mean_c0,
       round(avg(CASE WHEN q % 3 = 1 THEN val END), 6) AS mean_c1,
       round(avg(CASE WHEN q % 3 = 2 THEN val END), 6) AS mean_c2
FROM px
GROUP BY i, w, ht
"""


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of ``multimodal_image_features``: synthesize → decode
    (deterministic fake: payload bytes tiled to ``n_samples`` PCM-8
    samples) → per-clip signal statistics in one Arrow-batched pass.
    All statistics are integer sums over samples ``md5('media'+i)[(q %
    plen) % 16] - 128``, so the DuckDB twin is bit-exact. Single decode
    by construction: ``audio_features`` carries n_samples through
    (plan-asserted in tests/test_plans.py)."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import audio_features, decode_audio, synthesize_media

    media = synthesize_media(spark, n=64, kind="audio")
    feats = audio_features(decode_audio(media))
    return feats.select(
        "media_id",
        "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
        "peak",
    )


# DuckDB twin of the fake audio decode: sample q of clip i is
# md5('media'+i)[(q % plen) % 16] - 128 (same tiled-digest scheme the
# image oracle mirrors); zero-crossings via LAG, everything else plain
# integer aggregation — order-independent, exact in float64.
MULTIMODAL_AUDIO_SQL = """
WITH media AS (
  SELECT i,
         md5('media' || CAST(i AS VARCHAR)) AS h,
         64 + (i % 5) * 16 AS plen,
         1024 + 64 * (i % 7) AS ns
  FROM range(64) t(i)
),
smp AS (
  SELECT m.i, m.ns, t.q,
         (strpos('0123456789abcdef',
                 substr(m.h, 2 * ((t.q % m.plen) % 16) + 1, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substr(m.h, 2 * ((t.q % m.plen) % 16) + 2, 1)) - 1 - 128 AS s
  FROM media m
  CROSS JOIN range(1408) t(q)     -- 1408 = max n_samples (i % 7 = 6)
  WHERE t.q < m.ns
),
flags AS (
  SELECT i, ns, s,
         CASE WHEN LAG(s) OVER w IS NULL THEN 0
              WHEN (s >= 0) <> (LAG(s) OVER w >= 0) THEN 1
              ELSE 0 END AS zc
  FROM smp WINDOW w AS (PARTITION BY i ORDER BY q)
)
SELECT i AS media_id, ns AS n_samples,
       round(avg(s), 6) AS mean_amp,
       round(avg(abs(s)), 6) AS mean_abs,
       CAST(SUM(zc) AS BIGINT) AS zero_crossings,
       MAX(abs(s)) AS peak
FROM flags
GROUP BY i, ns
"""


def multimodal_resize_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage under the oracle gate: decode → nearest-neighbour
    resize to 4×4 → per-channel means, one chained Arrow pipeline
    (decode runs once; resize and features are buffer-local numpy).
    The fake decode + integer index arithmetic make the resized
    buffer's channel means exactly reproducible in SQL."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import (
        decode_images,
        image_features,
        resize_images,
        synthesize_media,
    )

    media = synthesize_media(spark, n=64, kind="image")
    feats = image_features(resize_images(decode_images(media), 4, 4))
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("mean", 1), 6).alias("mean_c0"),
        F.round(F.element_at("mean", 2), 6).alias("mean_c1"),
        F.round(F.element_at("mean", 3), 6).alias("mean_c2"),
    )


# DuckDB twin of decode→4×4-nearest-neighbour-resize→channel means:
# resized pixel j (0..47) maps back to source byte
# ((y*h//4)*w + (x*w//4))*3 + ch, whose value is the tiled digest byte
# as in MULTIMODAL_FEATURES_SQL.
MULTIMODAL_RESIZE_SQL = """
WITH media AS (
  SELECT i,
         md5('media' || CAST(i AS VARCHAR)) AS h,
         64 + (i % 5) * 16 AS plen,
         8 + (i % 4) AS w,
         6 + (i % 3) AS ht
  FROM range(64) t(i)
),
px AS (
  SELECT m.i, t.j % 3 AS ch,
         ((((t.j // 12) * m.ht // 4) * m.w + (((t.j % 12) // 3) * m.w // 4)) * 3
          + (t.j % 3)) AS q,
         m.h, m.plen
  FROM media m CROSS JOIN range(48) t(j)
),
vals AS (
  SELECT i, ch,
         (strpos('0123456789abcdef',
                 substr(h, 2 * ((q % plen) % 16) + 1, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substr(h, 2 * ((q % plen) % 16) + 2, 1)) - 1 AS val
  FROM px
)
SELECT i AS media_id, 4 AS width, 4 AS height,
       round(avg(CASE WHEN ch = 0 THEN val END), 6) AS mean_c0,
       round(avg(CASE WHEN ch = 1 THEN val END), 6) AS mean_c1,
       round(avg(CASE WHEN ch = 2 THEN val END), 6) AS mean_c2
FROM vals
GROUP BY i
"""


def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling stage under the oracle gate: every-2nd
    frame as fixed-size payload slabs (the demux stand-in boundary),
    then per-frame length + byte checksum. Slab slicing and fan-out
    are the real distributed work; the checksum verifies frame bytes
    end-to-end against SQL."""
    from ..operators.multimodal import frame_stats, sample_frames, synthesize_media

    media = synthesize_media(spark, n=64, kind="video")
    return frame_stats(sample_frames(media, every_k=2))


# DuckDB twin: clip i has plen payload bytes (tiled 16-byte digest),
# n_frames = 4 + i%5 slabs of plen // n_frames bytes; sampled frames
# are the even indices; byte p of frame f is digest[(f*slab + p) % 16].
MULTIMODAL_FRAMES_SQL = """
WITH media AS (
  SELECT i,
         md5('media' || CAST(i AS VARCHAR)) AS h,
         64 + (i % 5) * 16 AS plen,
         4 + (i % 5) AS nf
  FROM range(64) t(i)
),
frames AS (
  SELECT i, h, plen, plen // nf AS slab, f.fi
  FROM media CROSS JOIN range(8) f(fi)
  WHERE f.fi < nf AND f.fi % 2 = 0
),
bytes AS (
  SELECT i, fi, slab,
         (strpos('0123456789abcdef',
                 substr(h, 2 * (((fi * slab + p.p) % plen) % 16) + 1, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substr(h, 2 * (((fi * slab + p.p) % plen) % 16) + 2, 1)) - 1 AS val
  FROM frames CROSS JOIN range(32) p(p)
  WHERE p.p < slab
)
SELECT i AS media_id, fi AS frame_index,
       CAST(count(*) AS INTEGER) AS frame_len,
       CAST(sum(val) AS BIGINT) AS byte_sum
FROM bytes
GROUP BY i, fi
"""


#: denylist for the scrub gate query — high-frequency corpus words so the
#: redaction path is exercised on every document (the corpus has no real PII)
SCRUB_DENYLIST = ("customer", "table", "order")


def text_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-redaction-shaped denylist scrub (see operators.text_analysis
    .scrub_terms): per-doc redaction count + scrubbed length."""
    from ..operators.text_analysis import scrub_terms

    return scrub_terms(load(spark, sf_dir, "documents"), SCRUB_DENYLIST)


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best curation dedup: one representative per source (max
    n_chars, min doc_id tie-break) via a single map-side-combined
    struct-max aggregate — no window sort."""
    from ..operators.dedup import keep_best

    return keep_best(load(spark, sf_dir, "documents"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: docs 250+ arrive as a new batch against
    the fingerprint state built from docs 0-249; returns the batch
    texts not seen before (see operators.dedup.incremental_dedup)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import exact_dedup, incremental_dedup

    docs = load(spark, sf_dir, "documents")
    seen = exact_dedup(docs.where(F.col("doc_id") < 250)).select("fingerprint")
    return incremental_dedup(docs.where(F.col("doc_id") >= 250), seen)


DEDUP_INCREMENTAL_SQL = """
SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_docs
FROM documents
WHERE doc_id >= 250
  AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id < 250)
GROUP BY md5(text)
"""


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token windows (stride 48) over every document —
    one zero-shuffle map stage (`operators/chunking.py`)."""
    from ..operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, overlap=16)


def _chunk_sql() -> str:
    from ..operators.chunking import chunk_documents_sql

    return chunk_documents_sql(chunk_size=64, overlap=16)


def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One incremental near-dup step (`operators/dedup.py:
    incremental_near_dup`): state = MinHash signatures of docs with
    doc_id < 250, batch = the rest; returns the surviving batch docs.
    LSH band join bounds candidates; exact-Jaccard verify keeps
    precision 1 — the oracle recomputes the identical hash pipeline."""
    from ..operators.dedup import incremental_near_dup, minhash_state

    docs = load(spark, sf_dir, "documents")
    # the state feeds both the bucket join and the verify join inside
    # the operator; a real deployment reads it from parquet (one scan
    # per consumer), but here it is computed — materialize it once
    state = minhash_state(
        docs.where(F.col("doc_id") < 250), portable=True
    ).transform(materialize_eager)
    batch = docs.where(F.col("doc_id") >= 250)
    kept = incremental_near_dup(batch, state, threshold=0.5, portable=True)
    return kept.select("doc_id", F.size("hs").cast("long").alias("n_shingles"))


def _incr_near_sql() -> str:
    from ..operators.dedup import incremental_near_dup_sql

    return incremental_near_dup_sql("documents", "doc_id < 250", 0.5)


MIX_TARGETS = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}


def corpus_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing mix (`operators/sampling.py:
    mix_to_proportions`): down-sample each language to approximate the
    target char-mass shares, then report per-language survivors. The
    corpus is never shuffled — one tiny per-language aggregate feeds a
    broadcast rate table and a single hash filter."""
    from ..operators.sampling import mix_to_proportions

    docs = load(spark, sf_dir, "documents")
    mixed = mix_to_proportions(docs, "doc_id", "lang", "n_chars", MIX_TARGETS)
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("char_mass"),
        )
        .orderBy("lang")
    )


def _mix_sql() -> str:
    from ..operators.sampling import mix_to_proportions_sql

    inner = mix_to_proportions_sql("documents", "doc_id", "lang", "n_chars", MIX_TARGETS)
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS char_mass
FROM ({inner}) m
GROUP BY lang
ORDER BY lang
"""


def source_cap_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation cap (`operators/sampling.py:cap_per_group`):
    keep each source's 40 longest documents (ties broken by doc_id),
    report per-source kept counts + total kept chars. One window on the
    source key + one aggregate."""
    from ..operators.sampling import cap_per_group

    docs = load(spark, sf_dir, "documents")
    kept = cap_per_group(docs, "source", cap=40, score_col="n_chars")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
            F.min("doc_id").alias("min_kept_id"),
        )
        .orderBy("source")
    )


SOURCE_CAP_SQL = """
WITH kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
    ) AS __rn
    FROM documents
  ) WHERE __rn <= 40
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS kept_chars,
       min(doc_id) AS min_kept_id
FROM kept
GROUP BY source
ORDER BY source
"""


def fuzzy_join_even_odd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus record linkage (`operators/dedup.py:
    fuzzy_text_join`): even-doc_id documents vs odd-doc_id documents,
    MinHash-LSH candidates + exact-Jaccard verify. The two "corpora"
    stand in for e.g. this-crawl vs last-crawl."""
    from ..operators.dedup import fuzzy_text_join_split

    docs = load(spark, sf_dir, "documents")
    return fuzzy_text_join_split(
        docs.select("doc_id", "text"),
        F.col("doc_id") % 2 == 0,
        threshold=0.5,
        portable=True,
    )


def _fuzzy_sql() -> str:
    from ..operators.dedup import fuzzy_text_join_sql

    return fuzzy_text_join_sql("documents", "doc_id % 2 = 0", 0.5)


def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release delta (`operators/snapshot.py`): snapshot B
    simulates the next corpus release — every 97th doc dropped, every
    89th re-scrubbed (text suffixed), every 101st doc re-ingested under
    a new id. The diff returns exactly the touched keys with their
    status; one full outer join on doc_id."""
    from ..operators.snapshot import snapshot_diff

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dropped = F.col("doc_id") % 97 == 0
    edited = F.col("doc_id") % 89 == 0
    readded = F.col("doc_id") % 101 == 0
    new = (
        docs.where(~dropped)
        .withColumn(
            "text",
            F.when(edited, F.concat(F.col("text"), F.lit(" [rev2]"))).otherwise(
                F.col("text")
            ),
        )
        .unionByName(
            docs.where(readded).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
            )
        )
    )
    return (
        snapshot_diff(docs, new, "doc_id", ["text", "lang"])
        .orderBy("doc_id")
    )


SNAPSHOT_DIFF_SQL = """
WITH o AS (
  SELECT doc_id, text, lang FROM documents
), n AS (
  SELECT doc_id,
         CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang
  FROM documents WHERE doc_id % 101 = 0
)
SELECT * FROM (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN NOT ((o.text IS NOT DISTINCT FROM n.text)
                        AND (o.lang IS NOT DISTINCT FROM n.lang)) THEN 'changed'
         END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
) WHERE status IS NOT NULL
ORDER BY doc_id
"""


def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: deterministic 90/10 split
    (`split_assign`, md5-bucket on doc_id) followed by a cross-corpus
    near-dup join (`fuzzy_text_join`) — every (train doc, test doc)
    pair whose shingle Jaccard ≥ 0.5 is a leak a benchmark score would
    silently inherit. The composition every eval pipeline needs before
    trusting held-out numbers."""
    from ..operators.dedup import fuzzy_text_join_split
    from ..operators.sampling import split_assign

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tagged = split_assign(docs, "doc_id", {"train": 0.9, "test": 0.1})
    return fuzzy_text_join_split(
        tagged,
        F.col("split") == "train",
        threshold=0.5,
        portable=True,
    )


def _leakage_sql() -> str:
    from ..operators.dedup import fuzzy_text_join_sql
    from ..operators.sampling import BUCKETS, _bucket_sql

    train = f"{_bucket_sql('doc_id')} < {int(round(0.9 * BUCKETS))}"
    return fuzzy_text_join_sql("documents", train, 0.5)


def weighted_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling
    (`operators/sampling.py:weighted_sample`): each document survives
    with probability n_chars/2000 (clamped to [0,1]) decided by the
    deterministic md5 coin — longer (better-for-this-demo) docs are
    favored, no RNG. Reported per language: survivors and their char
    mass. Zero-shuffle filter + one aggregate."""
    from ..operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents")
    kept = weighted_sample(docs, "doc_id", F.col("n_chars") / 2000.0)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
        )
        .orderBy("lang")
    )


def _weighted_sql() -> str:
    from ..operators.sampling import weighted_sample_sql

    inner = weighted_sample_sql("documents", "doc_id", "n_chars / 2000.0")
    return f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS kept_chars
FROM ({inner})
GROUP BY lang
ORDER BY lang
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs
    (`operators/dedup.py:containment_pairs`): C(A→B) = |A∩B|/|A| over
    3-gram shingle sets via the shared inverted-index core — the
    doc-inside-doc / boilerplate-inclusion cases a symmetric Jaccard
    threshold never fires on. One direction row per clearing side."""
    from ..operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.8, portable=True)


def _containment_sql() -> str:
    from ..operators.dedup import containment_pairs_sql

    return containment_pairs_sql("documents", threshold=0.8)


#: fixed demo query for the BM25 gate — terms from the fixture vocab
BM25_TERMS = ["hash", "merge", "spark", "window"]


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 retrieval (`operators/retrieval.py:bm25_topk`) for a
    4-term query: one tokenize scan feeding both the corpus-stats
    aggregate and the zero-shuffle scoring map, broadcast 1-row stats,
    TakeOrderedAndProject top-k. Log-free rational idf + fixed-order
    folded summation make the double-precision scores bit-exact vs the
    DuckDB twin (same generated expression text runs in both)."""
    from ..operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=15)


def _bm25_sql() -> str:
    from ..operators.retrieval import bm25_topk_sql

    return bm25_topk_sql("documents", BM25_TERMS, k=15)


#: fixed query table for the batch-BM25 gate — three queries over the
#: fixture vocab, exercising shared and disjoint terms
BM25_QUERY_ROWS = [
    ("q1", "hash"), ("q1", "table"), ("q2", "spark"), ("q2", "merge"),
    ("q3", "window"), ("q3", "sort"), ("q3", "scan"),
]


def bm25_multiquery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 (`operators/retrieval.py:bm25_topk_by_query`): top-10
    docs for each of three queries given as a (query_id, term) table —
    the posting-table scale path (broadcast query vocabulary filters
    tokens BEFORE the tf shuffle, per-query window top-k). Ordered-fold
    summation keeps the double scores bit-exact vs DuckDB."""
    from ..operators.retrieval import bm25_topk_by_query

    docs = load(spark, sf_dir, "documents")
    from ..localrel import values_df

    qdf = values_df(spark, BM25_QUERY_ROWS, "query_id string, term string")
    return bm25_topk_by_query(docs, qdf, k=10)


def _bm25_multi_sql() -> str:
    from ..operators.retrieval import bm25_topk_by_query_sql

    values = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERY_ROWS)
    qsql = f"SELECT * FROM (VALUES {values}) AS t(query_id, term)"
    return bm25_topk_by_query_sql("documents", qsql, k=10)


def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language relative quality bar
    (`operators/sampling.py:quantile_filter`, exact form): keep each
    language's top half by quality score (cume_dist > 0.5, boundary
    ties move atomically) and return the kept (doc_id, lang,
    quality_score) rows — the adaptive filter a multi-lingual corpus
    needs where a global threshold over-prunes low-resource strata."""
    from ..operators.sampling import quantile_filter
    from ..operators.text_analysis import quality_score

    docs = load(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality_score").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return quantile_filter(scored, "lang", "quality_score", q=0.5).select(
        "doc_id", "lang", "quality_score"
    )


def _quantile_filter_sql() -> str:
    from ..operators.sampling import quantile_filter_sql
    from ..operators.text_analysis import quality_score_sql

    scored = (
        "SELECT q.doc_id, d.lang, q.quality_score "
        f"FROM ({quality_score_sql('documents')}) q "
        "JOIN documents d USING (doc_id)"
    )
    return quantile_filter_sql(f"({scored})", "lang", "quality_score", 0.5)


def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection
    (`operators/dedup.py:cluster_keep_best`): MinHash-LSH near-dup
    pairs → connected components → per cluster keep the member
    maximizing the quality score (ties → min doc_id), via the
    map-side partial-max struct aggregate (no per-cluster sort)."""
    from ..operators.dedup import cluster_keep_best, minhash_lsh_pairs
    from ..operators.text_analysis import quality_score

    docs = load(spark, sf_dir, "documents")
    return cluster_keep_best(
        minhash_lsh_pairs(docs, portable=True), quality_score(docs)
    )


def _cluster_keep_best_sql() -> str:
    from ..operators.dedup import cluster_keep_best_sql, minhash_lsh_pairs_sql
    from ..operators.text_analysis import quality_score_sql

    return cluster_keep_best_sql(
        minhash_lsh_pairs_sql(), quality_score_sql("documents")
    )


#: end-to-end curation parameters (shared by query + oracle)
CURATION_QUANTILE = 0.4  # keep each language's top 60% by quality


CURATION_SOURCE_CAP = 10  # max docs any single source may contribute


CURATION_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def curation_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation chain as one composed query — the proof the
    operator families slot together the way a real training-data
    pipeline uses them: quality scoring → per-language relative quality
    bar (`quantile_filter`) → exact dedup (keep min doc_id per distinct
    text) → near-dup keep-best (`near_dup_filter_best` over MinHash-LSH
    pairs) → per-source cap (`cap_per_group`) → deterministic split
    assignment (`split_assign`), reported as per-(lang, split) counts,
    total chars, and the min/max surviving quality (order-insensitive
    extremes — never a float sum whose order could differ across
    engines)."""
    from ..operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        near_dup_filter_best,
    )
    from ..operators.sampling import cap_per_group, quantile_filter, split_assign
    from ..operators.text_analysis import quality_score

    from ..persist import materialize

    docs = load(spark, sf_dir, "documents")
    scored = docs.join(
        quality_score(docs).select("doc_id", "quality_score"), "doc_id"
    )
    # bar and exact each feed TWO consumers (the dedup digest aggregate
    # AND the survivor join-back; the LSH signature build AND the
    # keep-best join). Unmaterialized, each subtree — including the
    # corpus scan + quality scoring under it — executes twice in the
    # final plan: measured 6.1 s -> 4.5 s at sf0.1, and at 100 TB the
    # recompute would be two extra full-corpus passes.
    bar = materialize(
        quantile_filter(scored, "lang", "quality_score", q=CURATION_QUANTILE)
    )
    exact = materialize(
        bar.join(
            exact_dedup(bar).select(F.col("keep_id").alias("doc_id")), "doc_id"
        )
    )
    near = near_dup_filter_best(
        exact, minhash_lsh_pairs(exact, portable=True), "quality_score"
    )
    capped = cap_per_group(
        near, "source", cap=CURATION_SOURCE_CAP, score_col="quality_score"
    )
    split = split_assign(capped, "doc_id", CURATION_SPLITS)
    return (
        split.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
            F.min("quality_score").alias("min_q"),
            F.max("quality_score").alias("max_q"),
        )
        .orderBy("lang", "split")
    )


def _curation_sql() -> str:
    from ..operators.dedup import minhash_lsh_pairs_sql, near_dup_clusters_sql
    from ..operators.sampling import (
        cap_per_group_sql,
        quantile_filter_sql,
        split_assign_sql,
    )
    from ..operators.text_analysis import quality_score_sql

    labels = near_dup_clusters_sql(minhash_lsh_pairs_sql("stage_exact"))
    return f"""
WITH scored AS (
  SELECT d.*, q.quality_score
  FROM documents d JOIN ({quality_score_sql("documents")}) q USING (doc_id)
), stage_bar AS (
  {quantile_filter_sql("scored", "lang", "quality_score", CURATION_QUANTILE)}
), exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM stage_bar GROUP BY md5(text)
), stage_exact AS (
  SELECT s.* FROM stage_bar s JOIN exact_keep USING (doc_id)
), labels AS (
  {labels}
), best AS (
  SELECT cluster_id, min(doc_id) FILTER (WHERE __s = mx) AS keep_id
  FROM (
    SELECT m.*, max(__s) OVER (PARTITION BY cluster_id) AS mx
    FROM (
      SELECT l.doc_id, l.cluster_id, s.quality_score AS __s
      FROM labels l JOIN stage_exact s USING (doc_id)
    ) m
  )
  GROUP BY cluster_id
), losers AS (
  SELECT l.doc_id FROM labels l JOIN best USING (cluster_id)
  WHERE l.doc_id != best.keep_id
), stage_near AS (
  SELECT * FROM stage_exact
  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
), stage_cap AS (
  {cap_per_group_sql("stage_near", "source", CURATION_SOURCE_CAP, "quality_score")}
), stage_split AS (
  {split_assign_sql("stage_cap", "doc_id", CURATION_SPLITS)}
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
       min(quality_score) AS min_q,
       max(quality_score) AS max_q
FROM stage_split
GROUP BY lang, split
ORDER BY lang, split
"""


def temperature_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language rebalancing
    (`operators/sampling.py:temperature_sample`, τ=2): per-language
    kept counts and kept char mass after down-sampling toward
    share^(1/2) proportions — low-resource languages keep everything,
    the dominant one is thinned, nothing is upsampled."""
    from ..operators.sampling import temperature_sample

    docs = load(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "doc_id", "lang", "n_chars", tau=2.0)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
        )
        .orderBy("lang")
    )


def _temperature_sql() -> str:
    from ..operators.sampling import temperature_sample_sql

    inner = temperature_sample_sql("documents", "doc_id", "lang", "n_chars", 2.0)
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS kept_chars
FROM ({inner}) __k
GROUP BY lang ORDER BY lang
"""


SCD2_TS = 100


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level duplicated-mass measurement
    (`operators/substrings.py:substring_dup_spans`): per document, how
    many chars sit inside a 20-gram that occurs >= 2 times corpus-wide
    — merged-interval arithmetic, all windows + integer columns."""
    from ..operators.substrings import substring_dup_spans

    docs = load(spark, sf_dir, "documents")
    return substring_dup_spans(
        docs.select("doc_id", "text"), k=20, min_df=2, portable=True
    ).orderBy("doc_id")


def _substring_sql() -> str:
    from ..operators.substrings import substring_dup_spans_sql

    return substring_dup_spans_sql("documents", k=20, min_df=2) + " ORDER BY doc_id"


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless exact-Jaccard pair join via prefix filtering
    (`operators/setjoin.py:prefix_jaccard_pairs`, 3-gram shingle sets,
    t=0.5). The oracle is BRUTE-FORCE all-pairs, so a green row proves
    the prefix filter misses nothing — the recall guarantee the
    MinHash band family cannot give."""
    from ..operators.setjoin import prefix_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(
        docs.select("doc_id", "text"), threshold=0.5, shingle_n=3
    ).orderBy("doc_a", "doc_b")


def _prefix_jaccard_sql() -> str:
    from ..operators.setjoin import prefix_jaccard_pairs_sql

    return (
        prefix_jaccard_pairs_sql("documents", threshold=0.5, shingle_n=3)
        + " ORDER BY doc_a, doc_b"
    )


def text_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-bit unigram surprisal quality score
    (`operators/text_analysis.py:surprisal_score`): corpus vocab
    aggregate -> broadcast bits table -> per-doc sum; every number is
    bit-exact integer arithmetic (floor-log2 via binary length, no
    float log)."""
    from ..operators.text_analysis import surprisal_score

    docs = load(spark, sf_dir, "documents")
    return surprisal_score(docs.select("doc_id", "text")).orderBy("doc_id")


def _surprisal_sql() -> str:
    from ..operators.text_analysis import surprisal_score_sql

    return surprisal_score_sql("documents") + " ORDER BY doc_id"


def _scd2_frames(spark: SparkSession, sf_dir: str):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dim = docs.select(
        "doc_id",
        "text",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    survivors = docs.where(F.col("doc_id") % 7 != 0)
    changed = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    inserts = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new-"), F.col("text")).alias("text"),
    )
    snapshot = survivors.select("doc_id", changed.alias("text")).unionByName(
        inserts
    )
    return dim, snapshot


_SCD2_DIM_SQL = """
SELECT doc_id, text, CAST(0 AS BIGINT) AS valid_from,
       CAST(NULL AS BIGINT) AS valid_to
FROM documents
"""


_SCD2_SNAP_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
FROM documents WHERE doc_id % 7 <> 0
UNION ALL
SELECT doc_id + 1000000 AS doc_id, 'new-' || text AS text
FROM documents WHERE doc_id < 20
"""


def scd2_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (`operators/snapshot.py:scd2_apply`): roll a
    versioned documents dimension forward to a snapshot with deletes
    (doc_id%7=0), changes (doc_id%5=0), and inserts — one full-outer
    join + one generator explode, no per-case re-joins."""
    from ..operators.snapshot import scd2_apply

    dim, snapshot = _scd2_frames(spark, sf_dir)
    merged = scd2_apply(dim, snapshot, "doc_id", ["text"], SCD2_TS)
    # the gate projection maps the open-row NULL valid_to to -1: the
    # driver fetches DuckDB through pandas, where a NULL-able BIGINT
    # column widens to float64 ("100.0") and hash-mismatches Spark's
    # int — the operator itself keeps real NULL semantics
    return merged.select(
        "doc_id",
        "text",
        "valid_from",
        F.coalesce(F.col("valid_to"), F.lit(-1).cast("long")).alias("valid_to"),
    ).orderBy("doc_id", "valid_from")


def _scd2_sql() -> str:
    from ..operators.snapshot import scd2_apply_sql

    inner = scd2_apply_sql(
        _SCD2_DIM_SQL, _SCD2_SNAP_SQL, "doc_id", ["text"], SCD2_TS
    )
    return f"""
SELECT doc_id, text, valid_from,
       COALESCE(valid_to, CAST(-1 AS BIGINT)) AS valid_to
FROM ({inner}) __m
ORDER BY doc_id, valid_from
"""


def compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning
    (`sources/warehouse.py:plan_compaction`): documents stand in for a
    per-source file listing (doc_id = file, n_chars = bytes); files
    are packed into ~5000-byte bins with one window cumulative sum and
    the plan is summarized per (source, bin)."""
    from ..sources.warehouse import plan_compaction

    docs = load(spark, sf_dir, "documents")
    files = docs.select("source", "doc_id", F.col("n_chars").alias("bytes"))
    plan = plan_compaction(
        files,
        "bytes",
        target_bytes=5000,
        partition_cols=["source"],
        order_cols=["doc_id"],
    )
    return (
        plan.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.col("bytes").cast("long")).alias("bin_bytes"),
            F.min("doc_id").alias("first_file"),
        )
        .orderBy("source", "bin_id")
    )


def _compaction_sql() -> str:
    from ..sources.warehouse import plan_compaction_sql

    inner = plan_compaction_sql(
        "SELECT source, doc_id, n_chars AS bytes FROM documents",
        "bytes",
        target_bytes=5000,
        partition_cols=["source"],
        order_cols=["doc_id"],
    )
    return f"""
SELECT source, bin_id, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CAST(bytes AS BIGINT)) AS BIGINT) AS bin_bytes,
       min(doc_id) AS first_file
FROM ({inner}) __p
GROUP BY source, bin_id ORDER BY source, bin_id
"""


def vocab_encode_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-vocab tokenization (`operators/vocab.py`): top-64
    frequency-ranked vocab, id-encode every document, then emit the
    position-weighted id checksum (the gate-safe scalar form of the id
    array — same convention as the quantization stats)."""
    from ..operators.vocab import build_vocab, encode_docs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    enc = encode_docs(docs, build_vocab(docs, max_size=64))
    idx = F.sequence(F.lit(1), F.size("ids"))
    checksum = F.aggregate(
        F.zip_with(F.col("ids"), idx, lambda x, i: x * i),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return enc.select(
        "doc_id", "n_tokens", "n_oov", checksum.alias("ids_checksum")
    ).orderBy("doc_id")


def _vocab_sql() -> str:
    from ..operators.vocab import encode_docs_sql

    inner = encode_docs_sql("documents", max_size=64)
    return f"""
SELECT doc_id, n_tokens, n_oov,
       CAST(COALESCE(list_sum(list_transform(range(1, len(ids) + 1),
                i -> ids[CAST(i AS INTEGER)] * i)), 0) AS BIGINT)
           AS ids_checksum
FROM ({inner}) __e
ORDER BY doc_id
"""


def negative_pairs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling
    (`operators/contrastive.py:negative_pairs`): 4 hash-bucket
    negatives per anchor via two broadcast joins — no global index, no
    cartesian, bit-reproducible from the seed."""
    from ..operators.contrastive import negative_pairs

    docs = load(spark, sf_dir, "documents")
    return negative_pairs(
        docs, "doc_id", k=4, n_buckets=64, seed=7
    ).orderBy("anchor_id", "slot")


def _negative_sql() -> str:
    from ..operators.contrastive import negative_pairs_sql

    return (
        negative_pairs_sql("documents", "doc_id", k=4, n_buckets=64, seed=7)
        + " ORDER BY anchor_id, slot"
    )


def chunk_positive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive positive pairs from adjacent chunks
    (`operators/chunking.py:adjacent_chunk_pairs`) — the positive
    counterpart of `negative_pairs_sample`, one lead-window over the
    chunker's own partitioning."""
    from ..operators.chunking import adjacent_chunk_pairs, chunk_documents

    docs = load(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_size=64, overlap=16)
    return adjacent_chunk_pairs(chunks).orderBy("doc_id", "chunk_a")


def _chunk_pairs_sql() -> str:
    from ..operators.chunking import adjacent_chunk_pairs_sql, chunk_documents_sql

    inner = chunk_documents_sql(chunk_size=64, overlap=16)
    return (
        adjacent_chunk_pairs_sql(inner) + " ORDER BY doc_id, chunk_a"
    )


def vocab_shift_even_odd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report (`operators/drift.py:vocab_shift`): top-50
    tokens by cross-multiplied frequency shift between even- and
    odd-doc_id halves — division-free, so the ranking is exact."""
    from ..operators.drift import vocab_shift

    docs = load(spark, sf_dir, "documents")
    return vocab_shift(docs, F.col("doc_id") % 2 == 0, top_k=50)


def _vocab_shift_sql() -> str:
    from ..operators.drift import vocab_shift_sql

    return vocab_shift_sql("documents", "doc_id % 2 = 0", top_k=50)


def source_overlap_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (`operators/drift.py:
    source_overlap_matrix`): the fixture corpus has no exact dups, so
    the gate unions a deterministic 'mirror' feed (every 3rd doc
    re-attributed) and counts shared digests per source pair."""
    from ..operators.drift import source_overlap_matrix

    docs = load(spark, sf_dir, "documents").select("source", "text")
    mirror = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 0)
        .select(F.lit("mirror").alias("source"), "text")
    )
    return source_overlap_matrix(docs.unionByName(mirror)).orderBy(
        "source_a", "source_b"
    )


_SOURCE_OVERLAP_SQL = """
WITH corpus AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 3 = 0
), d AS (
  SELECT DISTINCT md5(text) AS dg, source AS s FROM corpus
)
SELECT a.s AS source_a, b.s AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.dg = b.dg AND a.s < b.s
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


def corpus_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the dataset-card numbers a
    release pipeline publishes: volume, language spread, exact-dup
    exposure, and the exact median document length
    (`operators/stats.py:grouped_median2` composed with plain
    aggregates; one scan feeds everything)."""
    from ..operators.stats import grouped_median2

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "source", "lang", F.col("n_chars").cast("long").alias("n_chars"),
        F.md5("text").alias("__d"),
    )
    dup_digests = (
        base.groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("__d")
    )
    # dup_digests is corpus-dependent (could be huge in a mirror-heavy
    # corpus) — let AQE pick broadcast vs shuffle
    flagged = base.join(
        dup_digests.withColumn("__dup", F.lit(1)), "__d", "left"
    )
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0)).cast("long")).alias(
            "n_dup_docs"
        ),
    )
    med = grouped_median2(
        base.select("source", "n_chars"), "source", "n_chars"
    ).select("source", F.col("median2").alias("len_median2"))
    return agg.join(med, "source").orderBy("source")


_CORPUS_REPORT_SQL = """
WITH base AS (
  SELECT source, lang, CAST(n_chars AS BIGINT) AS n_chars, md5(text) AS d
  FROM documents
), dups AS (
  SELECT d FROM base GROUP BY d HAVING count(*) > 1
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(CASE WHEN d IN (SELECT d FROM dups) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_docs
  FROM base GROUP BY source
), med AS (
  SELECT source, CAST(round(2 * median(n_chars)) AS BIGINT) AS len_median2
  FROM base GROUP BY source
)
SELECT agg.source, n_docs, total_chars, n_langs, n_dup_docs, len_median2
FROM agg JOIN med ON agg.source = med.source
ORDER BY agg.source
"""


def budget_select_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained curation (`operators/sampling.py:
    budget_select`) composed with the surprisal scorer: each language
    keeps its highest-surprisal documents until a 20k-char budget is
    spent; reports per-language kept mass."""
    from ..operators.sampling import budget_select
    from ..operators.text_analysis import surprisal_score

    docs = load(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", "n_chars").join(
        surprisal_score(docs.select("doc_id", "text")), "doc_id"
    )
    kept = budget_select(
        scored, "lang", "n_chars", "surprisal_bits", budget=20_000
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
            F.sum("surprisal_bits").cast("long").alias("kept_bits"),
        )
        .orderBy("lang")
    )


def _budget_sql() -> str:
    from ..operators.sampling import budget_select_sql
    from ..operators.text_analysis import surprisal_score_sql

    scored = f"""
SELECT d.doc_id, d.lang, d.n_chars, s.surprisal_bits
FROM documents d JOIN ({surprisal_score_sql("documents")}) s USING (doc_id)
"""
    inner = budget_select_sql(
        scored, "lang", "n_chars", "surprisal_bits", budget=20_000
    )
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS kept_chars,
       CAST(sum(surprisal_bits) AS BIGINT) AS kept_bits
FROM ({inner}) __k
GROUP BY lang ORDER BY lang
"""


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring
    (`operators/text_analysis.py:bigram_surprisal_score`): integer-bit
    surprisal over adjacent token pairs — boilerplate scores low even
    when its unigrams look normal."""
    from ..operators.text_analysis import bigram_surprisal_score

    docs = load(spark, sf_dir, "documents")
    return bigram_surprisal_score(docs.select("doc_id", "text")).orderBy(
        "doc_id"
    )


def _bigram_sql() -> str:
    from ..operators.text_analysis import bigram_surprisal_score_sql

    return bigram_surprisal_score_sql("documents") + " ORDER BY doc_id"


def epoch_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic epoch permutation of the documents corpus
    (`operators/sampling.py:epoch_positions` — distributed global rank
    over the portable hash order)."""
    from ..operators.sampling import epoch_positions

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_positions(docs, "doc_id", "epoch7")


def _epoch_shuffle_sql() -> str:
    from ..operators.sampling import epoch_positions_sql

    return epoch_positions_sql(
        "(SELECT doc_id, source FROM documents) __d", "doc_id", "epoch7",
        "doc_id, source",
    )


_MIX_WEIGHTS = {"src0": 3, "src1": 2, "src2": 2, "src3": 1}


def interleave_mix_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-interleaved reading order over the
    documents corpus (`operators/sampling.py:interleave_positions`):
    the chosen sources appear throughout the epoch at 3:2:2:1 weights."""
    from ..operators.sampling import interleave_positions

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_positions(docs, "doc_id", "source", _MIX_WEIGHTS)


def _interleave_sql() -> str:
    from ..operators.sampling import interleave_positions_sql

    return interleave_positions_sql(
        "(SELECT doc_id, source FROM documents)",
        "doc_id",
        "source",
        _MIX_WEIGHTS,
        "doc_id, source",
    )


def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-64 adjacent character pairs of the corpus vocabulary,
    frequency-weighted (`operators/vocab.py:bpe_pair_counts`) — one
    BPE tokenizer-training merge iteration's candidate statistics."""
    from ..operators.vocab import bpe_pair_counts

    return bpe_pair_counts(load(spark, sf_dir, "documents"), top_n=64)


def _bpe_sql() -> str:
    from ..operators.vocab import bpe_pair_counts_sql

    return bpe_pair_counts_sql("documents", top_n=64)


def pareto_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal documents on (word count, distinct word count) —
    the skyline selection no single-axis threshold expresses
    (`operators/stats.py:pareto_frontier`: per-x reduce + distributed
    strict-suffix max, vs the oracle's literal NOT EXISTS dominance
    anti-join)."""
    from ..operators.stats import pareto_frontier
    from ..operators.text_analysis import words_col

    ws = words_col(F.col("text"))
    m = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    )
    return pareto_frontier(m, "n_words", "n_distinct")


def _pareto_sql() -> str:
    from ..operators.stats import pareto_frontier_sql
    from ..operators.text_analysis import WORDS_SQL

    metrics = (
        "SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,"
        " CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct"
        f" FROM (SELECT doc_id, {WORDS_SQL} AS ws FROM documents) __w"
    )
    return pareto_frontier_sql(
        metrics, "n_words", "n_distinct", "a.doc_id, a.n_words, a.n_distinct"
    )


def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six learned BPE merges over the corpus — the full
    count→argmax→merge training cycle (`operators/vocab.py:bpe_train`),
    replayed by the oracle as an unrolled CTE chain."""
    from ..operators.vocab import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), n_merges=6)


def _bpe_train_sql() -> str:
    from ..operators.vocab import bpe_train_sql

    return bpe_train_sql("documents", n_merges=6)


def bpe_subword_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 subword frequencies after segmenting the corpus with the
    6 learned merges — the apply half of the BPE lifecycle
    (`operators/vocab.py:bpe_train` → `bpe_subword_counts`; the oracle
    reads the training CTE chain's final symbol table directly)."""
    from ..operators.vocab import bpe_subword_counts, bpe_train, word_counts
    from ..persist import materialize

    docs = load(spark, sf_dir, "documents")
    # tokenize the corpus ONCE: train and apply share the materialized
    # frequency-weighted word table
    words = materialize(word_counts(docs))
    merges = [
        (r.lhs, r.rhs)
        for r in sorted(
            bpe_train(docs, n_merges=6, words=words).collect(),
            key=lambda r: r.merge_rank,
        )
    ]
    return bpe_subword_counts(docs, merges, top_n=40, words=words)


def _bpe_subword_sql() -> str:
    from ..operators.vocab import bpe_subword_counts_sql

    return bpe_subword_counts_sql("documents", n_merges=6, top_n=40)


def coverage_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five documents picked by greedy maximum shingle coverage — the
    submodular "small seed set that spans the corpus" curation rule
    (`operators/sampling.py:coverage_select`; the oracle unrolls the
    identical greedy cycle as a CTE chain)."""
    from ..operators.sampling import coverage_select

    return coverage_select(
        load(spark, sf_dir, "documents"), k=5, n=3, portable=True
    )


def _coverage_sql() -> str:
    from ..operators.sampling import coverage_select_sql

    return coverage_select_sql("documents", k=5, n=3)


def histogram_drift_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin document-length drift between source src0 and the rest
    of the corpus, 16 equi-width bins with exact cross-multiplied
    proportion gaps (`operators/drift.py:histogram_drift` — summing
    gap_num/(2·Na·Nb) is the exact total-variation distance)."""
    from ..operators.drift import histogram_drift

    docs = load(spark, sf_dir, "documents")
    return histogram_drift(
        docs, "n_chars", F.col("source") == "src0", n_bins=16
    )


def _hist_drift_sql() -> str:
    from ..operators.drift import histogram_drift_sql

    return histogram_drift_sql(
        "SELECT n_chars, source FROM documents",
        "n_chars",
        "source = 'src0'",
        n_bins=16,
    )


def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style target-likeness score for every document, target =
    source src0, 256 hashed-bigram buckets, portable hash family
    (`operators/text_analysis.py:importance_score`; integer
    cross-multiplied gap in place of DSIR's log-ratio)."""
    from ..operators.text_analysis import importance_score

    docs = load(spark, sf_dir, "documents")
    return importance_score(
        docs, F.col("source") == "src0", n_buckets=256, portable=True
    )


def _dsir_sql() -> str:
    from ..operators.text_analysis import importance_score_sql

    return importance_score_sql("source = 'src0'", n_buckets=256)


def waterfill_lang_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-fill 70% of the corpus's total word count across languages
    (`operators/sampling.py:waterfill_allocation`): equal target shares
    capped at each language's availability, remainder re-leveled among
    the uncapped — max-min fair, all-integer, allocations summing
    exactly to the budget. The budget derives from the data (one 1-row
    scalar fetch), so the gate is scale-invariant: small languages cap,
    large ones share."""
    from ..operators.sampling import waterfill_allocation
    from ..operators.text_analysis import words_col

    counts = (
        load(spark, sf_dir, "documents")
        .select("lang", F.size(words_col(F.col("text"))).alias("__nw"))
        .groupBy("lang")
        .agg(F.sum("__nw").cast("long").alias("avail"))
    )
    from ..persist import materialize

    # one documents scan: the budget collect is the checkpoint's first
    # reader, and the allocator's rank pass then reads blocks instead
    # of re-running the words_col regex aggregate (r14)
    counts = materialize(counts)
    total = counts.agg(F.sum("avail")).collect()[0][0]
    return waterfill_allocation(counts, "lang", "avail", total * 7 // 10)


def _waterfill_sql() -> str:
    from ..operators.sampling import waterfill_allocation_sql
    from ..operators.text_analysis import WORDS_SQL

    counts = (
        f"SELECT lang, CAST(sum(len({WORDS_SQL})) AS BIGINT) AS avail"
        " FROM documents GROUP BY lang"
    )
    budget = (
        f"(SELECT sum(avail) * 7 // 10 FROM"
        f" ({counts}) __b)"
    )
    return waterfill_allocation_sql(counts, "lang", "avail", budget)


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty vs the lower-doc_id corpus
    (`operators/text_analysis.py:ngram_novelty`): distinct-gram explode,
    min(doc_id) first-occurrence join, per-doc novel/total counts."""
    from ..operators.text_analysis import ngram_novelty

    return ngram_novelty(load(spark, sf_dir, "documents"), n=3)


def _novelty_sql() -> str:
    from ..operators.text_analysis import ngram_novelty_sql

    return ngram_novelty_sql("documents", n=3)


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility of a corpus-trained 6-merge BPE tokenizer
    (`operators/vocab.py:bpe_fertility`): integer word/subword/char
    masses after segmenting each language's vocabulary with the shared
    merges — the cross-lingual tokenizer-equity audit."""
    from ..operators.vocab import bpe_fertility

    return bpe_fertility(
        load(spark, sf_dir, "documents"), n_merges=6, group_col="lang"
    )


def _fertility_sql() -> str:
    from ..operators.vocab import bpe_fertility_sql

    return bpe_fertility_sql("documents", n_merges=6, group_col="lang")


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations among the 100 most document-frequent words,
    ranked by integer milli-lift (`operators/text_analysis.py:
    pmi_term_pairs`): broadcast vocab, codegen'd per-doc pair
    expansion, cross-multiplied PMI ordering with no floats."""
    from ..operators.text_analysis import pmi_term_pairs

    return pmi_term_pairs(load(spark, sf_dir, "documents"), 100, 50)


def _pmi_sql() -> str:
    from ..operators.text_analysis import pmi_term_pairs_sql

    return pmi_term_pairs_sql("documents", 100, 50)


def padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed padding-waste report
    (`operators/packing.py:padding_waste_stats`): per 32-token bucket,
    pad tokens to the bucket max vs to the global max — the sequence-
    bucketing throughput ROI, exact longs."""
    from ..operators.packing import padding_waste_stats

    return padding_waste_stats(load(spark, sf_dir, "documents"), 32)


def _padding_sql() -> str:
    from ..operators.packing import padding_waste_stats_sql

    return padding_waste_stats_sql("documents", 32)


def cluster_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splitting (`operators/sampling.py:
    cluster_safe_split`): hash the near-dup cluster representative so
    no cluster spans train/val/test; reports the per-split doc/cluster
    counts and how many docs the naive per-doc hash would have leaked."""
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.sampling import cluster_safe_split

    docs = load(spark, sf_dir, "documents")
    return cluster_safe_split(
        docs,
        minhash_lsh_pairs(docs, portable=True),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def _cluster_split_sql() -> str:
    from ..operators.dedup import minhash_lsh_pairs_sql
    from ..operators.sampling import cluster_safe_split_sql

    return cluster_safe_split_sql(
        minhash_lsh_pairs_sql(),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def novelty_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty (`operators/text_analysis.py:
    novelty_against_state`): odd-doc_id batch scored against the
    even-doc_id corpus's persisted distinct-gram state — the
    ingest-time "did this snapshot add anything" check."""
    from ..operators.text_analysis import gram_state, novelty_against_state

    docs = load(spark, sf_dir, "documents")
    state = gram_state(docs.where(F.col("doc_id") % 2 == 0), n=3)
    return novelty_against_state(
        docs.where(F.col("doc_id") % 2 == 1), state, n=3
    )


def _novelty_inc_sql() -> str:
    from ..operators.text_analysis import novelty_against_state_sql

    return novelty_against_state_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1",
        "SELECT text FROM documents WHERE doc_id % 2 = 0",
        n=3,
    )


def zipf_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-shape card: tokens, distinct words, hapax
    legomena, modal frequency (`operators/text_analysis.py:zipf_stats`)."""
    from ..operators.text_analysis import zipf_stats

    return zipf_stats(load(spark, sf_dir, "documents"), "source")


def _zipf_sql() -> str:
    from ..operators.text_analysis import zipf_stats_sql

    return zipf_stats_sql("documents", "source")


def quality_dup_decile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile × exact-duplication joint counts
    (`operators/text_analysis.py:quality_dup_deciles`): distributed
    arithmetic ntile over the quality score vs the oracle's native
    ntile window — the 'is low-quality text also the duplicated text'
    ablation scatter."""
    from ..operators.text_analysis import quality_dup_deciles

    return quality_dup_deciles(load(spark, sf_dir, "documents"), 10)


def _qdup_sql() -> str:
    from ..operators.text_analysis import quality_dup_deciles_sql

    return quality_dup_deciles_sql("documents", 10)


def segment_dedup_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence segment dedup with text
    reassembly (`operators/dedup.py:segment_dedup`) — the RefinedWeb
    "remove repeated spans" rule at 10-word granularity, emitting the
    cleaned text itself, not just statistics."""
    from ..operators.dedup import segment_dedup

    return segment_dedup(load(spark, sf_dir, "documents"))


def _segment_dedup_sql() -> str:
    from ..operators.dedup import segment_dedup_sql

    return segment_dedup_sql()


def shard_snake_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding (`operators/packing.py:
    snake_shard_assign`): snake-deal documents into 8 shards by word
    count and report each shard's doc count and token mass — the
    near-equal masses ARE the contract being gated."""
    from pyspark.sql import functions as F

    from ..operators.packing import snake_shard_assign
    from ..operators.text_analysis import words_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(words_col(F.col("text"))).cast("long").alias("n_words")
    )
    return (
        snake_shard_assign(docs, "n_words", n_shards=8)
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("token_mass"),
        )
    )


def _shard_snake_sql() -> str:
    from ..operators.packing import snake_shard_stats_sql
    from ..operators.text_analysis import WORDS_SQL

    return snake_shard_stats_sql("documents", f"len({WORDS_SQL})", n_shards=8)


def gini_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-concentration Gini in exact integer
    arithmetic (`operators/text_analysis.py:gini_concentration`)."""
    from ..operators.text_analysis import gini_concentration

    return gini_concentration(load(spark, sf_dir, "documents"))


def _gini_sql() -> str:
    from ..operators.text_analysis import gini_concentration_sql

    return gini_concentration_sql()


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_language_id": text_language_id,
    "text_quality": text_quality,
    "text_token_stats": text_token_stats,
    "text_fingerprint": text_fingerprint,
    "text_repetition": text_repetition,
    "dedup_exact": dedup_exact,
    "dedup_keep_best": dedup_keep_best,
    "dedup_incremental": dedup_incremental,
    "text_scrub_counts": text_scrub_counts,
    "dedup_jaccard": dedup_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dataset_split_counts": dataset_split_counts,
    "corpus_top_ngrams": corpus_top_ngrams,
    "corpus_length_quantiles": corpus_length_quantiles,
    "dedup_clusters": dedup_clusters,
    "stratified_sample_counts": stratified_sample_counts,
    "doc_top_terms": doc_top_terms,
    "pack_chunks": pack_chunks,
    "decontaminate_overlap": decontaminate_overlap,
    "sample_per_lang": sample_per_lang,
    "quality_filter_funnel": quality_filter_funnel,
    "multimodal_image_features": multimodal_image_features,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_resize_means": multimodal_resize_means,
    "multimodal_frame_stats": multimodal_frame_stats,
    "doc_chunk_windows": doc_chunk_windows,
    "dedup_incremental_near": dedup_incremental_near,
    "corpus_mix_counts": corpus_mix_counts,
    "curation_pipeline_counts": curation_pipeline_counts,
    "temperature_mix_counts": temperature_mix_counts,
    "dedup_containment": dedup_containment,
    "bm25_search_topk": bm25_search_topk,
    "bm25_multiquery_topk": bm25_multiquery_topk,
    "quality_quantile_filter": quality_quantile_filter,
    "dedup_cluster_keep_best": dedup_cluster_keep_best,
    "source_cap_kept": source_cap_kept,
    "fuzzy_join_even_odd": fuzzy_join_even_odd,
    "snapshot_diff_documents": snapshot_diff_documents,
    "split_leakage_pairs": split_leakage_pairs,
    "weighted_sample_counts": weighted_sample_counts,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_prefix_jaccard": dedup_prefix_jaccard,
    "text_surprisal_score": text_surprisal_score,
    "scd2_documents": scd2_documents,
    "compaction_plan_bins": compaction_plan_bins,
    "vocab_encode_checksums": vocab_encode_checksums,
    "negative_pairs_sample": negative_pairs_sample,
    "chunk_positive_pairs": chunk_positive_pairs,
    "vocab_shift_even_odd": vocab_shift_even_odd,
    "source_overlap_mirror": source_overlap_mirror,
    "corpus_report_by_source": corpus_report_by_source,
    "budget_select_per_lang": budget_select_per_lang,
    "text_bigram_surprisal": text_bigram_surprisal,
    "epoch_shuffle_positions": epoch_shuffle_positions,
    "interleave_mix_positions": interleave_mix_positions,
    "bpe_top_pairs": bpe_top_pairs,
    "pareto_docs": pareto_docs,
    "bpe_learned_merges": bpe_learned_merges,
    "bpe_subword_top": bpe_subword_top,
    "coverage_select_docs": coverage_select_docs,
    "histogram_drift_chars": histogram_drift_chars,
    "dsir_importance_scores": dsir_importance_scores,
    "waterfill_lang_budget": waterfill_lang_budget,
    "ngram_novelty_scores": ngram_novelty_scores,
    "bpe_fertility_by_lang": bpe_fertility_by_lang,
    "pmi_collocations": pmi_collocations,
    "padding_waste_buckets": padding_waste_buckets,
    "cluster_safe_split_counts": cluster_safe_split_counts,
    "novelty_incremental": novelty_incremental,
    "zipf_stats_by_source": zipf_stats_by_source,
    "quality_dup_decile_counts": quality_dup_decile_counts,
    "segment_dedup_texts": segment_dedup_texts,
    "shard_snake_mass": shard_snake_mass,
    "gini_source_concentration": gini_source_concentration,
}

ORACLES: dict[str, str] = {
    "text_language_id": language_id_sql(),
    "text_quality": quality_score_sql(),
    "text_token_stats": token_stats_sql(),
    "text_fingerprint": fingerprint_sql(),
    "text_repetition": repetition_stats_sql(),
    "dedup_exact": exact_dedup_sql(),
    "dedup_keep_best": keep_best_sql(),
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "text_scrub_counts": scrub_terms_sql(SCRUB_DENYLIST),
    "dedup_jaccard": jaccard_pairs_sql(),
    "dedup_minhash_lsh": minhash_lsh_pairs_sql(),
    "dedup_simhash": simhash_pairs_sql(),
    "dataset_split_counts": (
        "SELECT split, count(*) AS n_docs FROM ("
        + split_assign_sql("documents", "doc_id", SPLITS)
        + ") GROUP BY split"
    ),
    "corpus_top_ngrams": CORPUS_TOP_NGRAMS_SQL,
    "corpus_length_quantiles": CORPUS_LENGTH_QUANTILES_SQL,
    "dedup_clusters": near_dup_clusters_sql(minhash_lsh_pairs_sql()),
    "stratified_sample_counts": (
        "SELECT lang, count(*) AS n_kept FROM ("
        + stratified_sample_sql(
            "documents", "doc_id", "lang", STRATA_FRACTIONS, STRATA_DEFAULT
        )
        + ") GROUP BY lang"
    ),
    "doc_top_terms": DOC_TOP_TERMS_SQL,
    "pack_chunks": pack_concat_chunks_sql(),
    "decontaminate_overlap": ngram_contamination_sql(),
    "sample_per_lang": _sample_per_lang_sql(),
    "quality_filter_funnel": _quality_funnel_sql(),
    "multimodal_image_features": MULTIMODAL_FEATURES_SQL,
    "multimodal_audio_features": MULTIMODAL_AUDIO_SQL,
    "multimodal_resize_means": MULTIMODAL_RESIZE_SQL,
    "multimodal_frame_stats": MULTIMODAL_FRAMES_SQL,
    "doc_chunk_windows": _chunk_sql(),
    "dedup_incremental_near": _incr_near_sql(),
    "corpus_mix_counts": _mix_sql(),
    "curation_pipeline_counts": _curation_sql(),
    "temperature_mix_counts": _temperature_sql(),
    "dedup_containment": _containment_sql(),
    "bm25_search_topk": _bm25_sql(),
    "bm25_multiquery_topk": _bm25_multi_sql(),
    "quality_quantile_filter": _quantile_filter_sql(),
    "dedup_cluster_keep_best": _cluster_keep_best_sql(),
    "source_cap_kept": SOURCE_CAP_SQL,
    "fuzzy_join_even_odd": _fuzzy_sql(),
    "snapshot_diff_documents": SNAPSHOT_DIFF_SQL,
    "split_leakage_pairs": _leakage_sql(),
    "weighted_sample_counts": _weighted_sql(),
    "dedup_substring_spans": _substring_sql(),
    "dedup_prefix_jaccard": _prefix_jaccard_sql(),
    "text_surprisal_score": _surprisal_sql(),
    "scd2_documents": _scd2_sql(),
    "compaction_plan_bins": _compaction_sql(),
    "vocab_encode_checksums": _vocab_sql(),
    "negative_pairs_sample": _negative_sql(),
    "chunk_positive_pairs": _chunk_pairs_sql(),
    "vocab_shift_even_odd": _vocab_shift_sql(),
    "source_overlap_mirror": _SOURCE_OVERLAP_SQL,
    "corpus_report_by_source": _CORPUS_REPORT_SQL,
    "budget_select_per_lang": _budget_sql(),
    "text_bigram_surprisal": _bigram_sql(),
    "epoch_shuffle_positions": _epoch_shuffle_sql(),
    "interleave_mix_positions": _interleave_sql(),
    "bpe_top_pairs": _bpe_sql(),
    "pareto_docs": _pareto_sql(),
    "bpe_learned_merges": _bpe_train_sql(),
    "bpe_subword_top": _bpe_subword_sql(),
    "coverage_select_docs": _coverage_sql(),
    "histogram_drift_chars": _hist_drift_sql(),
    "dsir_importance_scores": _dsir_sql(),
    "waterfill_lang_budget": _waterfill_sql(),
    "ngram_novelty_scores": _novelty_sql(),
    "bpe_fertility_by_lang": _fertility_sql(),
    "pmi_collocations": _pmi_sql(),
    "padding_waste_buckets": _padding_sql(),
    "cluster_safe_split_counts": _cluster_split_sql(),
    "novelty_incremental": _novelty_inc_sql(),
    "zipf_stats_by_source": _zipf_sql(),
    "quality_dup_decile_counts": _qdup_sql(),
    "segment_dedup_texts": _segment_dedup_sql(),
    "shard_snake_mass": _shard_snake_sql(),
    "gini_source_concentration": _gini_sql(),
}
