"""Corpus drift and cross-source contamination observability.

Beyond-reference scale extensions (SURVEY §7 M7 family): the
monitoring passes a managed corpus runs between releases — which
tokens shifted distribution (crawl drift, scraper regressions) and
which sources share identical documents (mirror detection, licensing
audits).

Both are integer-exact by construction:

- ``vocab_shift`` ranks tokens by ``|cnt_a * N_b - cnt_b * N_a|`` —
  the cross-multiplied form of ``|p_a - p_b|`` that needs no division
  and no float; the sign tells direction. At gate scale the product is
  far inside int64 (cnt <= 1e12-ish corpora need decimal(38) — noted
  in the docstring, the comparison itself is the same expression).
- ``source_overlap_matrix`` counts, per unordered source pair, the
  distinct document digests present in both — built from the
  exact-dup digest, one distinct projection, and a per-digest
  self-join bounded by the number of DISTINCT SOURCES per digest
  (<= |sources|, a catalog-sized constant), never by document count.

Plan shapes: vocab_shift is two map-side-combined token counts + one
full-outer join on the token + two scalar broadcasts; the overlap
matrix is one digest projection + one bounded self-join + one count
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_analysis import words_col, WORDS_SQL


def vocab_shift(
    docs: DataFrame,
    split_col,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` tokens by absolute frequency shift between the
    two halves of ``docs`` defined by boolean column/expression
    ``split_col`` (True = corpus A, False = corpus B). Output:
    ``(tok, cnt_a, cnt_b, shift)`` with
    ``shift = cnt_a*N_b - cnt_b*N_a`` (positive = over-represented in
    A), ordered by ``|shift|`` desc then token.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    toks = docs.select(
        F.when(split_col, F.lit(1)).otherwise(F.lit(0)).alias("__a"),
        F.explode(words_col(F.col("text"))).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.sum("__a").cast("long").alias("cnt_a"),
        F.sum(1 - F.col("__a")).cast("long").alias("cnt_b"),
    )
    totals = counts.agg(
        F.sum("cnt_a").cast("long").alias("__na"),
        F.sum("cnt_b").cast("long").alias("__nb"),
    )
    shifted = counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        "cnt_a",
        "cnt_b",
        (F.col("cnt_a") * F.col("__nb") - F.col("cnt_b") * F.col("__na"))
        .cast("long")
        .alias("shift"),
    )
    return (
        shifted.orderBy(F.abs(F.col("shift")).desc(), F.col("tok").asc())
        .limit(top_k)
    )


def vocab_shift_sql(
    table: str = "documents",
    split_sql: str = "doc_id % 2 = 0",
    top_k: int = 50,
) -> str:
    """DuckDB twin of :func:`vocab_shift`."""
    return f"""
WITH toks AS (
  SELECT CASE WHEN {split_sql} THEN 1 ELSE 0 END AS a,
         unnest({WORDS_SQL}) AS tok
  FROM {table}
), counts AS (
  SELECT tok, CAST(sum(a) AS BIGINT) AS cnt_a,
         CAST(sum(1 - a) AS BIGINT) AS cnt_b
  FROM toks GROUP BY tok
), totals AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
         CAST(sum(cnt_b) AS BIGINT) AS nb
  FROM counts
)
SELECT tok, cnt_a, cnt_b,
       CAST(cnt_a * nb - cnt_b * na AS BIGINT) AS shift
FROM counts, totals
ORDER BY abs(cnt_a * nb - cnt_b * na) DESC, tok ASC
LIMIT {top_k}
"""


def histogram_drift(
    df: DataFrame,
    value_col: str,
    split_col,
    n_bins: int = 16,
) -> DataFrame:
    """Numeric-distribution drift between the two halves of ``df``
    defined by boolean column/expression ``split_col`` (True = A,
    False = B), as an exact per-bin report over ``n_bins`` equi-width
    integer bins of ``value_col``: ``(bin, lo, cnt_a, cnt_b,
    gap_num)`` where ``gap_num = |cnt_a*N_b - cnt_b*N_a|`` — the
    cross-multiplied numerator of ``|p_a - p_b|`` (same float-free
    contract as :func:`vocab_shift`; ``sum(gap_num) / (2*N_a*N_b)`` is
    the exact total-variation distance, the bounded [0,1] drift metric
    PSI approximates without PSI's log-of-ratio floats). ``lo`` is the
    bin's inclusive lower edge in value units.

    Plan: one global min/max aggregate (1-row broadcast), one
    map-side-combined ``groupBy(bin)`` with conditional sums — the
    rows shuffle only by the ≤``n_bins`` bin keys, nothing else; the
    totals are a second 1-row broadcast onto ≤``n_bins`` rows.
    Empty bins are absent from the output (counts are zero on both
    sides — no drift information). Values must be integer-valued and
    non-null."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    v = F.col(value_col).cast("long")
    a = F.when(split_col, F.lit(1)).otherwise(F.lit(0))
    base = df.select(v.alias("__v"), a.alias("__a"))
    rng = base.agg(
        F.min("__v").alias("__mn"), F.max("__v").alias("__mx")
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"least({n_bins - 1}, ((__v - __mn) * {n_bins})"
            " div (__mx - __mn + 1))"
        ).cast("long").alias("bin"),
        "__a",
        "__mn",
        "__mx",
    )
    counts = binned.groupBy("bin").agg(
        F.sum("__a").cast("long").alias("cnt_a"),
        F.sum(1 - F.col("__a")).cast("long").alias("cnt_b"),
        F.max("__mn").alias("__mn"),
        F.max("__mx").alias("__mx"),
    )
    totals = counts.agg(
        F.sum("cnt_a").cast("long").alias("__na"),
        F.sum("cnt_b").cast("long").alias("__nb"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        F.expr(
            f"__mn + (bin * (__mx - __mn + 1)) div {n_bins}"
        ).cast("long").alias("lo"),
        "cnt_a",
        "cnt_b",
        F.abs(
            F.col("cnt_a") * F.col("__nb") - F.col("cnt_b") * F.col("__na")
        ).cast("long").alias("gap_num"),
    )


def histogram_drift_sql(
    table_sql: str,
    value_col: str,
    split_sql: str,
    n_bins: int = 16,
) -> str:
    """DuckDB twin of :func:`histogram_drift`."""
    return f"""
WITH src AS (
  SELECT CAST({value_col} AS BIGINT) AS v,
         CASE WHEN {split_sql} THEN 1 ELSE 0 END AS a
  FROM ({table_sql}) __t
), rng AS (
  SELECT min(v) AS mn, max(v) AS mx FROM src
), counts AS (
  SELECT least({n_bins - 1}, ((v - mn) * {n_bins}) // (mx - mn + 1)) AS bin,
         CAST(sum(a) AS BIGINT) AS cnt_a,
         CAST(sum(1 - a) AS BIGINT) AS cnt_b,
         max(mn) AS mn, max(mx) AS mx
  FROM src, rng GROUP BY 1
), totals AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
         CAST(sum(cnt_b) AS BIGINT) AS nb
  FROM counts
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(mn + (bin * (mx - mn + 1)) // {n_bins} AS BIGINT) AS lo,
       cnt_a, cnt_b,
       CAST(abs(cnt_a * nb - cnt_b * na) AS BIGINT) AS gap_num
FROM counts, totals
"""


def source_overlap_matrix(
    docs: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Unordered source-pair overlap counts: how many distinct
    document digests appear in BOTH sources of each pair (mirror /
    shared-feed detection). Diagonal pairs are excluded; pairs with
    zero overlap are omitted."""
    digests = docs.select(
        F.md5(F.col(text_col)).alias("__d"), F.col(source_col).alias("__s")
    ).distinct()
    a, b = digests.alias("a"), digests.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__d") == F.col("b.__d"))
            & (F.col("a.__s") < F.col("b.__s")),
        )
        .groupBy(
            F.col("a.__s").alias("source_a"), F.col("b.__s").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def embedding_drift_by_label(
    embeddings: DataFrame, quant: int = 1000
) -> DataFrame:
    """Per-label embedding-centroid drift between the even- and
    odd-``vec_id`` halves of a snapshot — the "did my encoder or my
    data shift" monitor, as an exact integer L1 numerator. Vectors
    are quantized to ``round(x·quant)`` longs; with per-half per-dim
    sums S and counts n, the centroid gap numerator is

        ``l1_num = Σ_d |S_even,d·n_odd − S_odd,d·n_even|``

    (the consumer divides by ``n_even·n_odd·quant`` for the actual L1
    distance — kept rational so the gate is float-free). Output:
    ``(label, n_even, n_odd, l1_num)``. Long-overflow bound:
    ``|S|·n < 2^63`` needs n·|x|·quant·n < 9.2e18, i.e. roughly
    n < 10⁶ rows per label at |x| ≤ 3 — aggregate per shard beyond
    that (the sums are associative and mergeable).

    Plan: one ``posexplode`` + a map-side-combined (label, half, dim)
    sum — state bounded by labels × dims × 2, never rows — then a
    self-join of the two tiny half-tables on (label, dim) and one
    final per-label aggregate."""
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(float(quant)), 0).cast("long"),
    )
    base = embeddings.select(
        F.col("label").cast("long").alias("label"),
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode(q).alias("pos", "v"),
    )
    sums = base.groupBy("label", "even", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    e = sums.where(F.col("even")).select(
        "label", "pos", F.col("s").alias("se"), F.col("n").alias("ne")
    )
    o = sums.where(~F.col("even")).select(
        "label", "pos", F.col("s").alias("so"), F.col("n").alias("no")
    )
    j = e.join(o, ["label", "pos"])
    return j.groupBy("label").agg(
        F.first("ne").cast("long").alias("n_even"),
        F.first("no").cast("long").alias("n_odd"),
        F.sum(
            F.abs(F.col("se") * F.col("no") - F.col("so") * F.col("ne"))
        )
        .cast("long")
        .alias("l1_num"),
    )


def embedding_drift_by_label_sql(
    table: str = "embeddings", quant: int = 1000
) -> str:
    """DuckDB twin of :func:`embedding_drift_by_label`."""
    return f"""
WITH base AS (
  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 = 0 AS even,
         CAST(round(unnest(embedding::DOUBLE[]) * {quant}) AS BIGINT) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM {table}
),
sums AS (
  SELECT label, even, pos, CAST(sum(v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY label, even, pos
),
j AS (
  SELECT e.label, e.s AS se, e.n AS ne, o.s AS so, o.n AS no
  FROM (SELECT * FROM sums WHERE even) e
  JOIN (SELECT * FROM sums WHERE NOT even) o USING (label, pos)
)
SELECT label, CAST(min(ne) AS BIGINT) AS n_even,
       CAST(min(no) AS BIGINT) AS n_odd,
       CAST(sum(abs(se * no - so * ne)) AS BIGINT) AS l1_num
FROM j GROUP BY label
"""
