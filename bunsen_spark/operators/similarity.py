"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k as the exact baseline, and approximate
variants (IVF, LSH, JL projection, Hamming rerank, PQ) as the scale
path.

Beyond-reference scale extension (SURVEY §7 M7). The top-k searches
are scatter-gather (REPOSE's prune-locally-then-merge shape):

- **scatter**: the query set is small by construction, so it is
  collected once and carried in the task closure. Each corpus
  partition is scored in ONE vectorized ``mapInArrow`` pass (numpy,
  strict left-to-right dot products for bit-parity with the DuckDB
  twins) and emits only its partition-local top-k per query.
- **gather**: those ≤ partitions × queries × k partial rows are
  collected to the driver and merged there with numpy; the result is
  a LocalRelation. The corpus is never joined or shuffled: an exact
  search runs two jobs (queries, scan) and no exchange.
- **LSH top-k**: each vector gets a ``NUM_PLANES``-bit bucket from the
  signs of dot products with fixed pseudo-random hyperplanes; bucket
  bits are split into bands, candidates must share a band value with
  the query (multi-probe across bands), and only candidates are scored
  exactly. Recall is approximate; ranking among candidates is exact.

The hyperplane weights derive from the portable md5 integer hash, so a
DuckDB oracle reproduces bucket assignments exactly; similarity values
are never emitted (rank only), keeping comparisons robust to last-ulp
float-summation differences.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import md5int_sql
from ..localrel import values_df
from ..persist import materialize

EMBED_DIM = 64
NUM_PLANES = 16
LSH_BANDS = 2
BAND_BITS = NUM_PLANES // LSH_BANDS


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1] for plane ``p``,
    dim ``d`` — the md5int of ``"plane<p>_<d>"`` reduced mod 2001."""
    import hashlib

    h = int(hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[:13], 16)
    return ((h % 2001) - 1000) / 1000.0


PLANES: list[list[float]] = [
    [_plane_weight(p, d) for d in range(EMBED_DIM)] for p in range(NUM_PLANES)
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


#: (applicationId, plan semanticHash) -> scan partition count, so
#: repeated _spread calls on the same logical plan (ivf_kmeans_topk
#: builds its base four times) pay the df.rdd physical-planning probe
#: ONCE (ADVICE r6). Keyed on the SparkContext applicationId — stable
#: and unique per application — not ``id(session)``, whose CPython
#: address can be REUSED by a new session after the old one is
#: garbage-collected and silently serve stale counts (ADVICE r7).
#: Bounded; cleared wholesale when full.
_SPREAD_CACHE: dict[tuple[str, int], int] = {}


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before
    per-vector scoring. A small local fixture reads as ONE parquet
    row-group -> one partition, which serializes every cosine /
    higher-order-function evaluation on a single core (measured: the
    whole Lloyd training of ``kmeans_codebook`` ran single-threaded at
    sf0.1). A cluster-scale table already scans as hundreds of
    partitions, where the job-free partition-count guard makes this a
    no-op — no corpus shuffle is ever added at scale. The partition
    probe (``df.rdd`` forces physical planning, no job) is memoized per
    logical plan via ``semanticHash``."""
    sc = df.sparkSession.sparkContext
    target = min(sc.defaultParallelism, 32)
    key = (sc.applicationId, df.semanticHash())
    n = _SPREAD_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_SPREAD_CACHE) >= 256:
            _SPREAD_CACHE.clear()
        _SPREAD_CACHE[key] = n
    if n < target:
        return df.repartition(target)
    return df


def _corpus(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v array<double>): a scan's input at its natural
    partitioning (numpy consumers need no :func:`_spread`)."""
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _with_norm(embeddings: DataFrame) -> DataFrame:
    return _corpus(embeddings).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))


_TOPK_DDL = "query_id long, neighbor_id long, rank int"


def brute_force_topk(
    embeddings: DataFrame, k: int = 5, num_queries: int = 32
) -> DataFrame:
    """Exact cosine top-k: for each query vector (vec_id <
    ``num_queries``), the ``k`` nearest other vectors. Output:
    (query_id, neighbor_id, rank) — rank 1 = nearest, ties broken by
    neighbor_id.

    One :func:`_topk_scan` corpus pass with the queries in the task
    closure, merged on the driver by :func:`_rank_topk` into a
    LocalRelation: two jobs (queries, scan), no shuffle. Bit-parity:
    sims are :func:`_cosine` values (strict left-to-right dots, single
    IEEE norm-multiply/divide — the exact ``aggregate(zip_with)``
    values), all queries scored in one matrix per batch. No query rows
    (e.g. ``num_queries=0``) gives an empty frame, built on the
    driver.

    A zero-norm vector's cosine (0/0) ranks as -1.0, the DuckDB twin's
    ``list_cosine_similarity`` value, in every member of the family."""

    def build(q: _Queries):
        return _rank_topk(_topk_scan(_corpus(embeddings), q, k, _brute_scorer(q)), k)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def brute_force_topk_sql(
    table: str = "embeddings", k: int = 5, num_queries: int = 32
) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id
         ) AS rank
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {num_queries}
) WHERE rank <= {k}
"""


IVF_CENTROIDS = 16
IVF_PROBE = 2


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to
    their nearest coarse centroid once; a query scans only its
    ``n_probe`` nearest centroids' lists. Output: (query_id,
    neighbor_id, rank) — rank among scanned candidates is exact.

    The coarse quantizer picks the ``n_centroids`` corpus vectors with
    the smallest md5(vec_id) — deterministic and engine-portable (the
    DuckDB oracle reproduces it), standing in for k-means seeding; a
    Lloyd-refined codebook is a drop-in replacement with the same
    assignment/probe plan.

    One :func:`_topk_scan` corpus pass (see :func:`_ivf_scan`): the
    centroids ride in the task closure, the pass assigns cells and
    scores only the probed candidates in numpy (n_centroids/n_probe
    fewer cosines than brute force), emitting partition-local top-k
    partials that :func:`_rank_topk` merges on the driver; candidate
    sims are :func:`_cosine`."""

    def build(q: _Queries):
        return _rank_topk(_ivf_scan(embeddings, q, k, n_centroids, (n_probe,)), k)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def _codebook_rows(cents: DataFrame) -> list:
    """A centroid frame's (cid, cv, cnorm) rows as driver data,
    ascending by cid (so a numpy argmax's first occurrence is the cid
    tiebreak), cnorm verbatim from its Spark-computed column."""
    return sorted(
        (
            (int(r.cid), [float(x) for x in r.cv], float(r.cnorm))
            for r in cents.select("cid", "cv", "cnorm").collect()
        ),
        key=lambda t: t[0],
    )


def _ivf_probe_lists(cents: list, vecs: list, norms: list, max_p: int) -> list:
    """Per query vector, the top-``max_p`` probed cells as a list of
    (centroid INDEX into the cid-ascending ``cents``, probe_rn) — the
    former ``slice(array_sort(struct(negsim, cid)), 1, n_probe)``:
    csim DESC then cid ASC, ±0.0 comparing equal (Python float ==,
    matching Spark's normalized struct order)."""
    out = []
    for qv, qnorm in zip(vecs, norms):
        scored = sorted(
            (
                (-(_py_seq_dot(qv, cv) / (qnorm * cnorm)), cid, idx)
                for idx, (cid, cv, cnorm) in enumerate(cents)
            ),
        )
        out.append([(idx, rn + 1) for rn, (_, _, idx) in enumerate(scored[:max_p])])
    return out


def _ivf_scan(
    embeddings: DataFrame, q: _Queries, k: int, n_centroids: int, probes
):
    """The gathered :func:`_topk_scan` partials (query_id, neighbor_id,
    sim, probe_rn) of the md5-seeded IVF at every probe level in
    ``probes``. The ``n_centroids`` corpus vectors with the smallest
    md5(vec_id) are collected with their Spark-computed cnorms; the
    query probe lists are derived driver-side with the identical float
    arithmetic."""
    from .text_analysis import md5int

    seeded = (
        _with_norm(embeddings)
        .withColumn("h", md5int(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("norm").alias("cnorm"))
    )
    cents = _codebook_rows(seeded)
    probe_lists = _ivf_probe_lists(cents, q.vecs, q.norms, max(probes))
    return _topk_scan(
        _corpus(embeddings),
        q,
        k,
        _ivf_scorer(cents, q, probe_lists, tuple(probes)),
        "sim double, probe_rn int",
    )


def ivf_probe_sweep(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    n_centroids: int = IVF_CENTROIDS,
    probes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """:func:`ivf_topk` at several ``n_probe`` settings in ONE pass
    over the corpus: the centroid scoring and cell assignment — the
    corpus-sized work — run once; each candidate (query, neighbor)
    pair carries the probe rank of the one cell it is reachable
    through (a vector lives in exactly one cell), so every probe
    level's result is a filter + :func:`_rank_topk` merge over the one
    gathered candidate table, on the driver. Output: (n_probe, query_id,
    neighbor_id, rank), bit-identical per level to the standalone
    operator (the scorecard gate's DuckDB twin pins it per level).
    This is the recall-vs-scan-cost curve an index operator publishes;
    computing it naively re-scores the corpus once per level.

    The scan keeps each level's partition-local top-k (nested
    candidate subsets, one per level), so there is one corpus scan
    job whatever the number of levels."""

    def build(q: _Queries):
        import numpy as np
        import pyarrow as pa

        cand = _ivf_scan(embeddings, q, k, n_centroids, probes)
        prn = cand["probe_rn"].to_numpy()
        levels = []
        for p in probes:
            top = _rank_topk(cand.filter(pa.array(prn <= p)), k)
            n_probe = pa.array(np.full(top.num_rows, p, np.int64))
            levels.append(top.append_column("n_probe", n_probe))
        return pa.concat_tables(levels)

    return _with_queries(
        embeddings, num_queries, "n_probe long, query_id long, neighbor_id long, rank int", build
    )


def ivf_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    num_queries: int = 32,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
) -> str:
    h = md5int_sql("CAST(vec_id AS VARCHAR)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM e ORDER BY {h}, vec_id LIMIT {n_centroids}
), scored AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid
         ) AS rn
  FROM e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, cid FROM scored WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM scored
  WHERE vec_id < {num_queries} AND rn <= {n_probe}
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
             PARTITION BY query_id
             ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, neighbor_id
         ) AS rank
  FROM cand
  JOIN e eq ON eq.vec_id = query_id
  JOIN e ec ON ec.vec_id = neighbor_id
) WHERE rank <= {k}
"""


# -- IVF with a Lloyd-trained codebook ---------------------------------------

KMEANS_ITERS = 2
KMEANS_QUANT = 1000.0


def _quantized(embeddings: DataFrame) -> DataFrame:
    """(vec_id, q, qnorm): vectors quantized to INTEGRAL doubles
    (``round(x * 1000)``). Integral doubles make every k-means partial
    sum exact regardless of accumulation order (all addends and sums
    are integers far below 2^53), which is what lets an independent
    engine reproduce the trained codebook bit-for-bit."""
    v = F.col("embedding").cast("array<double>")
    q = F.transform(v, lambda x: F.round(x * F.lit(KMEANS_QUANT), 0))
    return embeddings.select(
        "vec_id", q.alias("q")
    ).withColumn("qnorm", F.sqrt(_dot(F.col("q"), F.col("q"))))


def kmeans_codebook(
    embeddings: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Distributed spherical k-means (Lloyd) codebook: (cid, cv, cnorm).

    Seeding is the deterministic md5-min pick (engine-portable);
    each refinement assigns every vector to its max-cosine centroid
    (broadcast join — centroids are tiny) and recomputes centroids as
    element-wise means via ``posexplode`` + a map-side-combined
    aggregation — the shuffle per iteration is partitions × centroids
    × dim partial sums, NOT the corpus. The whole training is one
    declarative plan (no driver collect between iterations); at much
    deeper iteration counts, localCheckpoint per iteration is the
    drop-in lineage cut. Centroids that lose all members drop out
    (standard Lloyd behavior, mirrored by the oracle).

    Assignment ranks are cosine comparisons, so they are reproducible
    across engines on the quantized integral vectors; the means are
    exact integer-sum averages (see :func:`_quantized`)."""
    # the quantized corpus is re-read by every Lloyd iteration's
    # assignment pass; spread it across cores and materialize it once
    # (state: id + int vector)
    # numpy consumer: natural partitioning, no _spread (see pq_codebooks)
    base = _quantized(embeddings).transform(materialize)
    from .text_analysis import md5int

    seed_rows = (
        base.withColumn("h", md5int(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("cv"))
        .collect()
    )
    # Each refinement round is ONE vectorized corpus pass (r14, guide
    # §4.2 — the same MLlib-shaped rewrite as _pq_train; see the r13
    # HOF cost evidence there). Cosines are accumulated strictly
    # left-to-right across dimensions (_seq_dots), the exact order of
    # the aggregate(zip_with) form and the DuckDB kernel — required
    # because post-round-1 centroid means are NON-integral, where
    # blocked BLAS summation could differ in the last bit and flip a
    # rank. Counts + element sums stay exact integers; the mean is the
    # identical single IEEE division. argmax first-occurrence over
    # cid-ascending rows == max(struct(csim, -cid, cid)). Centroids
    # that lose all members drop out (standard Lloyd, mirrored by the
    # oracle).
    import numpy as np

    pairs = sorted(((r.cid, list(r.cv)) for r in seed_rows), key=lambda t: t[0])
    cids = [c for c, _ in pairs]
    c_mat = np.array([v for _, v in pairs], dtype=np.float64)
    corpus = base.select("q", "qnorm")
    for _ in range(n_iters):
        combined = (
            corpus.mapInArrow(
                _cos_partials_fn(cids, c_mat),
                "cid long, n long, s array<double>",
            )
            .groupBy("cid")
            .agg(F.sum("n").alias("n"), _elem_sums(EMBED_DIM).alias("s"))
            .collect()
        )
        pairs = sorted(
            ((r.cid, [sv / r.n for sv in r.s]) for r in combined),
            key=lambda t: t[0],
        )
        cids = [c for c, _ in pairs]
        c_mat = np.array([v for _, v in pairs], dtype=np.float64)
    rows = [(int(c), [float(x) for x in c_mat[j]]) for j, c in enumerate(cids)]
    cents = values_df(base.sparkSession, rows, "cid long, cv array<double>")
    # Project over LocalRelation folds driver-side (ConvertToLocalRelation),
    # so the returned frame stays a LocalRelation including cnorm
    return cents.select(
        "cid", "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cnorm")
    )


def _with_lattice(df: DataFrame) -> DataFrame:
    """``df`` plus the (q, qnorm) lattice columns of its ``v``: the same
    Spark expressions :func:`_quantized` builds, so assignment inputs
    are bit-identical to the codebook training's."""
    return df.withColumn(
        "q", F.transform(F.col("v"), lambda x: F.round(x * F.lit(KMEANS_QUANT), 0))
    ).withColumn("qnorm", F.sqrt(_dot(F.col("q"), F.col("q"))))


def _kmeans_assign(src: DataFrame, cents: DataFrame, payload: str) -> DataFrame:
    """(vec_id, cid, *payload): each (vec_id, q, qnorm, *payload) row
    of ``src`` assigned to its max-cosine centroid — the shared
    assignment step of :func:`semantic_dedup` and
    :func:`cluster_label_purity`; ``payload`` is the DDL of the columns
    passed through. One vectorized corpus pass (r14, guide §4.2): the k
    centroids (with their Spark-computed cnorms, verbatim) ride in the
    task closure and the argmax runs in numpy with the strict
    left-to-right cosine accumulation (_seq_dots) — first occurrence
    over cid-ascending rows is exactly the former
    ``array_max(struct(csim, -cid, cid))`` ordering. ``cents`` is a
    local relation when trained this session, so the collect is
    driver-only."""
    return src.mapInArrow(
        _cos_assign_payload_fn(_codebook_rows(cents), tuple(_ddl_names(payload))),
        f"vec_id long, cid long, {payload}",
    )


def ivf_kmeans_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """IVF top-k over a Lloyd-trained codebook (the real-k-means
    upgrade of :func:`ivf_topk`'s seeded quantizer; same probe plan).
    Coarse assignment/probing uses cosine against the trained
    centroids on the quantized vectors; final ranking among candidates
    is exact cosine on the original vectors.

    One :func:`_topk_scan` corpus pass (the seeded-IVF scan of
    :func:`ivf_topk` over the trained codebook): the LocalRelation
    codebook collects driver-only, query probe lists derive
    driver-side with the identical quantized-cosine arithmetic (HALF_UP
    lattice, struct ordering via Python tuple compare), and the pass
    assigns cells on the quantized columns while scoring probed
    candidates on the raw vectors — partition-local top-k partials that
    :func:`_rank_topk` merges on the driver."""

    def build(q: _Queries):
        cents = _codebook_rows(kmeans_codebook(embeddings, n_centroids, n_iters))
        # probe lists on the QUANTIZED lattice (the assignment geometry)
        lattice = [[_round_half_up(x * KMEANS_QUANT) for x in v] for v in q.vecs]
        probe_lists = _ivf_probe_lists(
            cents, lattice, [_py_norm(v) for v in lattice], n_probe
        )
        partials = _topk_scan(
            _with_lattice(_corpus(embeddings)),
            q,
            k,
            _ivf_scorer(cents, q, probe_lists, (n_probe,), quantized=True),
            "sim double, probe_rn int",
        )
        return _rank_topk(partials, k)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def _kmeans_cte_parts(
    table: str, n_centroids: int, n_iters: int, dim: int
) -> list[str]:
    """Shared DuckDB CTE chain reproducing :func:`kmeans_codebook`
    bit-for-bit (md5 seeding → quantize → unrolled Lloyd iterations);
    ends at ``cent{n_iters}`` with ``e`` (raw vectors) and ``e_q``
    (quantized) available for the caller's scoring CTEs."""
    h = md5int_sql("CAST(vec_id AS VARCHAR)")
    parts = [
        f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
e_q AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> round(x * {KMEANS_QUANT})) AS q
  FROM {table}
),
cent0 AS (
  SELECT vec_id AS cid, q AS cv FROM e_q ORDER BY {h}, vec_id LIMIT {n_centroids}
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"""asg{t} AS (
  SELECT vec_id, q, cid FROM (
    SELECT eq.vec_id, eq.q, c.cid,
           row_number() OVER (
               PARTITION BY eq.vec_id
               ORDER BY list_cosine_similarity(eq.q, c.cv) DESC, c.cid
           ) AS rn
    FROM e_q eq CROSS JOIN cent{t - 1} c
  ) WHERE rn = 1
),
cent{t} AS (
  SELECT cid, list(cd ORDER BY pos) AS cv FROM (
    SELECT cid, pos, sum(val) / count(*) AS cd FROM (
      SELECT cid, unnest(q) AS val, unnest(range(1, {dim + 1})) AS pos FROM asg{t}
    ) GROUP BY cid, pos
  ) GROUP BY cid
)"""
        )
    return parts


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-prune, after
    Abbas et al. 2023, arXiv:2303.09540): vectors are clustered by the
    Lloyd-trained codebook, and within each cluster a vector is DROPPED
    when a lower-id cluster neighbor has exact cosine >= ``threshold``
    (one-shot dominance, not iterated — deterministic, and matches the
    paper's keep-one-representative intent with the id as the
    tie-stable keep rule). Output: one row per dropped vector
    ``(vec_id, keep_id, n_dupes)`` where keep_id is the smallest
    dominating id and n_dupes the count of dominating neighbors —
    discrete values only, so the DuckDB twin hash-matches without
    float-output parity concerns.

    Scale shape: the quadratic cosine comparison runs WITHIN clusters
    only — Σ nᵢ² vs n² for the naive all-pairs, the SemDeDup contract
    (n_centroids grows with the corpus to bound nᵢ). One corpus pass
    fuses the Lloyd assignment with the raw-vector payload (r14, guide
    §4.2/§2.4 — the former shape eagerly checkpointed an
    assignment-join table and exploded a per-pair interpreted-HOF
    cosine self-join on it); ONE exchange groups each cluster, and a
    grouped Arrow pass computes the within-cluster dominance in
    vectorized numpy with the strict left-to-right accumulation
    (:func:`_seq_dots` order — bit-identical to the
    ``aggregate(zip_with)`` cosine it replaces, see the parity block
    above :func:`_round_half_up`). A pathologically hot cluster is the
    operator's documented skew risk (raise n_centroids — the grouped
    pass row-chunks its similarity slabs, so memory is bounded, but a
    single cid is still one task)."""
    # the trained codebook is a local relation (r14) — no materialize
    cents = kmeans_codebook(embeddings, n_centroids, n_iters)
    src = _with_lattice(_with_norm(embeddings))  # numpy consumer: no _spread
    assigned = _kmeans_assign(src, cents, "v array<double>, norm double")
    return assigned.groupBy("cid").applyInArrow(
        _dominance_fn(threshold), "vec_id long, keep_id long, n_dupes long"
    )


def semantic_dedup_sql(
    table: str = "embeddings",
    threshold: float = 0.45,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` over the shared
    bit-exact codebook CTEs."""
    parts = _kmeans_cte_parts(table, n_centroids, n_iters, dim)
    parts.append(
        f"""scored AS (
  SELECT eq.vec_id, c.cid,
         row_number() OVER (
             PARTITION BY eq.vec_id
             ORDER BY list_cosine_similarity(eq.q, c.cv) DESC, c.cid
         ) AS rn
  FROM e_q eq CROSS JOIN cent{n_iters} c
),
assigned AS (SELECT vec_id, cid FROM scored WHERE rn = 1),
pairs AS (
  SELECT b.vec_id AS vec_id, a.vec_id AS keep
  FROM assigned a JOIN assigned b USING (cid)
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE a.vec_id < b.vec_id
    AND list_cosine_similarity(ea.v, eb.v) >= {threshold}
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT vec_id, CAST(min(keep) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dupes
FROM pairs GROUP BY vec_id
"""


def ivf_kmeans_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    num_queries: int = 32,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin with the Lloyd iterations UNROLLED as generated
    CTEs (cent0 → cent1 → …): same md5 seeding, same integral-double
    quantization, same cosine argmax assignment, same exact integer
    mean updates — the codebook reproduces bit-for-bit, so the final
    candidate lists and ranks match the Spark plan."""
    parts = _kmeans_cte_parts(table, n_centroids, n_iters, dim)
    parts.append(
        f"""scored AS (
  SELECT eq.vec_id, c.cid,
         row_number() OVER (
             PARTITION BY eq.vec_id
             ORDER BY list_cosine_similarity(eq.q, c.cv) DESC, c.cid
         ) AS rn
  FROM e_q eq CROSS JOIN cent{n_iters} c
),
assigned AS (SELECT vec_id, cid FROM scored WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM scored
  WHERE vec_id < {num_queries} AND rn <= {n_probe}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.query_id
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
             PARTITION BY query_id
             ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, neighbor_id
         ) AS rank
  FROM cand
  JOIN e eq ON eq.vec_id = query_id
  JOIN e ec ON ec.vec_id = neighbor_id
) WHERE rank <= {k}
"""


_BUCKET_EXPR_CACHE: list[str] = []


def _bucket_col() -> Column:
    """NUM_PLANES-bit LSH bucket from hyperplane dot-product signs.

    ONE parsed SQL expression (r14): the former Python loop built 16
    ``F.when`` chains with HOF-lambda dots — ~150 py4j roundtrips per
    plan construction, ~0.9 s of the gate's per-run build time
    (tools/build_ledger.py; rebuilt on every bench run and inside
    every scorecard run). The SQL resolves to the identical expression
    tree: same left-to-right aggregate(zip_with) dot, same CASE/cast
    shape, same left-fold long sum; plane doubles are embedded as
    ``CAST('<repr>' AS DOUBLE)`` (shortest round-trip form, correctly
    rounded parse → bit-identical literals)."""
    if not _BUCKET_EXPR_CACHE:
        terms = []
        for p in range(NUM_PLANES):
            arr = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in PLANES[p])
            dot = (
                f"aggregate(zip_with(v, array({arr}), (x, y) -> x * y),"
                f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            terms.append(
                f"CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END"
            )
        _BUCKET_EXPR_CACHE.append(" + ".join(terms))
    return F.expr(_BUCKET_EXPR_CACHE[0])


def _bucket_sql() -> str:
    terms = []
    for p in range(NUM_PLANES):
        plane = "[" + ", ".join(repr(w) for w in PLANES[p]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {plane}) > 0"
            f" THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


def lsh_topk(
    embeddings: DataFrame, k: int = 5, num_queries: int = 32
) -> DataFrame:
    """Approximate cosine top-k: candidates must share one of the
    ``LSH_BANDS`` bucket bands with the query; exact cosine ranks the
    candidates. Output: (query_id, neighbor_id, rank).

    One :func:`_topk_scan` corpus pass: plane-sign buckets, band
    matching against the closure-carried query bands (an OR over bands
    — the same pair-dedup the former explode+join+dropDuplicates
    bought with an exchange), and exact cosine for the band-matched
    candidates only, emitted as partition-local top-k partials that
    :func:`_rank_topk` merges on the driver. Bit-parity: plane dots
    accumulate left-to-right against the identical PLANES literals, the
    ``> 0`` sign predicate is unchanged, and candidate sims are
    :func:`_cosine`."""

    def build(q: _Queries):
        return _rank_topk(_topk_scan(_corpus(embeddings), q, k, _lsh_scorer(q)), k)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def lsh_topk_sql(table: str = "embeddings", k: int = 5, num_queries: int = 32) -> str:
    band_keys = ", ".join(
        f"concat_ws('-', {i}, (bucket >> {i * BAND_BITS}) & {(1 << BAND_BITS) - 1})"
        for i in range(LSH_BANDS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, v, {_bucket_sql()} AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})
), banded AS (
  SELECT vec_id, v, unnest([{band_keys}]) AS bk FROM e
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q JOIN banded c USING (bk)
  WHERE q.vec_id < {num_queries} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
             PARTITION BY query_id
             ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, neighbor_id
         ) AS rank
  FROM cand
  JOIN e eq ON eq.vec_id = query_id
  JOIN e ec ON ec.vec_id = neighbor_id
) WHERE rank <= {k}
"""


# -- int8 embedding quantization ---------------------------------------------


def quantize_embeddings_stats(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with
    per-vector verification stats — the compression step an ANN
    serving layer runs before indexing (4x smaller vectors, dot
    products stay int8-SIMD-able). Pure Catalyst higher-order
    functions; zero shuffle, one map stage.

    Output per vector: ``scale`` (max |component|, the dequant
    factor), ``q_l1`` and position-weighted ``q_checksum`` over the
    int8 codes (integer-exact), and ``max_abs_err`` (the worst
    per-component reconstruction error). Every emitted number is
    either integer arithmetic or a comparison-selected single IEEE
    expression, so the DuckDB twin reproduces all of them bit-for-bit
    — no float summation anywhere (a sum of reconstruction errors
    would depend on accumulation order; the max does not)."""
    v = F.col("embedding").cast("array<double>")
    base = embeddings.select("vec_id", v.alias("v")).withColumn(
        "s", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    )
    q = F.when(
        F.col("s") > 0,
        F.transform(F.col("v"), lambda x: F.round(x / F.col("s") * 127, 0).cast("int")),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0)))
    qd = base.withColumn("q", q)
    idx = F.sequence(F.lit(1), F.size("q"))
    recon_err = F.zip_with(
        F.col("v"),
        F.col("q"),
        lambda x, y: F.abs(x - y * F.col("s") / 127.0),
    )
    return qd.select(
        "vec_id",
        F.round("s", 6).alias("scale"),
        F.aggregate(
            F.transform(F.col("q"), lambda x: F.abs(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_l1"),
        F.aggregate(
            F.zip_with(F.col("q"), idx, lambda x, i: x.cast("long") * i),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_checksum"),
        F.round(F.array_max(recon_err), 6).alias("max_abs_err"),
    )


def quantize_embeddings_stats_sql(table: str = "embeddings") -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}
), sc AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM e
), qv AS (
  SELECT vec_id, v, s,
         CASE WHEN s > 0
              THEN list_transform(v, x -> CAST(round(x / s * 127) AS INTEGER))
              ELSE list_transform(v, x -> 0) END AS q
  FROM sc
)
SELECT vec_id,
       round(s, 6) AS scale,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       CAST(list_sum(list_transform(range(1, len(q) + 1),
                                    i -> q[CAST(i AS INTEGER)] * i)) AS BIGINT)
           AS q_checksum,
       round(list_max(list_transform(range(1, len(q) + 1),
                                     i -> abs(v[CAST(i AS INTEGER)]
                                              - q[CAST(i AS INTEGER)] * s / 127))),
             6) AS max_abs_err
FROM qv
"""


# -- single-pass Gram matrix (PCA / whitening input) --------------------------


def gram_matrix(embeddings: DataFrame, scale: int = 1024) -> DataFrame:
    """Distributed Gram matrix ``G = sum_r x_r x_r^T`` over the
    embedding column — the one corpus-wide statistic PCA, whitening,
    and OPQ rotation training need before any of them can run. For
    d-dimensional vectors the result is d(d+1)/2 numbers, so the
    right 100 TB plan is a single scan with map-side partial
    aggregation into at most d**2/2 cells per partition and one tiny
    final shuffle — never a driver collect, never a Python stage.

    Components are fixed-point quantized (``round(x*scale)`` as
    int64) so the aggregate is INTEGER-exact: the float sum order
    Spark and DuckDB would each pick is irrelevant, and the gate can
    hash-compare. With |x| <= ~1 and the default scale, each product
    is < 2^22, leaving ~2^41 rows of headroom in int64 per cell —
    raise to DECIMAL(38,0) sums beyond that corpus size.

    Output: one row per upper-triangle cell ``(i, j, g)`` with
    1-based indices, ``i <= j``.
    """
    q = embeddings.select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * scale, 0).cast("long"),
        ).alias("q")
    )
    left = q.select(F.posexplode("q").alias("i0", "qi"), "q")
    cells = left.select(
        "i0", "qi", F.posexplode("q").alias("j0", "qj")
    ).where(F.col("j0") >= F.col("i0"))
    return (
        cells.groupBy("i0", "j0")
        .agg(F.sum(F.col("qi") * F.col("qj")).alias("g"))
        .select(
            (F.col("i0") + 1).cast("long").alias("i"),
            (F.col("j0") + 1).cast("long").alias("j"),
            F.col("g").cast("long").alias("g"),
        )
    )


def gram_matrix_sql(table: str = "embeddings", scale: int = 1024) -> str:
    """DuckDB twin of :func:`gram_matrix` (lateral generate_series
    double-unnest instead of posexplode; same quantization)."""
    return f"""
WITH q AS (
  SELECT list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {scale}) AS BIGINT)) AS q
  FROM {table}
), cells AS (
  SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         q[CAST(i AS INTEGER)] * q[CAST(j AS INTEGER)] AS prod
  FROM q,
       unnest(generate_series(1, len(q))) u(i),
       unnest(generate_series(1, len(q))) v(j)
  WHERE j >= i
)
SELECT i, j, CAST(sum(prod) AS BIGINT) AS g
FROM cells GROUP BY i, j
"""


# -- product quantization (IVF-PQ's compression half) -------------------------

PQ_SUBS = 8  #: subspaces (EMBED_DIM must divide evenly)
PQ_K = 16  #: centroids per subspace codebook


def _sub_quantized(embeddings: DataFrame, n_subs: int) -> DataFrame:
    """(vec_id, sub, sq): quantized integral subvectors — vector split
    into ``n_subs`` contiguous blocks. One map stage, no shuffle."""
    subdim = EMBED_DIM // n_subs
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(KMEANS_QUANT), 0),
    )
    pieces = F.expr(
        f"transform(sequence(0, {n_subs - 1}),"
        f" s -> struct(s AS sub, slice(__q, s * {subdim} + 1, {subdim}) AS sq))"
    )
    return (
        embeddings.select("vec_id", q.alias("__q"))
        .select("vec_id", F.explode(pieces).alias("p"))
        .select("vec_id", "p.sub", "p.sq")
    )


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance — integral-exact on integral inputs (every
    addend and partial sum is an integer far below 2^53, so the value
    is identical under ANY accumulation order / engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# r14 vectorized Lloyd substrate (guide §4.2). The r13 map-only argmin
# rewrites evaluated nested higher-order functions (transform → struct →
# aggregate(zip_with)) per row — interpreted per ELEMENT, never codegen'd —
# which doubled ann_ivfpq_topk's summed executor task time (24 s → 51 s at
# sf0.1, tools/profile_gate.py) and, worse for the bench, made the driver
# spend seconds ANALYZING the giant expression trees between jobs (build
# ledger: ann_ivf_kmeans frame construction 1.9 s → 2.9 s r12→r13). The
# fix is the canonical distributed-Lloyd shape (what Spark MLlib's KMeans
# does): per iteration, ONE corpus pass computes per-partition partial
# sums in vectorized numpy (mapInArrow), a k-bounded combine yields the
# next centroids as plain driver data, and the trained codebook becomes a
# LOCAL RELATION — downstream broadcasts of it cost no job and no analysis.
#
# Bit-parity argument (what lets the DuckDB twins keep hash-matching):
# - integer-lattice paths (_pq_train: quantized subvectors, residuals):
#   every product/sum is an integral double < 2^53, so numpy's blocked/
#   SIMD summation order CANNOT change the value; argmin first-occurrence
#   over cid-ascending centroid rows == min(struct(d2, cid)).
# - cosine paths (kmeans_codebook, _kmeans_assign): centroid means after
#   round 1 are NON-integral, so dot products are accumulated with the
#   helper below — strictly left-to-right across dimensions, the exact
#   order of F.aggregate(zip_with(...)) and DuckDB's list_cosine kernel —
#   one IEEE multiply + divide for the norm step; argmax first-occurrence
#   over cid-ascending rows == max(struct(csim, -cid, cid)).
# - centroid updates: sums are exact integers; the mean is the identical
#   single IEEE division; _pq_train's lattice rounding uses
#   decimal.Decimal(float) (exact binary expansion) with ROUND_HALF_UP —
#   Java BigDecimal HALF_UP semantics, divergence-free in the quantized
#   value range (halves are exactly representable far beyond it).
# ---------------------------------------------------------------------------


def _round_half_up(x: float) -> float:
    """Spark/DuckDB ``round(x)`` for doubles: HALF_UP (away from zero)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _batch_mat(batch, name: str, dim: int, dtype: str = "float64"):
    """(n × dim) ``dtype`` matrix from a fixed-width list column of an
    Arrow record batch (offsets honored via flatten)."""
    import numpy as np

    col = batch.column(batch.schema.get_field_index(name))
    n = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.asarray(flat, dtype=dtype).reshape(n, dim)


def _batch_np(batch, name: str):
    import numpy as np

    col = batch.column(batch.schema.get_field_index(name))
    return np.asarray(col.to_numpy(zero_copy_only=False))


def _seq_dots(a, b):
    """(len(a) × len(b)) matrix of row dots ``a[i]·b[j]``, each
    accumulated STRICTLY left-to-right across dimensions — bit-identical
    to ``aggregate(zip_with(a, b, x*y), 0.0, acc+x)`` (and DuckDB's
    sequential list kernel) even for non-integral values, where blocked
    BLAS summation could differ in the last bit and flip a rank."""
    import numpy as np

    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for d in range(a.shape[1]):
        acc += np.multiply.outer(a[:, d], b[:, d])
    return acc


def _pack_cents(by_sub: dict) -> dict:
    """{sub: (cids ascending, k × subdim matrix)} — ascending cid makes
    numpy's first-occurrence argmin/argmax the struct tiebreak."""
    import numpy as np

    return {
        s: (
            [cid for cid, _ in sorted(rows, key=lambda t: t[0])],
            np.array(
                [cv for _, cv in sorted(rows, key=lambda t: t[0])],
                dtype=np.float64,
            ),
        )
        for s, rows in by_sub.items()
    }


def _lloyd_partials_fn(cents: dict, subdim: int):
    """mapInArrow body: per batch, integral-exact d2 argmin against the
    captured centroids and per-(sub, cid) member counts + element sums.
    Output rows are k-bounded per batch: (sub, cid, n, s)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            subs = _batch_np(batch, "sub")
            vecs = _batch_mat(batch, "sq", subdim)
            out_sub, out_cid, out_n, out_s = [], [], [], []
            for s in np.unique(subs):
                key = int(s)
                if key not in cents:
                    continue
                cids, c_mat = cents[key]
                m = vecs[subs == s]
                if not m.shape[0]:
                    continue
                d = np.empty((m.shape[0], len(cids)), dtype=np.float64)
                for j in range(len(cids)):
                    diff = m - c_mat[j]
                    # integral squared-L2: exact under any order
                    d[:, j] = (diff * diff).sum(axis=1)
                amin = d.argmin(axis=1)
                for j, cid in enumerate(cids):
                    mem = m[amin == j]
                    if not mem.shape[0]:
                        continue
                    out_sub.append(key)
                    out_cid.append(int(cid))
                    out_n.append(int(mem.shape[0]))
                    out_s.append([float(x) for x in mem.sum(axis=0)])
            yield pa.record_batch(
                [
                    pa.array(out_sub, pa.int32()),
                    pa.array(out_cid, pa.int64()),
                    pa.array(out_n, pa.int64()),
                    pa.array(out_s, pa.list_(pa.float64())),
                ],
                names=["sub", "cid", "n", "s"],
            )

    return fn


def _elem_sums(subdim: int) -> Column:
    """ONE parsed expression for the element-wise sums of an
    ``s array<double>`` column — a single py4j roundtrip regardless of
    ``subdim`` (the per-element F.sum loop paid O(dim) roundtrips)."""
    body = ",".join(f"sum(s[{i}])" for i in range(subdim))
    return F.expr(f"array({body})")


def _cos_csim(vecs, qnorm, c_mat, cnorms):
    """(n × k) cosine matrix with exact Spark/DuckDB bit-parity:
    sequential-across-dims dots (:func:`_seq_dots`), one IEEE multiply
    for the norm product, one IEEE divide."""
    import numpy as np

    return _seq_dots(vecs, c_mat) / np.multiply.outer(qnorm, cnorms)


def _seq_norms(mat):
    """Per-row ``sqrt(dot(v, v))`` with the strict left-to-right
    accumulation of ``_with_norm``'s ``sqrt(aggregate(zip_with(v, v,
    x*y), 0.0, acc+x))`` (np.sqrt is the correctly-rounded IEEE
    sqrt)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def _py_seq_dot(a, b) -> float:
    """Driver-side scalar :func:`_seq_dots`: strict left-to-right
    accumulation across dimensions."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_norm(v) -> float:
    """Driver-side :func:`_seq_norms` for one vector."""
    import math

    return math.sqrt(_py_seq_dot(v, v))


class _Queries(NamedTuple):
    """The ANN query rows as driver data, ascending by vec_id, each
    with its :func:`_py_norm`."""

    ids: list[int]
    vecs: list[list[float]]
    norms: list[float]


def _with_queries(embeddings: DataFrame, num_queries: int, out_ddl: str, build):
    """The ANN family's driver step: collect the query rows (vec_id <
    ``num_queries``), call ``build(q)`` for their :class:`_Queries`, and
    return its Arrow table's ``out_ddl`` columns as a LocalRelation
    (collecting the result launches no job). The query set is ≤32 rows
    by construction — collecting it lets the scan carry the queries in
    its task closure. No query rows (e.g. ``num_queries=0``) gives an
    empty ``out_ddl`` frame, built on the driver without touching the
    corpus."""
    spark = embeddings.sparkSession
    rows = _corpus(embeddings).where(F.col("vec_id") < num_queries).collect()
    if not rows:
        return values_df(spark, [], out_ddl)
    pairs = sorted((int(r.vec_id), [float(x) for x in r.v]) for r in rows)
    vecs = [v for _, v in pairs]
    top = build(_Queries([i for i, _ in pairs], vecs, [_py_norm(v) for v in vecs]))
    return values_df(spark, top.select(_ddl_names(out_ddl)), out_ddl)


def _ddl_names(ddl: str) -> list[str]:
    return [part.split()[0] for part in ddl.split(",")]


def _topk_sel(ids, sims, k: int, largest: bool):
    """Positions of the per-partition top-``k`` by (sim, id asc) —
    ``largest`` picks sim DESC (the cosine/dot rankings), else ASC
    (distances). np.lexsort's last key is primary; equal sims
    (including ±0.0, which compare equal) fall to the id key — exactly
    the :func:`_rank_topk` merge ordering these partials feed."""
    import numpy as np

    key = -sims if largest else sims
    return np.lexsort((ids, key))[:k]


def _nan_to_floor(a):
    """``a`` with NaN — the 0/0 cosine of a zero-norm side — replaced by
    -1.0, the value DuckDB's ``list_cosine_similarity`` gives it."""
    import numpy as np

    return np.where(np.isnan(a), -1.0, a) if a.dtype.kind == "f" else a


#: A scorer's ``pos`` when every row of the batch is a candidate, and
#: its ``levels`` when there is one subset: all the candidates.
_EVERY_ROW = slice(None)
_ONE_LEVEL = (True,)


def _no_extra(sel) -> tuple:
    return ()


def _topk_scan(
    corpus: DataFrame, q: _Queries, k: int, score, cols: str = "sim double", largest: bool = True
):
    """The ANN family's scatter-gather scan: ONE vectorized corpus pass
    (``mapInArrow``) emitting, per batch and query, the top-``k`` rows
    (query_id, neighbor_id, *cols), collected to the driver as one
    Arrow table (one job, no shuffle). Any global top-k row is in its
    partition's top-k, so the driver-side :func:`_rank_topk` merge
    ranks ≤ partitions × queries × k rows (``spark.driver.maxResultSize``
    caps them); the corpus is never joined or shuffled (REPOSE's
    prune-locally-then-merge shape).

    ``score(batch)`` is the operator's scorer. For each query, in
    ``q.ids`` order, it yields ``(pos, scores, levels, extra)``:
    ``pos``, the candidate rows of the batch (``_EVERY_ROW`` for all);
    ``scores``, their values of the first of ``cols``; ``levels``,
    nested candidate subsets as boolean masks over ``pos`` — the top-k
    of each is kept and their union emitted (``_ONE_LEVEL`` is the
    plain top-k); and ``extra(sel)``, the other ``cols`` for the
    selected positions ``sel`` into ``pos``, computed for those only.

    The kernel owns the rest: the vec_id decode, dropping the query's
    own row, mapping NaN to -1.0 in every float column before selecting
    and emitting (:func:`_nan_to_floor`, so a zero vector ranks as in
    the DuckDB twins whatever the partitioning), the (score, id)
    selection (:func:`_topk_sel`, score DESC when ``largest``) and the
    record batch."""
    qids = q.ids
    names = ["query_id", "neighbor_id", *_ddl_names(cols)]

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = _batch_np(batch, "vec_id")
            out = []
            for qid, (pos, scores, levels, extra) in zip(qids, score(batch)):
                nbr = ids[pos]
                scores = _nan_to_floor(scores)
                own = nbr != qid
                picked = []
                for lv in levels:
                    cand = np.nonzero(lv & own)[0]
                    picked.append(cand[_topk_sel(nbr[cand], scores[cand], k, largest)])
                sel = np.unique(np.concatenate(picked))
                out.append(
                    [np.full(len(sel), qid, dtype=np.int64), nbr[sel], scores[sel]]
                    + [_nan_to_floor(x) for x in extra(sel)]
                )
            yield pa.record_batch(
                [pa.array(np.concatenate(c)) for c in zip(*out)], names=names
            )

    return corpus.mapInArrow(fn, f"query_id long, neighbor_id long, {cols}").toArrow()


def _rank_topk(partials, k: int, score: str = "sim", largest: bool = True, rank: str = "rank"):
    """The top ``k`` rows per query_id of the Arrow table ``partials``
    by (``score`` DESC — ASC unless ``largest`` — then neighbor_id
    ASC), numbered from 1 in a new int column ``rank``: the driver-side
    merge of :func:`_topk_scan` partials, in the order of its selection
    and of the DuckDB twins' ``row_number`` windows (±0.0 compare equal;
    the scan already mapped NaN to -1.0). Rows come out by (query_id,
    rank)."""
    import numpy as np
    import pyarrow as pa

    qid = partials["query_id"].to_numpy()
    key = partials[score].to_numpy()
    order = np.lexsort((partials["neighbor_id"].to_numpy(), -key if largest else key, qid))
    qid = qid[order]
    rn = np.arange(1, len(qid) + 1) - np.searchsorted(qid, qid)
    keep = rn <= k
    return partials.take(order[keep]).append_column(rank, pa.array(rn[keep].astype(np.int32)))


def _cosine(vecs, norms, qv, qnorm: float):
    """Cosines of the rows ``vecs`` (norms ``norms``) to one query: the
    strict left-to-right :func:`_seq_dots`, one IEEE norm multiply, one
    IEEE divide — the ``aggregate(zip_with)`` value, and one column of
    :func:`_cos_csim`."""
    return _seq_dots(vecs, qv[None, :])[:, 0] / (norms * qnorm)


def _popcount32(a):
    """Set bits of each int64 in ``a`` (all in [0, 2^32)), by SWAR bit
    counting — exact integer arithmetic."""
    a = a - ((a >> 1) & 0x55555555)
    a = (a & 0x33333333) + ((a >> 2) & 0x33333333)
    a = (a + (a >> 4)) & 0x0F0F0F0F
    return ((a * 0x01010101) & 0xFFFFFFFF) >> 24


def _brute_scorer(q: _Queries):
    """Every row, scored by exact cosine: one :func:`_seq_norms` per
    batch (the bit-exact ``_with_norm`` order) and one queries × rows
    :func:`_seq_dots` matrix per batch — each row of it the
    :func:`_cosine` values, bit for bit."""
    import numpy as np

    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = np.asarray(q.norms, dtype=np.float64)

    def score(batch):
        vecs = _batch_mat(batch, "v", qm.shape[1])
        sims = _seq_dots(qm, vecs) / np.multiply.outer(qn, _seq_norms(vecs))
        for row in sims:
            yield _EVERY_ROW, row, _ONE_LEVEL, _no_extra

    return score


def _ivf_scorer(cents: list, q: _Queries, probe_lists: list, levels, quantized: bool = False):
    """Rows whose cell is one of the query's probed cells at the
    deepest of ``levels``, scored by exact cosine, with one subset per
    level (probe_rn ≤ p) and the extra ``probe_rn`` column. A row's
    cell is its max-cosine centroid of the cid-ascending ``cents``
    (argmax first occurrence == the former ``array_min(struct(negsim,
    cid))``), taken on the batch's (q, qnorm) lattice columns when
    ``quantized`` — the trained codebook's geometry — else on v. A
    vector lives in one cell, so a (query, neighbor) pair is emitted at
    most once per batch."""
    import numpy as np

    c_mat = np.asarray([cv for _, cv, _ in cents], dtype=np.float64)
    cnorms = [cn for _, _, cn in cents]
    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = q.norms
    max_p = max(levels)
    # centroid index → probe_rn per query (0 = not probed)
    rnmaps = np.zeros((len(qm), len(cents)), dtype=np.int32)
    for j, plist in enumerate(probe_lists):
        for idx, rn in plist:
            rnmaps[j, idx] = rn

    def score(batch):
        vecs = _batch_mat(batch, "v", qm.shape[1])
        norms = _seq_norms(vecs)
        if quantized:
            cell_vecs = _batch_mat(batch, "q", qm.shape[1])
            cells = _cos_csim(cell_vecs, _batch_np(batch, "qnorm"), c_mat, cnorms)
        else:
            cells = _cos_csim(vecs, norms, c_mat, cnorms)
        amax = cells.argmax(axis=1)
        for qv, qnorm, rnmap in zip(qm, qn, rnmaps):
            prn = rnmap[amax]
            pos = np.nonzero((prn >= 1) & (prn <= max_p))[0]
            prn = prn[pos]
            yield (
                pos,
                _cosine(vecs[pos], norms[pos], qv, qnorm),
                [prn <= p for p in levels],
                lambda sel, prn=prn: (prn[sel],),
            )

    return score


def _jl_scorer(q: _Queries, out_dim: int):
    """Every row, scored by its EXACT int64 dot product with the query
    in the ``out_dim``-axis JL projection of the integral lattice (any
    summation order is exact). The queries' projections use the
    identical HALF_UP lattice rounding (:func:`_round_half_up`)."""
    import numpy as np

    signs = np.asarray(_jl_matrix(out_dim, EMBED_DIM), dtype=np.int64)
    qq = np.asarray(
        [[int(_round_half_up(x * KMEANS_QUANT)) for x in v] for v in q.vecs],
        dtype=np.int64,
    )
    qproj = qq @ signs.T  # (num_queries × out_dim), exact int64

    def score(batch):
        lattice = _batch_mat(batch, "q", signs.shape[1], "int64")
        sims = (lattice @ signs.T) @ qproj.T  # (n × num_queries), exact
        for j in range(len(qproj)):
            yield _EVERY_ROW, sims[:, j], _ONE_LEVEL, _no_extra

    return score


def _lsh_scorer(q: _Queries):
    """Rows sharing ANY band value with the query — an OR over bands,
    so a pair sharing both counts once — scored by exact cosine. Plane
    dots accumulate left-to-right against the PLANES literals under
    :func:`_bucket_col`'s ``> 0`` predicate."""
    import numpy as np

    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = q.norms
    qb = np.asarray([_py_bands(v) for v in q.vecs], dtype=np.int64)
    planes = np.asarray(PLANES, dtype=np.float64)
    mask_bits = (1 << BAND_BITS) - 1

    def score(batch):
        vecs = _batch_mat(batch, "v", qm.shape[1])
        signs = (_seq_dots(vecs, planes) > 0.0).astype(np.int64)
        bucket = (signs << np.arange(NUM_PLANES, dtype=np.int64)).sum(axis=1)
        bands = np.stack(
            [(bucket >> (i * BAND_BITS)) & mask_bits for i in range(LSH_BANDS)],
            axis=1,
        )  # (n × LSH_BANDS)
        norms = _seq_norms(vecs)
        for qv, qnorm, qband in zip(qm, qn, qb):
            pos = np.nonzero((bands == qband).any(axis=1))[0]
            yield pos, _cosine(vecs[pos], norms[pos], qv, qnorm), _ONE_LEVEL, _no_extra

    return score


def _hamming_scorer(q: _Queries):
    """Every row, scored by the Hamming distance between its two
    32-bit sign words and the query's (bit i of word w ⇔ v[w*32+i] > 0,
    missing trailing dims read as 0, like :func:`_sign_words`); the
    extra ``sim`` column is the exact cosine of the selected rows only,
    for the rerank."""
    import numpy as np

    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = q.norms
    qw = np.asarray([_py_sign_words(v) for v in q.vecs], dtype=np.int64)
    pows = np.int64(1) << np.arange(32, dtype=np.int64)

    def score(batch):
        vecs = _batch_mat(batch, "v", qm.shape[1])
        bits = vecs > 0.0
        b0 = bits[:, :32]
        b1 = bits[:, 32:64]
        w0 = (b0 * pows[: b0.shape[1]]).sum(axis=1).astype(np.int64)
        w1 = (b1 * pows[: b1.shape[1]]).sum(axis=1).astype(np.int64)
        norms = _seq_norms(vecs)
        for qv, qnorm, (q0, q1) in zip(qm, qn, qw):
            yield (
                _EVERY_ROW,
                _popcount32(w0 ^ q0) + _popcount32(w1 ^ q1),
                _ONE_LEVEL,
                lambda sel, qv=qv, qnorm=qnorm: (
                    _cosine(vecs[sel], norms[sel], qv, qnorm),
                ),
            )

    return score


def _cos_partials_fn(cids: list, c_mat):
    """mapInArrow body for a kmeans_codebook round: max-cosine argmax
    (first occurrence over cid-ascending rows == max(struct(csim,
    -cid, cid))) + per-cid member counts and exact integral element
    sums."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        cmat = np.asarray(c_mat, dtype=np.float64)
        cnorms = _seq_norms(cmat)
        for batch in batches:
            vecs = _batch_mat(batch, "q", cmat.shape[1])
            qnorm = _batch_np(batch, "qnorm")
            if not vecs.shape[0]:
                continue
            amax = _cos_csim(vecs, qnorm, cmat, cnorms).argmax(axis=1)
            out_cid, out_n, out_s = [], [], []
            for j, cid in enumerate(cids):
                mem = vecs[amax == j]
                if not mem.shape[0]:
                    continue
                out_cid.append(int(cid))
                out_n.append(int(mem.shape[0]))
                out_s.append([float(x) for x in mem.sum(axis=0)])
            yield pa.record_batch(
                [
                    pa.array(out_cid, pa.int64()),
                    pa.array(out_n, pa.int64()),
                    pa.array(out_s, pa.list_(pa.float64())),
                ],
                names=["cid", "n", "s"],
            )

    return fn


def _py_bands(v) -> list[int]:
    """Driver-side LSH band values for one vector: the
    :func:`_bucket_col` plane-sign bucket (strict left-to-right dots
    against the PLANES literals, ``> 0`` predicate), split into
    ``LSH_BANDS`` groups of ``BAND_BITS`` bits."""
    bucket = 0
    for p in range(NUM_PLANES):
        if _py_seq_dot(v, PLANES[p]) > 0.0:
            bucket |= 1 << p
    return [
        (bucket >> (i * BAND_BITS)) & ((1 << BAND_BITS) - 1)
        for i in range(LSH_BANDS)
    ]


def _py_sign_words(v) -> tuple[int, int]:
    """Driver-side :func:`_sign_words`: bit ``i`` of word ``w`` set
    iff ``v[w*32 + i] > 0`` (missing trailing dims read as 0)."""
    words = []
    for w in range(2):
        acc = 0
        for i in range(32):
            d = w * 32 + i
            if d < len(v) and float(v[d]) > 0.0:
                acc |= 1 << i
        words.append(acc)
    return words[0], words[1]


def _cos_assign_payload_fn(cents: list, payload: tuple):
    """mapInArrow body: (vec_id, q, qnorm, *payload) → (vec_id, cid,
    *payload) — max-cosine assignment to the cid-ascending ``cents``
    [(cid, cv, cnorm)], with the payload columns passed through
    untouched (zero-copy Arrow columns), so one corpus pass feeds a
    downstream per-cluster consumer without a join back to the
    embeddings."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        cmat = np.asarray([cv for _, cv, _ in cents], dtype=np.float64)
        cnorms = [cn for _, _, cn in cents]
        cid_arr = np.asarray([c for c, _, _ in cents], dtype=np.int64)
        for batch in batches:
            if not batch.num_rows:
                continue
            vecs = _batch_mat(batch, "q", cmat.shape[1])
            qnorm = _batch_np(batch, "qnorm")
            amax = _cos_csim(vecs, qnorm, cmat, cnorms).argmax(axis=1)
            yield pa.record_batch(
                [
                    batch.column(batch.schema.get_field_index("vec_id")),
                    pa.array(cid_arr[amax], pa.int64()),
                ]
                + [
                    batch.column(batch.schema.get_field_index(c))
                    for c in payload
                ],
                names=["vec_id", "cid", *payload],
            )

    return fn


def _dominance_fn(threshold: float):
    """applyInArrow body for one semantic-dedup cluster: (vec_id, cid,
    v, norm) rows → (vec_id, keep_id, n_dupes) for every vector
    dominated by a lower-id cluster neighbor with cosine ≥ threshold.

    Bit-parity with the JVM pair expression it replaces: the pairwise
    dot matrix is accumulated dimension-by-dimension (each element sees
    ``acc + a[d]*b[d]`` in ascending d — exactly the
    ``aggregate(zip_with)`` / :func:`_seq_dots` order), the norm product
    is the identical single IEEE multiply of the Spark-computed norm
    column values, and the divide is one IEEE op. Row-chunked so the
    similarity slab is bounded (~16M cells) however hot the cluster."""

    def fn(table):
        import numpy as np
        import pyarrow as pa

        ids = table.column("vec_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        norms = table.column("norm").to_numpy()[order]
        n = len(ids)
        flat = table.column("v").combine_chunks().flatten().to_numpy(
            zero_copy_only=False
        )
        mat = np.asarray(flat, dtype=np.float64).reshape(n, -1)[order]
        out_id, out_keep, out_n = [], [], []
        chunk = max(1, 16_000_000 // max(1, n))
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            acc = np.zeros((e - s, n), dtype=np.float64)
            for d in range(mat.shape[1]):
                acc = acc + np.multiply.outer(mat[s:e, d], mat[:, d])
            csim = acc / np.multiply.outer(norms[s:e], norms[:])
            hits = csim >= threshold
            # dominance only from strictly lower-id rows (ids ascending)
            hits &= np.arange(n)[None, :] < np.arange(s, e)[:, None]
            cnt = hits.sum(axis=1)
            for i in np.nonzero(cnt)[0]:
                out_id.append(int(ids[s + i]))
                out_keep.append(int(ids[np.argmax(hits[i])]))
                out_n.append(int(cnt[i]))
        return pa.table(
            {
                "vec_id": pa.array(out_id, pa.int64()),
                "keep_id": pa.array(out_keep, pa.int64()),
                "n_dupes": pa.array(out_n, pa.int64()),
            }
        )

    return fn


def pq_codebooks(
    embeddings: DataFrame,
    n_subs: int = PQ_SUBS,
    k: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Per-subspace Lloyd codebooks for product quantization (Jégou,
    Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011): (sub, cid, cv). INTEGER-LATTICE Lloyd — assignment is
    exact integral squared-L2 (:func:`_d2`), and the centroid update
    rounds the element-wise mean back onto the integer lattice — so
    every quantity in training, encoding, and ADC scoring is an
    integral double and the DuckDB twin reproduces codebooks, codes,
    and scores BIT-FOR-BIT with no float-summation-order caveats (a
    strictly stronger parity guarantee than the cosine codebook above).

    All ``n_subs`` codebooks train in ONE plan: centroids are keyed
    (sub, cid) and the corpus-side explode is n_subs narrow rows per
    vector, so each Lloyd round is one broadcast join + two map-side-
    combined aggregates regardless of n_subs. Seeds are the md5-min
    pick of whole vectors (one seed set, each contributing its
    subvector to every subspace book)."""
    # numpy consumers (r14): keep the scan's natural partitioning — a
    # small input fanned to 32 Python tasks pays ~0.3 s of per-task
    # worker round-trips per stage for zero compute benefit (measured
    # probe, OPTIMIZATION_r14.md); cluster-scale inputs arrive with
    # natural parallelism and are untouched by this choice
    base = materialize(_sub_quantized(embeddings, n_subs))
    return _pq_train(base, _seed_ids(embeddings, k), n_iters, EMBED_DIM // n_subs)


def _seed_ids(embeddings: DataFrame, k: int) -> DataFrame:
    """Deterministic md5-min seed pick over vec_ids (engine-portable)."""
    from .text_analysis import md5int

    return (
        embeddings.select("vec_id")
        .withColumn("h", md5int(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"))
    )


def _pq_train(
    base: DataFrame, seed_ids: DataFrame, n_iters: int, subdim: int
) -> DataFrame:
    """Integer-lattice Lloyd over an integral subvector frame
    ``(vec_id, sub, sq)``: returns (sub, cid, cv). Shared by the plain
    PQ books and the IVF-PQ residual books.

    Each refinement round is ONE vectorized corpus pass (r14, guide
    §4.2 — the canonical MLlib-style distributed Lloyd): a numpy
    ``mapInArrow`` computes the integral-exact d2 argmin and
    per-(sub, cid) partial sums per partition, one tiny
    map-side-combined aggregate reduces the partition × k × n_subs
    partials, and the k-bounded result is combined ON THE DRIVER into
    the next round's centroids (k × n_subs × subdim values — the same
    driver footprint MLlib's KMeans carries; documented coordination,
    like MMR's selected-vector literals). The corpus is never
    shuffled, and the trained codebook returns as a LOCAL RELATION, so
    downstream broadcasts of it cost no job and no plan analysis. This
    replaces the r13 broadcast-array ``array_min`` HOF form, whose
    per-element interpreted evaluation doubled executor task time and
    whose expression trees dominated driver analysis between jobs
    (profile_gate/build_ledger evidence in OPTIMIZATION_r14.md).

    Arithmetic is unchanged and order-free: integral-double sums are
    exact under any accumulation order (numpy's blocked summation
    included), the mean is the identical single IEEE division, and the
    lattice rounding is Decimal-exact HALF_UP — Spark ``round()``'s
    semantics (see the r14 substrate comment above :func:`_round_half_up`)."""
    spark = base.sparkSession
    seed_rows = (
        base.join(F.broadcast(seed_ids), base["vec_id"] == seed_ids["cid"])
        .select("sub", "cid", "sq")
        .collect()
    )
    by_sub: dict = {}
    for r in seed_rows:
        by_sub.setdefault(r.sub, []).append((r.cid, list(r.sq)))
    cents = _pack_cents(by_sub)
    corpus = base.select("sub", "sq")
    for _ in range(n_iters):
        combined = (
            corpus.mapInArrow(
                _lloyd_partials_fn(cents, subdim),
                "sub int, cid long, n long, s array<double>",
            )
            .groupBy("sub", "cid")
            .agg(F.sum("n").alias("n"), _elem_sums(subdim).alias("s"))
            .collect()
        )
        by_sub = {}
        for r in combined:
            # rounded mean: centroids stay ON the integer lattice, so
            # the next round's distances remain integral-exact. The
            # mean itself is one exact IEEE division; the rounding is
            # Decimal-exact HALF_UP == Spark/DuckDB round().
            cv = [_round_half_up(sv / r.n) for sv in r.s]
            by_sub.setdefault(r.sub, []).append((r.cid, cv))
        cents = _pack_cents(by_sub)
    rows = [
        (int(s), int(cid), [float(x) for x in c_mat[j]])
        for s, (cids, c_mat) in sorted(cents.items())
        for j, cid in enumerate(cids)
    ]
    return values_df(spark, rows, "sub int, cid long, cv array<double>")


def _collect_books(codebooks: DataFrame) -> dict:
    """{sub: (cids ascending, k × subdim matrix)} from a trained
    codebook frame. The trained books are local relations (or tiny
    persisted tables), so this is a driver-only (or one small-job)
    read of k × n_subs rows."""
    by_sub: dict = {}
    for r in codebooks.select("sub", "cid", "cv").collect():
        by_sub.setdefault(r.sub, []).append((r.cid, list(r.cv)))
    return _pack_cents(by_sub)


def _assign_codes_fn(books: dict, subdim: int, carry_ccid: bool):
    """mapInArrow body: vectorized integral-exact d2 argmin code
    assignment; first-occurrence argmin over cid-ascending rows ==
    ``min(struct(d2, cid))`` (ties to the smallest cid)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = _batch_np(batch, "vec_id")
            subs = _batch_np(batch, "sub")
            vecs = _batch_mat(batch, "sq", subdim)
            ccids = _batch_np(batch, "ccid") if carry_ccid else None
            code = np.zeros(len(ids), dtype=np.int64)
            for s in np.unique(subs):
                cids, c_mat = books[int(s)]
                m_idx = np.nonzero(subs == s)[0]
                m = vecs[m_idx]
                d = np.empty((m.shape[0], len(cids)), dtype=np.float64)
                for j in range(len(cids)):
                    diff = m - c_mat[j]
                    d[:, j] = (diff * diff).sum(axis=1)
                code[m_idx] = np.asarray(cids, dtype=np.int64)[d.argmin(axis=1)]
            cols = [
                pa.array(ids, pa.int64()),
                pa.array(subs.astype("int32"), pa.int32()),
                pa.array(code, pa.int64()),
            ]
            names = ["vec_id", "sub", "code"]
            if carry_ccid:
                cols.insert(1, pa.array(ccids, pa.int64()))
                names.insert(1, "ccid")
            yield pa.record_batch(cols, names=names)

    return fn


def pq_encode(
    embeddings: DataFrame, codebooks: DataFrame, n_subs: int = PQ_SUBS
) -> DataFrame:
    """(vec_id, sub, code): nearest-codeword assignment per subspace —
    the 8-byte-per-vector compressed representation (ties by smallest
    cid). One vectorized corpus pass (r14, guide §4.2): the k × n_subs
    codebook rides in the task closure and the argmin runs in numpy —
    no row expansion, no exchange, no per-element interpreted HOF."""
    subdim = EMBED_DIM // n_subs
    # natural partitioning into the numpy pass (see pq_codebooks)
    subs = _sub_quantized(embeddings, n_subs)
    return subs.select("vec_id", "sub", "sq").mapInArrow(
        _assign_codes_fn(_collect_books(codebooks), subdim, carry_ccid=False),
        "vec_id long, sub int, code long",
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    n_subs: int = PQ_SUBS,
    n_codewords: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus vectors are scored
    against a query through their 8-byte codes only — distance(query,
    neighbor) ≈ Σ_sub d2(query_sub, codeword(code_sub)). Output:
    (query_id, neighbor_id, rank), rank 1 = nearest by ADC, ties by
    neighbor_id; every score is an integral double, so ranks are exact
    and engine-portable.

    Scale shape: codebooks (n_subs × k rows) and the per-query lookup
    tables (num_queries × n_subs × k rows) broadcast; the corpus-side
    cost is the encode argmin plus one broadcast LUT join over the
    (vec, sub) code rows — the corpus is never shuffled by value, and
    the candidate scoring reads 8 longs per vector instead of 64
    doubles: the 8× scan-compression that makes billion-vector ANN fit
    in memory at 1000 executors."""
    # the trained codebook is a local relation (r14) — no materialize
    books = pq_codebooks(embeddings, n_subs, n_codewords, n_iters)
    codes = pq_encode(embeddings, books, n_subs)
    qsubs = _sub_quantized(
        embeddings.where(F.col("vec_id") < num_queries), n_subs
    ).select(F.col("vec_id").alias("query_id"), "sub", F.col("sq").alias("qsq"))
    lut = qsubs.join(F.broadcast(books), "sub").select(
        "query_id",
        "sub",
        F.col("cid").alias("code"),
        _d2(F.col("qsq"), F.col("cv")).alias("d2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    num_queries: int = 32,
    n_subs: int = PQ_SUBS,
    n_codewords: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin: identical seeds, integer-lattice Lloyd rounds,
    argmin codes and integral ADC sums — bit-exact end to end."""
    subdim = dim // n_subs
    h = md5int_sql("CAST(vec_id AS VARCHAR)")
    d2 = (
        f"list_sum(list_transform(range(1, {subdim + 1}),"
        f" i -> (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])"
        f" * (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])))"
    )
    parts = [
        f"""e_q AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> round(x * {KMEANS_QUANT})) AS q
  FROM {table}
),
subs AS (
  SELECT vec_id, s AS sub, q[(s * {subdim} + 1):((s + 1) * {subdim})] AS sq
  FROM e_q, range(0, {n_subs}) t(s)
),
seeds AS (
  SELECT vec_id AS cid FROM e_q ORDER BY {h}, vec_id LIMIT {n_codewords}
),
cent0 AS (
  SELECT sub, cid, sq AS cv FROM subs JOIN seeds ON subs.vec_id = seeds.cid
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"""asg{t} AS (
  SELECT vec_id, sub, sq, cid FROM (
    SELECT a.vec_id, a.sub, a.sq, c.cid,
           row_number() OVER (
               PARTITION BY a.vec_id, a.sub ORDER BY {d2} ASC, c.cid ASC
           ) AS rn
    FROM subs a JOIN cent{t - 1} c USING (sub)
  ) WHERE rn = 1
),
cent{t} AS (
  SELECT sub, cid, list(cd ORDER BY pos) AS cv FROM (
    SELECT sub, cid, pos, round(sum(val) / count(*)) AS cd FROM (
      SELECT sub, cid, unnest(sq) AS val, unnest(range(1, {subdim + 1})) AS pos
      FROM asg{t}
    ) GROUP BY sub, cid, pos
  ) GROUP BY sub, cid
)"""
        )
    parts.append(
        f"""codes AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT a.vec_id, a.sub, c.cid,
           row_number() OVER (
               PARTITION BY a.vec_id, a.sub ORDER BY {d2} ASC, c.cid ASC
           ) AS rn
    FROM subs a JOIN cent{n_iters} c USING (sub)
  ) WHERE rn = 1
),
lut AS (
  SELECT a.vec_id AS query_id, a.sub, c.cid AS code, {d2} AS d2
  FROM subs a JOIN cent{n_iters} c USING (sub)
  WHERE a.vec_id < {num_queries}
),
adc AS (
  SELECT l.query_id, codes.vec_id AS neighbor_id, sum(l.d2) AS adc
  FROM codes JOIN lut l USING (sub, code)
  WHERE codes.vec_id <> l.query_id
  GROUP BY 1, 2
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
             PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC
         ) AS rank
  FROM adc
) WHERE rank <= {k}
"""


# -- IVF-PQ: coarse inverted lists + residual product quantization -----------


def _slices(col: str, n_subs: int, out: str = "p") -> Column:
    """Explodable array of (sub, slice) structs over an integral
    vector column."""
    subdim = EMBED_DIM // n_subs
    return F.explode(
        F.expr(
            f"transform(sequence(0, {n_subs - 1}),"
            f" s -> struct(s AS sub, slice({col}, s * {subdim} + 1, {subdim}) AS sq))"
        )
    ).alias(out)


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    n_coarse: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
    n_subs: int = PQ_SUBS,
    n_codewords: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011): the full FAISS-style ANN
    architecture — a coarse L2 quantizer prunes the corpus to
    ``n_probe`` inverted lists per query, and a product quantizer over
    the RESIDUALS (x − coarse_centroid) scores candidates through
    8-byte codes. Both quantizers are the integer-lattice Lloyd
    (:func:`_pq_train`; the coarse stage is simply n_subs=1), and the
    residual of an integral vector minus an integral centroid is
    integral, so every trained centroid, code, and ADC score reproduces
    bit-for-bit in the DuckDB twin. Output: (query_id, neighbor_id,
    rank) among scanned candidates; ties by neighbor_id.

    Scale shape on top of :func:`pq_topk`: candidate scoring now only
    touches vectors in the query's probed cells (corpus/n_coarse ×
    n_probe expected), and the per-vector read is still 8 longs — the
    n_coarse/n_probe scan cut and the 8× compression COMPOSE. The
    residual codebook is shared across cells (standard IVFADC), so the
    broadcast stays n_subs × k rows."""
    # numpy consumers only (train / residual slicing / 32-row query
    # filter): natural partitioning, no _spread (see pq_codebooks)
    full = materialize(_sub_quantized(embeddings, 1))
    # the trained coarse codebook is a LOCAL RELATION (r14 _pq_train) —
    # no materialize, free broadcasts/collects downstream
    coarse = _pq_train(
        full, _seed_ids(embeddings, n_coarse), n_iters, EMBED_DIM
    ).select(F.col("cid").alias("ccid"), F.col("cv").alias("ccv"))
    # corpus coarse assignment + integral residuals + slicing in ONE
    # vectorized numpy pass (r14, guide §4.2 — the r13 HOF chain
    # crossJoin → struct-carrying array_min → zip_with → explode paid
    # interpreted per-element evaluation AND heavy plan analysis).
    # ccid rides on rsubs, so the former codes⋈resid join-back is gone.
    # EAGER: rsubs' lazy residue is the whole corpus pass and it feeds
    # both the residual-book training and the code assignment — racing
    # consumers would recompute it (persist.py residue rule)
    ccids, cc_mat = _collect_coarse(coarse)
    rsubs = materialize(
        full.select("vec_id", "sq").mapInArrow(
            _residual_slices_fn(ccids, cc_mat, n_subs),
            "vec_id long, ccid long, sub int, sq array<double>",
        ),
        eager=True,
    )
    books = _pq_train(
        rsubs.select("vec_id", "sub", "sq"),
        _seed_ids(embeddings, n_codewords),
        n_iters,
        EMBED_DIM // n_subs,
    )
    codes = _assign_residual_codes(rsubs, books)
    # query side: probe lists + per-cell residual LUTs
    qfull = full.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("sq").alias("qsq")
    )
    qscored = qfull.join(F.broadcast(coarse)).select(
        "query_id",
        "ccid",
        _d2(F.col("qsq"), F.col("ccv")).alias("cd2"),
        F.zip_with("qsq", "ccv", lambda x, y: x - y).alias("qr"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.asc("cd2"), F.asc("ccid"))
    probes = (
        qscored.withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "ccid", "qr")
    )
    qrsubs = probes.select("query_id", "ccid", _slices("qr", n_subs)).select(
        "query_id", "ccid", F.col("p.sub").alias("sub"), F.col("p.sq").alias("qsq")
    )
    lut = qrsubs.join(F.broadcast(books), "sub").select(
        "query_id",
        "ccid",
        "sub",
        F.col("cid").alias("code"),
        _d2(F.col("qsq"), F.col("cv")).alias("d2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["ccid", "sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _lloyd_sql_parts(
    src: str, prefix: str, subdim: int, n_codewords: int, n_iters: int, seeds: str
) -> list[str]:
    """DuckDB CTE chain for one integer-lattice Lloyd training over a
    ``(vec_id, sub, sq)`` source CTE; final books CTE is
    ``{prefix}cent{n_iters}``."""
    d2 = (
        f"list_sum(list_transform(range(1, {subdim + 1}),"
        f" i -> (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])"
        f" * (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])))"
    )
    parts = [
        f"""{prefix}cent0 AS (
  SELECT sub, cid, sq AS cv FROM {src} JOIN {seeds} ON {src}.vec_id = {seeds}.cid
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"""{prefix}asg{t} AS (
  SELECT vec_id, sub, sq, cid FROM (
    SELECT a.vec_id, a.sub, a.sq, c.cid,
           row_number() OVER (
               PARTITION BY a.vec_id, a.sub ORDER BY {d2} ASC, c.cid ASC
           ) AS rn
    FROM {src} a JOIN {prefix}cent{t - 1} c USING (sub)
  ) WHERE rn = 1
),
{prefix}cent{t} AS (
  SELECT sub, cid, list(cd ORDER BY pos) AS cv FROM (
    SELECT sub, cid, pos, round(sum(val) / count(*)) AS cd FROM (
      SELECT sub, cid, unnest(sq) AS val, unnest(range(1, {subdim + 1})) AS pos
      FROM {prefix}asg{t}
    ) GROUP BY sub, cid, pos
  ) GROUP BY sub, cid
)"""
        )
    return parts


def ivfpq_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    num_queries: int = 32,
    n_coarse: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
    n_subs: int = PQ_SUBS,
    n_codewords: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBED_DIM,
    train_pred: str = "TRUE",
    delete_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk` — coarse books, residuals,
    residual books, codes, probe LUTs, and integral ADC, all bit-exact.

    ``train_pred`` (a predicate over ``vec_id``) restricts which rows
    the seeds and BOTH Lloyd trainings see; encoding, probing, and ADC
    still cover every row. ``TRUE`` reproduces the inline operator;
    ``vec_id % 5 < 4`` reproduces the build-then-append index
    lifecycle (:func:`write_ivfpq_index` on the base subset +
    :func:`append_ivfpq_index` for the rest against the frozen
    quantizers). ``delete_pred`` (over ``vec_id``) excludes matching
    rows from the CANDIDATE side only — queries, training, and
    encoding are untouched — reproducing the tombstone semantics of
    :func:`delete_from_ivfpq_index`; ``None`` (or the normalized
    literal ``FALSE``, accepted for back-compat) leaves the SQL
    byte-identical to the pre-delete twin (the committed append/index
    gate oracles). The exclusion is a correlated ``NOT EXISTS``, not
    ``NOT IN`` — equivalent here, but robust if ``vec_id`` were ever
    nullable (ADVICE r11)."""
    subdim = dim // n_subs
    h = md5int_sql("CAST(vec_id AS VARCHAR)")
    d2full = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])"
        f" * (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])))"
    )
    d2sub = (
        f"list_sum(list_transform(range(1, {subdim + 1}),"
        f" i -> (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])"
        f" * (a.sq[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])))"
    )
    parts = [
        f"""e_q AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> round(x * {KMEANS_QUANT})) AS q
  FROM {table}
),
fullsubs AS (SELECT vec_id, 0 AS sub, q AS sq FROM e_q),
trainfull AS (SELECT * FROM fullsubs WHERE {train_pred}),
seeds_coarse AS (
  SELECT vec_id AS cid FROM e_q WHERE {train_pred}
  ORDER BY {h}, vec_id LIMIT {n_coarse}
),
seeds_pq AS (
  SELECT vec_id AS cid FROM e_q WHERE {train_pred}
  ORDER BY {h}, vec_id LIMIT {n_codewords}
)"""
    ]
    parts += _lloyd_sql_parts("trainfull", "co", dim, n_coarse, n_iters, "seeds_coarse")
    parts.append(
        f"""coarse AS (SELECT cid AS ccid, cv AS ccv FROM cocent{n_iters}),
resid AS (
  SELECT vec_id, ccid,
         list_transform(range(1, {dim + 1}),
                        i -> sq[CAST(i AS INTEGER)] - ccv[CAST(i AS INTEGER)]) AS r
  FROM (
    SELECT a.vec_id, a.sq, c.ccid, c.ccv,
           row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_sum(list_transform(range(1, {dim + 1}),
                   i -> (a.sq[CAST(i AS INTEGER)] - c.ccv[CAST(i AS INTEGER)])
                      * (a.sq[CAST(i AS INTEGER)] - c.ccv[CAST(i AS INTEGER)]))) ASC,
               c.ccid ASC
           ) AS rn
    FROM fullsubs a CROSS JOIN coarse c
  ) WHERE rn = 1
),
rsubs AS (
  SELECT vec_id, s AS sub, r[(s * {subdim} + 1):((s + 1) * {subdim})] AS sq
  FROM resid, range(0, {n_subs}) t(s)
),
trainrsubs AS (SELECT * FROM rsubs WHERE {train_pred})"""
    )
    parts += _lloyd_sql_parts("trainrsubs", "pq", subdim, n_codewords, n_iters, "seeds_pq")
    # tombstone semantics: candidates only. Empty when delete_pred is
    # the default so the committed pre-delete gate oracles stay
    # byte-identical. Normalized sentinel check (ADVICE r11: only the
    # exact string "FALSE" was recognized, so "false"/"0=1" silently
    # emitted an exclusion clause).
    no_delete = delete_pred is None or delete_pred.strip().upper() == "FALSE"
    tomb_clause = (
        ""
        if no_delete
        else "\n    AND NOT EXISTS (SELECT 1 FROM e_q WHERE"
        f" ({delete_pred}) AND e_q.vec_id = codes.vec_id)"
    )
    parts.append(
        f"""books AS (SELECT sub, cid, cv FROM pqcent{n_iters}),
codes AS (
  SELECT vec_id, sub, code, ccid FROM (
    SELECT a.vec_id, a.sub, c.cid AS code,
           row_number() OVER (
               PARTITION BY a.vec_id, a.sub ORDER BY {d2sub} ASC, c.cid ASC
           ) AS rn
    FROM rsubs a JOIN books c USING (sub)
  ) JOIN (SELECT vec_id, ccid FROM resid) USING (vec_id)
  WHERE rn = 1
),
probes AS (
  SELECT query_id, ccid, qr FROM (
    SELECT a.vec_id AS query_id, c.ccid,
           list_transform(range(1, {dim + 1}),
                          i -> a.sq[CAST(i AS INTEGER)] - c.ccv[CAST(i AS INTEGER)]) AS qr,
           row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_sum(list_transform(range(1, {dim + 1}),
                   i -> (a.sq[CAST(i AS INTEGER)] - c.ccv[CAST(i AS INTEGER)])
                      * (a.sq[CAST(i AS INTEGER)] - c.ccv[CAST(i AS INTEGER)]))) ASC,
               c.ccid ASC
           ) AS rn
    FROM fullsubs a CROSS JOIN coarse c
    WHERE a.vec_id < {num_queries}
  ) WHERE rn <= {n_probe}
),
qrsubs AS (
  SELECT query_id, ccid, s AS sub,
         qr[(s * {subdim} + 1):((s + 1) * {subdim})] AS sq
  FROM probes, range(0, {n_subs}) t(s)
),
lut AS (
  SELECT a.query_id, a.ccid, a.sub, c.cid AS code, {d2sub} AS d2
  FROM qrsubs a JOIN books c USING (sub)
),
adc AS (
  SELECT l.query_id, codes.vec_id AS neighbor_id, sum(l.d2) AS adc
  FROM codes JOIN lut l USING (ccid, sub, code)
  WHERE codes.vec_id <> l.query_id{tomb_clause}
  GROUP BY 1, 2
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
             PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC
         ) AS rank
  FROM adc
) WHERE rank <= {k}
"""


# -- persisted PQ index: encode once, search from codes ----------------------


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    n_subs: int = PQ_SUBS,
    k: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
    mode: str = "error",
) -> None:
    """Train + persist a PQ index: ``{path}/books`` (sub, cid, cv — the
    tiny codebooks) and ``{path}/codes`` (vec_id, sub, code — 8 longs
    per vector). The 100 TB contract: the raw vectors are read ONCE at
    build time; every later search touches only the ~8×-smaller codes
    table (:func:`read_pq_index` / :func:`pq_index_topk`), and
    streaming arrivals append codes without retraining
    (:func:`bunsen_spark.streaming.ann.stream_pq_encode`).
    ``(n_subs, k, n_iters)`` must stay constant per index path."""
    # the trained codebook is a local relation (r14) — no materialize
    books = pq_codebooks(embeddings, n_subs, k, n_iters)
    books.write.mode(mode).parquet(f"{path}/books")
    pq_encode(embeddings, books, n_subs).write.mode(mode).parquet(f"{path}/codes")


def append_pq_index(
    embeddings: DataFrame,
    path: str,
    batch_id: int | None = None,
    n_subs: int = PQ_SUBS,
) -> int:
    """Batch-append new vectors to a persisted PQ index WITHOUT
    retraining — the plain-PQ twin of :func:`append_ivfpq_index`:
    encode against the FROZEN codebooks (:func:`pq_encode`, the exact
    arithmetic the builder ran) and write to
    ``{path}/codes_stream/batch_id={batch_id}``, the layout the
    streaming encoder shares. ``batch_id`` defaults to the
    content-derived id (:func:`_content_batch_id`) with the same
    replay/collision/folded-id semantics as the IVF-PQ form. Returns
    the batch id used."""
    if batch_id is None:
        batch_id = _content_batch_id(embeddings, ("vec_id", "embedding"))
        if batch_id in set(_index_manifest(path)["folded_stream_batches"]):
            return batch_id  # replay of an already-compacted drop: no-op
    elif batch_id in set(_index_manifest(path)["folded_stream_batches"]):
        raise ValueError(
            f"batch_id {batch_id} was already folded into the base codes by"
            " compact_pq_index; readers ignore its partition, so new data"
            " written under it would be silently invisible. Use a fresh"
            " batch id (or omit it to derive one from the content)."
        )
    spark = embeddings.sparkSession
    books = spark.read.parquet(f"{path}/books")
    (
        pq_encode(embeddings, books, n_subs)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{path}/codes_stream")
    )
    return batch_id


def read_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(books, codes) of a persisted PQ index. Codes merge the
    manifest's base generation with any unfolded ``{path}/codes_stream``
    partitions (ADVICE r7: the old read skipped the stream side, so
    index searches silently missed streamed vectors), minus any live
    tombstoned vec_ids — the full lifecycle contract
    :func:`read_ivfpq_index` serves, on the plain-PQ layout."""
    m = _index_manifest(path)
    codes = _merged_index_codes(spark, path, ["vec_id", "sub", "code"], m)
    tomb = _read_tombstones(spark, path, m)
    if tomb is not None:
        codes = codes.join(tomb, "vec_id", "left_anti")
    return spark.read.parquet(f"{path}/books"), codes


def pq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_subs: int = PQ_SUBS,
) -> DataFrame:
    """ADC top-k against a PERSISTED index: queries are (vec_id,
    embedding) rows; scoring reads only the codes table + broadcast
    books/LUTs — the raw corpus vectors are never touched. Output:
    (query_id, neighbor_id, rank); self-matches (same vec_id) are
    excluded so querying corpus members behaves like :func:`pq_topk`."""
    books, codes = read_pq_index(spark, path)
    qsubs = _sub_quantized(queries, n_subs).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sq").alias("qsq")
    )
    lut = qsubs.join(F.broadcast(books), "sub").select(
        "query_id",
        "sub",
        F.col("cid").alias("code"),
        _d2(F.col("qsq"), F.col("cv")).alias("d2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _collect_coarse(coarse: DataFrame) -> tuple:
    """(ccids ascending, k × EMBED_DIM matrix) from a coarse codebook
    frame — a driver-only read when trained this session (local
    relation), one tiny job when read back from a persisted index."""
    import numpy as np

    rows = sorted(
        ((r.ccid, list(r.ccv)) for r in coarse.select("ccid", "ccv").collect()),
        key=lambda t: t[0],
    )
    return (
        [cid for cid, _ in rows],
        np.array([cv for _, cv in rows], dtype=np.float64),
    )


def _residual_slices_fn(ccids: list, cc_mat, n_subs: int):
    """mapInArrow body: coarse-assign each integral vector (d2 argmin,
    ties to the smallest ccid via first-occurrence over ascending
    rows), subtract its centroid, and emit the n_subs residual slices
    directly — the former crossJoin + struct-carrying array_min +
    zip_with + explode chain in ONE vectorized pass."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        cc = np.asarray(cc_mat, dtype=np.float64)
        subdim = cc.shape[1] // n_subs
        cid_arr = np.asarray(ccids, dtype=np.int64)
        for batch in batches:
            ids = _batch_np(batch, "vec_id")
            vecs = _batch_mat(batch, "sq", cc.shape[1])
            n = vecs.shape[0]
            if not n:
                continue
            d = np.empty((n, len(ccids)), dtype=np.float64)
            for j in range(len(ccids)):
                diff = vecs - cc[j]
                d[:, j] = (diff * diff).sum(axis=1)  # integral-exact
            amin = d.argmin(axis=1)
            resid = vecs - cc[amin]  # integral subtraction: exact
            out_id = np.repeat(ids, n_subs)
            out_ccid = np.repeat(cid_arr[amin], n_subs)
            out_sub = np.tile(np.arange(n_subs, dtype=np.int32), n)
            values = pa.array(resid.ravel(), pa.float64())
            offsets = pa.array(
                np.arange(0, n * n_subs + 1, dtype=np.int32) * subdim,
                pa.int32(),
            )
            yield pa.record_batch(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_ccid, pa.int64()),
                    pa.array(out_sub, pa.int32()),
                    pa.ListArray.from_arrays(offsets, values),
                ],
                names=["vec_id", "ccid", "sub", "sq"],
            )

    return fn


def _ivfpq_residual_subs(embeddings: DataFrame, coarse: DataFrame, n_subs: int) -> DataFrame:
    """(vec_id, ccid, sub, sq): coarse-assign each vector to its
    nearest centroid and slice the integral residual (x − centroid)
    into PQ subvectors — the shared encode substrate of the persisted
    IVF-PQ index (same arithmetic as the inline :func:`ivfpq_topk`
    corpus side, against a FROZEN ``coarse`` table). One vectorized
    corpus pass (r14, guide §4.2)."""
    full = _sub_quantized(embeddings, 1)  # numpy consumer: no _spread
    ccids, cc_mat = _collect_coarse(coarse)
    return full.select("vec_id", "sq").mapInArrow(
        _residual_slices_fn(ccids, cc_mat, n_subs),
        "vec_id long, ccid long, sub int, sq array<double>",
    )


def _assign_residual_codes(rsubs: DataFrame, books: DataFrame) -> DataFrame:
    """(vec_id, ccid, sub, code): nearest residual codeword per
    subspace (ties by smallest cid, matching :func:`ivfpq_topk`). One
    vectorized corpus pass (r14, guide §4.2): codebooks in the task
    closure, numpy argmin — no row expansion, no exchange, no
    interpreted HOF."""
    packed = _collect_books(books)
    subdim = next(iter(packed.values()))[1].shape[1] if packed else 0
    return rsubs.select("vec_id", "ccid", "sub", "sq").mapInArrow(
        _assign_codes_fn(packed, subdim, carry_ccid=True),
        "vec_id long, ccid long, sub int, code long",
    )


def ivfpq_encode(
    embeddings: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    n_subs: int = PQ_SUBS,
) -> DataFrame:
    """(vec_id, ccid, sub, code): full IVF-PQ encoding of vectors
    against FROZEN quantizers — coarse cell assignment plus residual
    codewords. This is what the index builder persists and what
    streaming arrivals run
    (:func:`bunsen_spark.streaming.ann.stream_ivfpq_encode`)."""
    return _assign_residual_codes(
        _ivfpq_residual_subs(embeddings, coarse, n_subs), books
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_coarse: int = IVF_CENTROIDS,
    n_subs: int = PQ_SUBS,
    n_codewords: int = PQ_K,
    n_iters: int = KMEANS_ITERS,
    mode: str = "error",
) -> None:
    """Train + persist an IVF-PQ index — the variant a 100 TB corpus
    actually deploys (probe pruning × 8-byte codes COMPOSE):
    ``{path}/coarse`` (ccid, ccv — the cell centroids),
    ``{path}/books`` (sub, cid, cv — the residual codebooks, shared
    across cells per standard IVFADC), and ``{path}/codes`` (vec_id,
    ccid, sub, code). The raw vectors are read ONCE at build time;
    every later search touches only codes + the two tiny broadcast
    tables (:func:`ivfpq_index_topk`), and streaming arrivals append
    codes against the frozen quantizers without retraining
    (:func:`bunsen_spark.streaming.ann.stream_ivfpq_encode`).
    ``(n_coarse, n_subs, n_codewords, n_iters)`` must stay constant
    per index path. Same integer-lattice Lloyd as :func:`ivfpq_topk`,
    so an index built and searched here reproduces the inline gate's
    arithmetic bit-for-bit."""
    full = materialize(_sub_quantized(embeddings, 1))  # numpy consumer
    # the trained quantizers are local relations (r14) — no materialize
    coarse = _pq_train(full, _seed_ids(embeddings, n_coarse), n_iters, EMBED_DIM).select(
        F.col("cid").alias("ccid"), F.col("cv").alias("ccv")
    )
    coarse.write.mode(mode).parquet(f"{path}/coarse")
    rsubs = materialize(_ivfpq_residual_subs(embeddings, coarse, n_subs))
    books = _pq_train(
        rsubs.select("vec_id", "sub", "sq"),
        _seed_ids(embeddings, n_codewords),
        n_iters,
        EMBED_DIM // n_subs,
    )
    books.write.mode(mode).parquet(f"{path}/books")
    _assign_residual_codes(rsubs, books).write.mode(mode).parquet(f"{path}/codes")


def _index_manifest(path: str) -> dict:
    """Current manifest of a persisted IVF-PQ index: which directory
    holds the base codes and which stream/tombstone batch ids have been
    FOLDED into it by :func:`compact_ivfpq_index` (and must therefore
    be ignored by readers even if their partitions still exist on
    disk — a replayed, already-folded batch is a no-op by construction
    because its content is already IN the codes). An index that was
    never compacted has no manifest file and reads with this legacy
    default — the pre-round-12 layout unchanged."""
    import json
    import os

    p = f"{path}/manifest.json"
    default = {
        "gen": 0,
        "codes": "codes",
        "folded_stream_batches": [],
        "folded_tombstone_batches": [],
    }
    if not os.path.exists(p):
        return default
    with open(p) as f:
        m = json.load(f)
    return {**default, **m}


def _write_index_manifest(path: str, manifest: dict) -> None:
    """Atomically flip the index manifest (write-temp + ``os.replace``):
    a reader sees either the old generation (old codes + live stream/
    tombstone partitions) or the new one (compacted codes, folded
    partitions ignored) — never a half-state. This single atomic
    metadata flip is what makes compaction crash-correct at every
    instant; on an object store the same role is played by a
    conditional-put of this one small object."""
    import json
    import os

    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, f"{path}/manifest.json")


# Fixed derived id for an EMPTY batch: hashing zero rows XORs to 0,
# which is also the first engine micro-batch id — a deterministic
# collision (ADVICE r12). An empty write is a no-op either way (dynamic
# overwrite of an empty frame writes nothing), but the id it RETURNS
# must still be outside the small-integer range other writers use.
_EMPTY_BATCH_ID = (1 << 62) | 0x0E5E

def _content_batch_id(rows: DataFrame, cols: tuple[str, ...] = ("vec_id",)) -> int:
    """Order-independent content hash over ``cols`` of a batch, used as
    the default partition id for batch appends/deletes (ADVICE r11: a
    fixed default of 0 made a SECOND distinct batch dynamic-overwrite
    the first one's partition — for deletes that silently RESURRECTED
    previously erased vectors). Same content -> same batch id (replays
    stay idempotent); distinct batches can never share a partition.
    Deletes hash the vec_id set alone (erasing the same ids twice IS
    the same delete); appends pass ``("vec_id", "embedding")`` so that
    re-appending the same ids with DIFFERENT vectors derives a fresh
    id instead of silently no-opping against a folded replay guard
    (ADVICE r12 — note the index stays insert-only: such a re-append
    lands as a second live row per vec_id; erase first to replace).
    An empty batch gets the fixed :data:`_EMPTY_BATCH_ID` (zero rows
    would hash to 0, a small-integer collision). One tiny 1-row
    aggregate job — the same bounded coordination class as the greedy
    selectors."""
    hash_cols = ", ".join(cols)
    row = (
        rows.select(*cols)
        .distinct()
        .agg(
            F.expr(f"bit_xor(xxhash64({hash_cols}))").alias("h"),
            F.count(F.lit(1)).alias("c"),
        )
        .first()
    )
    if row["c"] == 0:
        return _EMPTY_BATCH_ID
    return ((row["h"] or 0) ^ row["c"]) & ((1 << 63) - 1)


def append_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    batch_id: int | None = None,
    n_subs: int = PQ_SUBS,
) -> int:
    """Batch-append new vectors to a persisted IVF-PQ index WITHOUT
    retraining: coarse-assign each row to its nearest FROZEN cell
    centroid, encode its residual against the FROZEN shared codebooks
    (:func:`ivfpq_encode` — the exact arithmetic the builder ran on the
    base corpus), and write the codes to
    ``{path}/codes_stream/batch_id={batch_id}`` — the same layout the
    streaming encoder uses
    (:func:`bunsen_spark.streaming.ann.stream_ivfpq_encode`), so
    :func:`read_ivfpq_index` merges batch and streaming appends
    uniformly and replayed batch ids overwrite their own partition
    (idempotent backfill). When ``batch_id`` is None (default) it is
    DERIVED from a content hash of the appended vec_ids
    (:func:`_content_batch_id`): replays of the same drop stay
    idempotent, distinct drops can never collide on a shared default
    partition, and the derived ids (63-bit) cannot collide with the
    small monotonic engine batch ids the streaming encoder writes.
    Returns the batch id used. Appending under a batch id that
    :func:`compact_ivfpq_index` already folded raises — the partition
    would be silently ignored by readers; pick a fresh id (a replay of
    the folded batch itself needs no action: its content is already in
    the codes).

    This is the bulk-ingest half of the index lifecycle a 100 TB
    deployment runs: train once on a base snapshot, then absorb each
    new data drop with ONE bounded encode pass over just the new rows
    (two tiny broadcast quantizer tables; no shuffle of the existing
    index, which is never read). Quantizer geometry is pinned by
    :func:`write_ivfpq_index`; rebuild when drift audits
    (``operators/drift.py``) say the frozen cells stopped fitting."""
    if batch_id is None:
        batch_id = _content_batch_id(embeddings, ("vec_id", "embedding"))
        if batch_id in set(_index_manifest(path)["folded_stream_batches"]):
            return batch_id  # replay of an already-compacted drop: no-op
    elif batch_id in set(_index_manifest(path)["folded_stream_batches"]):
        raise ValueError(
            f"batch_id {batch_id} was already folded into the base codes by"
            " compact_ivfpq_index; readers ignore its partition, so new data"
            " written under it would be silently invisible. Use a fresh"
            " batch id (or omit it to derive one from the content)."
        )
    spark = embeddings.sparkSession
    coarse = spark.read.parquet(f"{path}/coarse")
    books = spark.read.parquet(f"{path}/books")
    (
        ivfpq_encode(embeddings, coarse, books, n_subs)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{path}/codes_stream")
    )
    return batch_id


def delete_from_ivfpq_index(
    ids: DataFrame, path: str, batch_id: int | None = None
) -> int:
    """Tombstone deletion from a persisted IVF-PQ index WITHOUT
    rewriting a single code: ``ids`` (any DataFrame with a ``vec_id``
    column) is written to ``{path}/tombstones/batch_id={batch_id}``
    (dynamic partition overwrite — a replayed delete batch overwrites
    its own partition, idempotent exactly like
    :func:`append_ivfpq_index`), and :func:`read_ivfpq_index`
    anti-joins the merged code table against the tombstone set, so
    every search path (:func:`ivfpq_index_topk`) stops returning the
    deleted vectors immediately. When ``batch_id`` is None (default)
    it is DERIVED from a content hash of the id set
    (:func:`_content_batch_id`) — ADVICE r11: with a fixed default, a
    second distinct delete batch silently REPLACED the first tombstone
    partition, resurrecting previously erased vectors; content-derived
    ids keep replays idempotent while distinct deletes accumulate.
    Returns the batch id used. A delete under a batch id that
    :func:`compact_ivfpq_index` already folded is a no-op when derived
    (same content hash -> same ids -> already erased from the codes)
    and raises when explicit (new ids under a folded id would be
    silently ignored).

    This is the right-to-erasure half of the index lifecycle: at
    100 TB a rebuild-per-delete is unpayable, and an in-place rewrite
    of the cell files turns every GDPR request into a random-write
    storm. A tombstone partition is one bounded append; the search
    overhead is one anti-join against a table that AQE broadcasts
    while small. When the tombstone fraction grows past a few percent,
    :func:`compact_ivfpq_index` folds them into the codes with one
    rewrite (the codes are frozen-quantizer, so survivors are
    byte-identical by construction) and retires the tombstone
    partitions."""
    m = _index_manifest(path)
    if batch_id is None:
        batch_id = _content_batch_id(ids)
        if batch_id in set(m["folded_tombstone_batches"]):
            return batch_id  # replay of an already-compacted delete: no-op
    elif batch_id in set(m["folded_tombstone_batches"]):
        raise ValueError(
            f"tombstone batch_id {batch_id} was already folded by"
            " compact_ivfpq_index; readers ignore its partition, so new ids"
            " written under it would NOT be erased. Use a fresh batch id"
            " (or omit it to derive one from the content)."
        )
    (
        ids.select("vec_id")
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{path}/tombstones")
    )
    return batch_id


def _read_tombstones(spark, path: str, manifest: dict | None = None) -> DataFrame | None:
    """(vec_id) LIVE tombstone set of an index — every tombstone
    partition except those :func:`compact_ivfpq_index` already folded
    into the codes — or None when no delete was ever issued (missing
    directory is the common case and must stay free). Storage-agnostic:
    probed via the reader, not the local filesystem."""
    from pyspark.errors import AnalysisException

    m = manifest if manifest is not None else _index_manifest(path)
    try:
        t = spark.read.parquet(f"{path}/tombstones")
    except AnalysisException:
        return None
    folded = m["folded_tombstone_batches"]
    if folded and "batch_id" in t.columns:
        # partition-column filter: folded partitions are pruned at
        # planning time, never scanned
        t = t.where(~F.col("batch_id").isin(folded))
    return t.select("vec_id")


def _merged_index_codes(
    spark, path: str, cols: list[str], manifest: dict | None = None
) -> DataFrame:
    """All live code rows of a persisted index (PQ or IVF-PQ — they
    share the layout; only ``cols`` differs): the manifest's base
    codes generation plus every ``codes_stream`` partition not yet
    folded by compaction (batch appends and streaming arrivals share
    the partition scheme). Tombstones are NOT applied here — that is
    the ``read_*_index`` readers' job."""
    from pyspark.errors import AnalysisException

    m = manifest if manifest is not None else _index_manifest(path)
    base = spark.read.parquet(f"{path}/{m['codes']}").select(*cols)
    try:
        extra = spark.read.parquet(f"{path}/codes_stream")
    except AnalysisException:
        return base
    folded = m["folded_stream_batches"]
    if folded:
        extra = extra.where(~F.col("batch_id").isin(folded))
    return base.unionByName(extra.select(*cols))


def _merged_ivfpq_codes(spark, path: str, manifest: dict | None = None) -> DataFrame:
    """All live (vec_id, ccid, sub, code) rows of a persisted IVF-PQ
    index — :func:`_merged_index_codes` on the IVF-PQ column set."""
    return _merged_index_codes(
        spark, path, ["vec_id", "ccid", "sub", "code"], manifest
    )


def read_ivfpq_index(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coarse, books, codes) of a persisted IVF-PQ index; codes merge
    the manifest's base generation with any unfolded
    ``{path}/codes_stream`` partitions the streaming encoder or batch
    appends added (same reader contract as :func:`read_pq_index`),
    minus any live tombstoned vec_ids
    (:func:`delete_from_ivfpq_index`)."""
    m = _index_manifest(path)
    codes = _merged_ivfpq_codes(spark, path, m)
    tomb = _read_tombstones(spark, path, m)
    if tomb is not None:
        codes = codes.join(tomb, "vec_id", "left_anti")
    return (
        spark.read.parquet(f"{path}/coarse"),
        spark.read.parquet(f"{path}/books"),
        codes,
    )


def _pending_batch_ids(spark, directory: str, folded: list[int]) -> list[int]:
    """Distinct batch ids present under ``directory`` that the manifest
    has not folded yet; [] when the directory does not exist."""
    from pyspark.errors import AnalysisException

    try:
        rows = (
            spark.read.parquet(directory).select("batch_id").distinct().collect()
        )
    except AnalysisException:
        return []
    return sorted({r["batch_id"] for r in rows} - set(folded))


def _gc_index(path: str, manifest: dict) -> None:
    """Best-effort removal of directories the manifest no longer
    references: superseded code generations and folded stream/tombstone
    partitions. Correctness never depends on this — readers filter by
    the manifest — so a crash mid-GC just leaves ignorable orphans that
    the next compaction sweep removes. Local-filesystem only; on an
    object store, expire the same prefixes with a lifecycle rule."""
    import os
    import re
    import shutil

    if "://" in path or not os.path.isdir(path):
        return
    keep = manifest["codes"]
    for name in os.listdir(path):
        is_gen = name == "codes" or re.fullmatch(r"codes_g\d+", name)
        if is_gen and name != keep:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    for sub, folded in (
        ("codes_stream", manifest["folded_stream_batches"]),
        ("tombstones", manifest["folded_tombstone_batches"]),
    ):
        d = os.path.join(path, sub)
        if not os.path.isdir(d):
            continue
        dead = set(folded)
        for part in os.listdir(d):
            if (
                part.startswith("batch_id=")
                and int(part.split("=", 1)[1]) in dead
            ):
                shutil.rmtree(os.path.join(d, part), ignore_errors=True)
        if not any(p.startswith("batch_id=") for p in os.listdir(d)):
            shutil.rmtree(d, ignore_errors=True)


def _compact_index(spark, path: str, cols: list[str]) -> bool:
    """Shared compaction core for both persisted index layouts
    (``cols`` is the layout's code-row column set). Protocol (readers
    need no coordination): SNAPSHOT the pending stream/tombstone batch
    ids, write exactly that snapshot's live view — the manifest's base
    codes plus the snapshotted stream partitions, minus the snapshotted
    tombstones — to ``{path}/codes_g{gen+1}``, then atomically flip
    ``manifest.json`` to point at it and mark the SNAPSHOTTED ids (and
    only them) folded, then best-effort GC the superseded directories.
    Scoping both the fold and the manifest to one snapshot is what
    makes concurrent appends safe (ADVICE r12): a stream/batch append
    landing after the snapshot is neither copied into the new base nor
    marked folded, so it stays a live partition readers union in —
    with a lazily-evaluated "current live view" it would have been
    folded into the base while its partition stayed live, and every
    reader would have double-counted its rows. A reader at any instant
    sees either the old manifest (old codes + live partitions) or the
    new one (compacted codes; folded partitions ignored even if GC has
    not removed them yet) — value-identical views. A crash before the
    flip leaves an orphan generation directory the next run
    overwrites; a crash after it leaves orphans GC sweeps later;
    re-running after success is a no-op. Returns True when a new
    generation was written.

    Local-filesystem only: the manifest flip is an ``os.replace`` and
    GC walks the directory, so an object-store path fails fast here
    instead of writing a full codes generation and then orphaning it
    at the manifest write (ADVICE r12). On an object store, run
    compaction against a local mirror or re-implement the flip as a
    conditional-put (see :func:`_write_index_manifest`)."""
    import os

    if "://" in path:
        raise ValueError(
            "compaction requires a local index path: the manifest flip is a"
            f" local-filesystem atomic rename, and {path!r} looks like an"
            " object-store URI. Readers, appends, and deletes remain"
            " storage-agnostic; only compact_*_index needs local storage."
        )
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"no persisted index at {path!r} — build one with"
            " write_pq_index / write_ivfpq_index before compacting."
        )
    m = _index_manifest(path)
    pend_stream = _pending_batch_ids(
        spark, f"{path}/codes_stream", m["folded_stream_batches"]
    )
    pend_tomb = _pending_batch_ids(
        spark, f"{path}/tombstones", m["folded_tombstone_batches"]
    )
    if not pend_stream and not pend_tomb:
        _gc_index(path, m)  # self-heal orphans from a crashed prior GC
        spark.catalog.refreshByPath(path)
        return False
    survivors = spark.read.parquet(f"{path}/{m['codes']}").select(*cols)
    if pend_stream:
        survivors = survivors.unionByName(
            spark.read.parquet(f"{path}/codes_stream")
            .where(F.col("batch_id").isin(pend_stream))
            .select(*cols)
        )
    if pend_tomb:
        survivors = survivors.join(
            spark.read.parquet(f"{path}/tombstones")
            .where(F.col("batch_id").isin(pend_tomb))
            .select("vec_id"),
            "vec_id",
            "left_anti",
        )
    gen = m["gen"] + 1
    new_dir = f"codes_g{gen}"
    survivors.write.mode("overwrite").parquet(f"{path}/{new_dir}")
    new_m = {
        "gen": gen,
        "codes": new_dir,
        "folded_stream_batches": sorted(
            set(m["folded_stream_batches"]) | set(pend_stream)
        ),
        "folded_tombstone_batches": sorted(
            set(m["folded_tombstone_batches"]) | set(pend_tomb)
        ),
    }
    _write_index_manifest(path, new_m)
    _gc_index(path, new_m)
    # THIS session's cached file listings for the removed directories
    # are now stale (Spark caches leaf-file lists per path); drop them
    # so later reads re-list instead of failing on vanished files.
    # Other long-lived sessions must refreshByPath on their side —
    # the same contract dynamic partition overwrite already imposes.
    spark.catalog.refreshByPath(path)
    return True


def compact_ivfpq_index(spark, path: str) -> bool:
    """Fold every pending stream-append partition and tombstone into
    ONE new base codes generation — the escape hatch the delete path
    promises: tombstones keep searches correct immediately, but the
    anti-join cost grows with every accumulated delete, so when the
    tombstone fraction passes a few percent this rewrite restores the
    steady state (codes only, no anti-join, no stream union). The codes
    are frozen-quantizer, so surviving rows are byte-identical by
    construction — compaction moves bytes, never re-encodes. Crash
    semantics and the atomic manifest-flip protocol: see
    :func:`_compact_index`. Returns True when a new generation was
    written."""
    return _compact_index(spark, path, ["vec_id", "ccid", "sub", "code"])


def delete_from_pq_index(
    ids: DataFrame, path: str, batch_id: int | None = None
) -> int:
    """Tombstone deletion from a persisted plain-PQ index — the
    tombstone layout is index-type-agnostic (vec_ids only), so the
    mechanics, content-derived batch ids, replay semantics, and
    folded-id guards are exactly :func:`delete_from_ivfpq_index`'s;
    :func:`read_pq_index` applies the anti-join on its side."""
    return delete_from_ivfpq_index(ids, path, batch_id)


def compact_pq_index(spark, path: str) -> bool:
    """:func:`compact_ivfpq_index` for the plain-PQ layout: fold
    pending stream partitions and tombstones into one new base codes
    generation behind the same atomic manifest flip
    (:func:`_compact_index`); survivors byte-identical because the
    codes are frozen-codebook."""
    return _compact_index(spark, path, ["vec_id", "sub", "code"])


def ivfpq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = IVF_PROBE,
    n_subs: int = PQ_SUBS,
) -> DataFrame:
    """IVFADC top-k against a PERSISTED index: queries are (vec_id,
    embedding) rows; each query probes its ``n_probe`` nearest coarse
    cells and ADC-scores ONLY the codes in those cells through the
    broadcast residual LUT — the raw corpus vectors are never touched,
    and the scan is cut corpus/n_coarse × n_probe on top of the 8-byte
    reads. Output: (query_id, neighbor_id, rank); self-matches
    excluded so querying corpus members behaves like
    :func:`ivfpq_topk`."""
    coarse, books, codes = read_ivfpq_index(spark, path)
    qfull = _sub_quantized(queries, 1).select(
        F.col("vec_id").alias("query_id"), F.col("sq").alias("qsq")
    )
    qscored = qfull.join(F.broadcast(coarse)).select(
        "query_id",
        "ccid",
        _d2(F.col("qsq"), F.col("ccv")).alias("cd2"),
        F.zip_with("qsq", "ccv", lambda x, y: x - y).alias("qr"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.asc("cd2"), F.asc("ccid"))
    probes = (
        qscored.withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "ccid", "qr")
    )
    qrsubs = probes.select("query_id", "ccid", _slices("qr", n_subs)).select(
        "query_id", "ccid", F.col("p.sub").alias("sub"), F.col("p.sq").alias("qsq")
    )
    lut = qrsubs.join(F.broadcast(books), "sub").select(
        "query_id",
        "ccid",
        "sub",
        F.col("cid").alias("code"),
        _d2(F.col("qsq"), F.col("cv")).alias("d2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["ccid", "sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def mmr_select(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 4,
    lam: tuple[int, int] = (7, 10),
) -> DataFrame:
    """Maximal-marginal-relevance (Carbonell & Goldstein 1998) diverse
    top-``k`` selection for one query vector: ``k`` greedy rounds,
    each picking the candidate maximizing
    ``lam*rel(c) - (1-lam)*max_{s in S} sim(c, s)`` — the standard
    relevance-vs-redundancy curation rule (diverse retrieval, few-shot
    pool picking, dedup-aware eval sampling). ``lam`` is the rational
    ``(a, b)`` for a/b, so the score is the INTEGER
    ``a*rel - (b-a)*maxsim`` over dot products of ``round(x*1000)``
    integral-quantized vectors (the engine-portable lattice the
    k-means family already uses) — no float comparisons anywhere.
    Output: ``(sel_rank, vec_id, score_num)``; ties break on vec_id.

    Scale: per round ONE linear scan of the quantized corpus — ONE
    Spark job. The selected set (≤k vectors) lives on the DRIVER and
    enters the scan as literal arrays (the argmax collect already
    returns the winner's quantized vector along with its id), so the
    max-sim reduction is a ``greatest`` over ≤k map-side dot-product
    expressions: no per-round cross join, no group-by exchange, no
    selected-set materialization or broadcast. Collecting ≤k
    dim-length vectors is the same bounded driver coordination as the
    Lloyd trainer's centroid pull.
    """
    a, b = lam
    if k < 1:
        raise ValueError("k must be >= 1")
    if not (0 < a <= b):
        raise ValueError("lam must be a rational in (0, 1]")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(KMEANS_QUANT), 0).cast("long"),
    )
    base = materialize(embeddings.select("vec_id", q.alias("q")))
    qrow = base.where(F.col("vec_id") == query_id).select(
        F.col("q").alias("__qv")
    )
    idot = F.aggregate(
        F.zip_with(F.col("q"), F.col("__qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cands = materialize(
        base.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", "q", idot.alias("rel"))
    )
    winners: list[tuple[int, int, int]] = []
    sel_vecs: list[list[int]] = []
    for rank in range(1, k + 1):
        if not sel_vecs:
            score = F.lit(a) * F.col("rel")
        else:
            dots = [
                F.aggregate(
                    F.zip_with(F.col("q"), F.lit(sv), lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                for sv in sel_vecs
            ]
            maxsim = dots[0] if len(dots) == 1 else F.greatest(*dots)
            score = F.lit(a) * F.col("rel") - F.lit(b - a) * maxsim
        top = (
            cands.select("vec_id", "q", score.alias("score_num"))
            .orderBy(F.col("score_num").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(f"corpus exhausted after {rank - 1} picks")
        [r] = top
        winners.append((rank, r.vec_id, r.score_num))
        sel_vecs.append([int(x) for x in r.q])
        cands = cands.where(F.col("vec_id") != r.vec_id)
    # LocalRelation result frame (r14): driver-only collects
    return values_df(
        embeddings.sparkSession, winners, "sel_rank long, vec_id long, score_num long"
    )


def mmr_select_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 4,
    lam: tuple[int, int] = (7, 10),
) -> str:
    """DuckDB twin of :func:`mmr_select`: the greedy cycle unrolled as
    a CTE chain over the same integral-quantized integer lattice."""
    a, b = lam
    parts = [
        f"""e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {KMEANS_QUANT}) AS BIGINT)) AS q
  FROM {table}
)""",
        f"""cand AS (
  SELECT e.vec_id, e.q,
         CAST(list_sum(list_transform(range(1, len(e.q) + 1),
              i -> e.q[CAST(i AS INTEGER)] * qq.q[CAST(i AS INTEGER)]))
              AS BIGINT) AS rel
  FROM e CROSS JOIN (SELECT q FROM e WHERE vec_id = {query_id}) qq
  WHERE e.vec_id <> {query_id}
)""",
    ]
    for r in range(1, k + 1):
        excl = "".join(
            f" AND vec_id <> (SELECT vec_id FROM r{p})" for p in range(1, r)
        )
        if r == 1:
            scored = (
                f"SELECT vec_id, CAST({a} * rel AS BIGINT) AS score_num"
                f" FROM cand WHERE TRUE{excl}"
            )
        else:
            sel = " UNION ALL ".join(
                f"SELECT q FROM e JOIN r{p} USING (vec_id)"
                for p in range(1, r)
            )
            scored = f"""SELECT c.vec_id,
         CAST({a} * c.rel - {b - a} * max(
              CAST(list_sum(list_transform(range(1, len(c.q) + 1),
                   i -> c.q[CAST(i AS INTEGER)] * s.q[CAST(i AS INTEGER)]))
                   AS BIGINT)) AS BIGINT) AS score_num
  FROM (SELECT * FROM cand WHERE TRUE{excl}) c
  CROSS JOIN ({sel}) s
  GROUP BY c.vec_id, c.rel"""
        parts.append(
            f"""r{r} AS (
  SELECT vec_id, score_num FROM ({scored}) __s{r}
  ORDER BY score_num DESC, vec_id ASC LIMIT 1
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS sel_rank, vec_id, score_num FROM r{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + unions


def knn_label_vote(
    embeddings: DataFrame, k: int = 5, num_queries: int = 32
) -> DataFrame:
    """Leave-one-out kNN classification audit — THE standard intrinsic
    embedding-quality eval (does the space cluster by label?): for each
    query vector (vec_id < ``num_queries``) take its ``k`` exact-cosine
    nearest OTHER vectors (:func:`brute_force_topk`, the gate-proven
    ranking) and majority-vote their ``label`` column; ties break on
    the smaller label. Output: ``(query_id, true_label, pred_label,
    votes, correct)`` — aggregate ``avg(correct)`` is the LOO kNN
    accuracy.

    Scale: the neighbor table is ``num_queries*k`` rows — it is the
    BROADCAST side of both label joins (the corpus-sized label table
    is never shuffled); the vote argmax is a window over ≤k rows per
    query. Cost is dominated by the exact scan inside
    ``brute_force_topk`` — swap in any of the IVF/PQ variants for an
    approximate audit at larger ``num_queries``."""
    nn = brute_force_topk(embeddings, k, num_queries)
    labels = embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    neigh = labels.join(
        F.broadcast(nn), labels.vec_id == nn.neighbor_id
    ).select("query_id", "label")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    pred = (
        neigh.groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )
    truth = labels.join(
        F.broadcast(pred), labels.vec_id == pred.query_id
    ).select(
        "query_id",
        F.col("label").alias("true_label"),
        "pred_label",
        "votes",
        F.when(F.col("label") == F.col("pred_label"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("correct"),
    )
    return truth


def knn_label_vote_sql(
    table: str = "embeddings", k: int = 5, num_queries: int = 32
) -> str:
    """DuckDB twin of :func:`knn_label_vote`."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
           FROM {table}),
nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id
           ) AS rank
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {num_queries}
  ) WHERE rank <= {k}
),
pred AS (
  SELECT query_id, label AS pred_label, votes FROM (
    SELECT query_id, n.label,
           CAST(count(*) AS BIGINT) AS votes,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY count(*) DESC, n.label ASC
           ) AS rn
    FROM nn JOIN e n ON n.vec_id = nn.neighbor_id
    GROUP BY query_id, n.label
  ) WHERE rn = 1
)
SELECT query_id, q.label AS true_label, pred_label, votes,
       CAST(CASE WHEN q.label = pred_label THEN 1 ELSE 0 END AS BIGINT)
           AS correct
FROM pred JOIN e q ON q.vec_id = pred.query_id
"""


def _jl_sign(j: int, d: int) -> int:
    """Deterministic ±1 for projected axis ``j``, input dim ``d`` —
    md5 parity of ``"jl<j>_<d>"`` (engine-independent: generated
    driver-side and inlined as literals in BOTH the Spark plan and the
    DuckDB twin, same recipe as the LSH ``PLANES``)."""
    import hashlib

    return 1 if int(hashlib.md5(f"jl{j}_{d}".encode()).hexdigest(), 16) % 2 == 0 else -1


def _jl_matrix(out_dim: int, dim: int) -> list[list[int]]:
    return [[_jl_sign(j, d) for d in range(dim)] for j in range(out_dim)]


def jl_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    out_dim: int = 8,
) -> DataFrame:
    """Johnson–Lindenstrauss random-projection ANN: project the
    ``round(x*1000)`` integral-quantized vectors through a
    deterministic ±1 sign matrix (Achlioptas 2003's database-friendly
    JL construction) down to ``out_dim`` axes, then rank each query's
    candidates by EXACT INTEGER dot product in the projected space —
    ties on neighbor_id. Output: (query_id, neighbor_id, rank).

    Scale: the projection is a map stage (``out_dim`` integer dots per
    vector, sign rows are plan literals — nothing is shuffled or
    broadcast for the matrix); the scoring scan then touches
    ``out_dim``-wide vectors instead of the full dimension — the
    classic "project once, scan cheap" trade: at 100 TB the projected
    corpus is dim/out_dim× smaller to scan, and recall follows the JL
    distance-preservation bound rather than an inverted-list prune.
    All arithmetic is integer (products of round(x*1000) sums stay far
    under 2^63 for out_dim·dim ≤ ~10^5), so any engine reproduces the
    ranking bit-for-bit — and the r14 vectorized pass inherits that
    exactness for free (int64 lattice: any summation order; numpy and
    Java longs share wrap-around semantics even hypothetically).

    One :func:`_topk_scan` corpus pass: projection and scoring run as
    int64 numpy matmuls (:func:`_jl_scorer`); :func:`_rank_topk` merges
    the partition-local top-k partials on the driver."""
    # the corpus quantization stays the Spark expression _quantized
    # uses (same HALF_UP round), so the lattice is pinned in one place
    lattice = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(KMEANS_QUANT), 0).cast("long"),
    )

    def build(q: _Queries):
        corpus = embeddings.select("vec_id", lattice.alias("q"))
        return _rank_topk(_topk_scan(corpus, q, k, _jl_scorer(q, out_dim), "sim long"), k)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def jl_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    num_queries: int = 32,
    out_dim: int = 8,
) -> str:
    """DuckDB twin of :func:`jl_topk` (same literal sign matrix)."""
    signs = _jl_matrix(out_dim, EMBED_DIM)
    proj_exprs = ", ".join(
        "CAST(list_sum(list_transform(range(1, len(q) + 1), "
        f"i -> q[CAST(i AS INTEGER)] * ([{', '.join(str(s) for s in signs[j])}])"
        "[CAST(i AS INTEGER)])) AS BIGINT)"
        for j in range(out_dim)
    )
    pdot = (
        f"CAST(list_sum(list_transform(range(1, {out_dim} + 1), "
        "i -> qq.p[CAST(i AS INTEGER)] * c.p[CAST(i AS INTEGER)])) AS BIGINT)"
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {KMEANS_QUANT}) AS BIGINT)) AS q
  FROM {table}
), proj AS (
  SELECT vec_id, [{proj_exprs}] AS p FROM e
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
             PARTITION BY qq.vec_id
             ORDER BY {pdot} DESC, c.vec_id
         ) AS rank
  FROM proj qq JOIN proj c ON c.vec_id <> qq.vec_id
  WHERE qq.vec_id < {num_queries}
) WHERE rank <= {k}
"""


def cluster_label_purity(
    embeddings: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Per-cluster label purity of the Lloyd codebook — the standard
    unsupervised-vs-labels audit ("do learned clusters align with
    known classes?", the purity half of a clustering scorecard): every
    vector is assigned to its max-cosine centroid (the gate-proven
    bit-exact codebook), and each cluster reports

        ``(cid, n_members, majority_label, majority_votes)``

    — corpus purity = ``sum(majority_votes) / sum(n_members)``, left
    as a ratio of exact longs for the consumer.

    Scale shape: assignment is the broadcast max-of-struct aggregate
    shared with :func:`semantic_dedup` (no window over the corpus);
    both the member count and the majority vote are map-side-combined
    aggregates on ``(cid[, label])`` — state bounded by clusters ×
    labels, never corpus rows."""
    # the trained codebook is a local relation (r14) — no materialize.
    # The label rides THROUGH the assignment pass as an Arrow
    # passthrough column (r14 session 2), deleting the join back to
    # the embeddings (two exchanges) — same fusion as semantic_dedup.
    cents = kmeans_codebook(embeddings, n_centroids, n_iters)
    src = _with_lattice(
        embeddings.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )  # numpy consumer: no _spread
    labeled = _kmeans_assign(src, cents, "label long")
    votes = labeled.groupBy("cid", "label").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    # majority label via max-of-struct in (votes DESC, label ASC)
    # order — same windowless argmax as the Lloyd assignment
    top = (
        votes.select(
            "cid",
            F.struct(
                F.col("votes").alias("votes"),
                (-F.col("label")).alias("neglabel"),
                F.col("label").alias("label"),
            ).alias("s"),
        )
        .groupBy("cid")
        .agg(F.max("s").alias("s"), F.sum("s.votes").alias("n_members"))
    )
    return top.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("s.label").alias("majority_label"),
        F.col("s.votes").alias("majority_votes"),
    )


def cluster_label_purity_sql(
    table: str = "embeddings",
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of :func:`cluster_label_purity` over the shared
    bit-exact codebook CTEs."""
    parts = _kmeans_cte_parts(table, n_centroids, n_iters, dim)
    parts.append(
        f"""scored AS (
  SELECT eq.vec_id, c.cid,
         row_number() OVER (
             PARTITION BY eq.vec_id
             ORDER BY list_cosine_similarity(eq.q, c.cv) DESC, c.cid
         ) AS rn
  FROM e_q eq CROSS JOIN cent{n_iters} c
),
assigned AS (SELECT vec_id, cid FROM scored WHERE rn = 1),
votes AS (
  SELECT a.cid, CAST(l.label AS BIGINT) AS label,
         CAST(count(*) AS BIGINT) AS votes
  FROM assigned a JOIN {table} l ON l.vec_id = a.vec_id
  GROUP BY a.cid, l.label
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT CAST(cid AS BIGINT) AS cid, n_members,
       label AS majority_label, votes AS majority_votes
FROM (
  SELECT cid, label, votes,
         CAST(sum(votes) OVER (PARTITION BY cid) AS BIGINT) AS n_members,
         row_number() OVER (
             PARTITION BY cid ORDER BY votes DESC, label ASC
         ) AS rn
  FROM votes
) WHERE rn = 1
"""


def hard_negative_mining(
    embeddings: DataFrame, k: int = 8, num_queries: int = 32
) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch /
    ANN-mined negatives recipe of DPR, Karpukhin et al. 2020): for
    each query vector, the NEAREST neighbor among its exact-cosine
    top-``k`` that carries a DIFFERENT label — the negative that is
    hardest to tell apart. Output: ``(query_id, true_label, neg_id,
    neg_label, neg_rank)``; queries whose entire top-``k`` shares
    their label emit no row (no hard negative that close — raise
    ``k``).

    Scale shape: rides :func:`brute_force_topk`'s gate-proven ranking
    (swap in the IVF/PQ variants for approximate mining at larger
    query sets); the ``num_queries*k`` neighbor table is the BROADCAST
    side of both label joins, so the corpus-sized label table never
    shuffles; the per-query argmin is a max-of-struct aggregate over
    <= k rows."""
    nn = brute_force_topk(embeddings, k, num_queries)
    labels = embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    neigh = labels.join(
        F.broadcast(nn), labels.vec_id == nn.neighbor_id
    ).select(
        "query_id",
        F.col("neighbor_id"),
        F.col("label").alias("neg_label"),
        "rank",
    )
    qlab = labels.join(
        F.broadcast(neigh.select("query_id").distinct()),
        labels.vec_id == F.col("query_id"),
    ).select("query_id", F.col("label").alias("true_label"))
    diff = neigh.join(F.broadcast(qlab), "query_id").where(
        F.col("neg_label") != F.col("true_label")
    )
    best = F.struct(
        (-F.col("rank")).alias("negrank"),
        F.col("rank").alias("rank"),
        F.col("neighbor_id").alias("neg_id"),
        F.col("neg_label").alias("neg_label"),
    )
    return (
        diff.select("query_id", "true_label", best.alias("s"))
        .groupBy("query_id", "true_label")
        .agg(F.max("s").alias("s"))
        .select(
            "query_id",
            "true_label",
            F.col("s.neg_id").cast("long").alias("neg_id"),
            F.col("s.neg_label").alias("neg_label"),
            F.col("s.rank").cast("long").alias("neg_rank"),
        )
    )


def hard_negative_mining_sql(
    table: str = "embeddings", k: int = 8, num_queries: int = 32
) -> str:
    """DuckDB twin of :func:`hard_negative_mining`."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
           FROM {table}),
nn AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id
           ) AS rank
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {num_queries}
  ) WHERE rank <= {k}
),
diff AS (
  SELECT nn.query_id, q.label AS true_label, nn.neighbor_id, n.label AS neg_label,
         nn.rank,
         row_number() OVER (
             PARTITION BY nn.query_id ORDER BY nn.rank ASC
         ) AS rn
  FROM nn
  JOIN e n ON n.vec_id = nn.neighbor_id
  JOIN e q ON q.vec_id = nn.query_id
  WHERE n.label <> q.label
)
SELECT query_id, true_label, CAST(neighbor_id AS BIGINT) AS neg_id,
       neg_label, CAST(rank AS BIGINT) AS neg_rank
FROM diff WHERE rn = 1
"""


def _sign_words(v: Column) -> list[Column]:
    """Two 32-bit sign words for a 64-dim vector (the ANN family's
    EMBED_DIM contract; missing trailing dims read as sign 0): bit
    ``i`` of word ``w`` set iff ``v[w*32 + i] > 0``. Distinct powers of two, so the
    integer SUM is exact and equals the bitwise OR — the same packing
    expression runs on Spark and DuckDB (neither can shift into bit 63
    portably, hence two half-words instead of one 64-bit word)."""
    words = []
    for w in range(2):
        # one Horner aggregate over the word's positions in DESCENDING
        # order instead of a 32-term when-chain (r13): ~20 py4j
        # roundtrips per word instead of ~150 at plan-construction
        # time. ((b31·2 + b30)·2 + …)·2 + b0 == Σ b_i·2^i exactly
        # (integers < 2^32), with the identical per-bit predicate —
        # the packed words are bit-identical.
        words.append(
            F.aggregate(
                F.sequence(
                    F.lit(w * 32 + 32), F.lit(w * 32 + 1), F.lit(-1)
                ),
                F.lit(0).cast("long"),
                lambda acc, pos: acc * F.lit(2).cast("long")
                + F.when(
                    F.element_at(v, pos) > F.lit(0.0),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )
        )
    return words


def hamming_rerank_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_queries: int = 32,
    n_candidates: int = 20,
) -> DataFrame:
    """Binary-quantization ANN with exact rerank: sign-bit-pack every
    vector into two 32-bit words (64x smaller than the float vector),
    rank the corpus per query by Hamming distance ``bit_count(w0^q0) +
    bit_count(w1^q1)`` — pure integer ops inside codegen — keep the
    ``n_candidates`` closest, then re-score ONLY those candidates with
    exact cosine and emit the top ``k``.

    100 TB design: ONE :func:`_topk_scan` pass packs the sign words,
    ranks each partition's Hamming top-n_candidates per query, and —
    since the float vectors are in hand — scores the exact cosine for
    those partial candidates in the same pass (the former shape
    re-touched the corpus through a broadcast join to fetch vectors for
    the rerank). The driver gathers ≤ partitions × queries ×
    n_candidates rows and makes two :func:`_rank_topk` passes over
    them: (hamming ASC, id ASC) keeps the true candidate set, then
    (sim DESC, id ASC) emits the top k. Bit-parity: packing is the
    identical ``x > 0`` bit predicate (ints exact), sims are
    :func:`_cosine`.
    Output: (query_id, neighbor_id, hamming, rank) — integers plus a
    cosine-ordered rank, ties by neighbor_id."""

    def build(q: _Queries):
        partials = _topk_scan(
            _corpus(embeddings),
            q,
            n_candidates,
            _hamming_scorer(q),
            "hamming long, sim double",
            largest=False,
        )
        cand = _rank_topk(partials, n_candidates, "hamming", largest=False, rank="crank")
        return _rank_topk(cand, k)

    return _with_queries(
        embeddings, num_queries, "query_id long, neighbor_id long, hamming long, rank long", build
    )


def hamming_rerank_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    num_queries: int = 32,
    n_candidates: int = 20,
) -> str:
    pack = lambda w: (  # noqa: E731 — bit i of half-word w, exact sum of distinct powers
        f"list_sum(list_transform(v[{w * 32 + 1}:{w * 32 + 32}],"
        f" (x, i) -> CASE WHEN x > 0 THEN (1::BIGINT << CAST(i - 1 AS INT)) ELSE 0::BIGINT END))"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
p AS (SELECT vec_id, COALESCE({pack(0)}, 0) AS w0, COALESCE({pack(1)}, 0) AS w1 FROM e),
ham AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS BIGINT) AS hamming
  FROM p q JOIN p c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {num_queries}
),
cand AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id) AS crank
    FROM ham
  ) WHERE crank <= {n_candidates}
)
SELECT query_id, neighbor_id, hamming, CAST(rank AS BIGINT) AS rank FROM (
  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         row_number() OVER (
             PARTITION BY cand.query_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, cand.neighbor_id
         ) AS rank
  FROM cand
  JOIN e c ON c.vec_id = cand.neighbor_id
  JOIN e q ON q.vec_id = cand.query_id
) WHERE rank <= {k}
"""


def label_centroid_topk(
    embeddings: DataFrame, k: int = 5, scale: int = 1024
) -> DataFrame:
    """Nearest documents to each LABEL CENTROID — the "find me more
    like this class" retrieval shape (few-shot data selection, cluster
    naming, prototype audit). Exact across engines: vectors are
    fixed-point quantized (``round(x*scale)`` int64, the gram-matrix
    lattice), each label's centroid is the INTEGER SUM vector (same
    direction as the mean, so cosine ranking is identical), and the
    score ``dot / sqrt(q·q)`` is an integer-exact dot followed by two
    exactly-rounded IEEE ops — bit-identical in any engine. (The
    centroid's own norm is constant per label and cannot change its
    ranking.)

    100 TB design: centroids are labels × dims cells from one map-side-
    combinable aggregate, reassembled into 10 array rows and BROADCAST
    against the corpus scan; the per-label top-k window sees only
    (label, vec_id, score) rows. Output: (label, vec_id, rank,
    same_label)."""
    q = embeddings.select(
        "vec_id",
        F.col("label").alias("vlabel"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * scale, 0).cast("long"),
        ).alias("q"),
    ).transform(_spread)
    cells = q.select(
        F.col("vlabel").alias("label"), F.posexplode("q").alias("d", "qv")
    )
    cent = (
        cells.groupBy("label", "d")
        .agg(F.sum("qv").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "s"))), lambda x: x["s"]
            ).alias("c")
        )
    )
    dot = F.aggregate(
        F.zip_with("c", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qq = F.aggregate(
        F.zip_with("q", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = q.join(F.broadcast(cent)).select(
        "label",
        "vec_id",
        "vlabel",
        (dot.cast("double") / F.sqrt(qq.cast("double"))).alias("score"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "label",
            "vec_id",
            "rank",
            (F.col("vlabel") == F.col("label")).alias("same_label"),
        )
    )


def label_centroid_topk_sql(
    table: str = "embeddings", k: int = 5, scale: int = 1024
) -> str:
    return f"""
WITH q AS (
  SELECT vec_id, label AS vlabel,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {scale}) AS BIGINT)) AS q
  FROM {table}
),
cells AS (
  SELECT vlabel AS label,
         unnest(range(1, len(q) + 1)) AS d,
         unnest(q) AS qv
  FROM q
),
cent AS (
  SELECT label, list(s ORDER BY d) AS c FROM (
    SELECT label, d, CAST(sum(qv) AS BIGINT) AS s FROM cells GROUP BY label, d
  ) GROUP BY label
),
scored AS (
  SELECT cent.label, q.vec_id, q.vlabel,
         CAST(list_sum(list_transform(cent.c, (x, i) -> x * q.q[i])) AS DOUBLE)
             / sqrt(CAST(list_sum(list_transform(q.q, x -> x * x)) AS DOUBLE)) AS score
  FROM q CROSS JOIN cent
)
SELECT label, vec_id, CAST(rank AS BIGINT) AS rank, (vlabel = label) AS same_label
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY label ORDER BY score DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""
