"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k as the exact baseline, and approximate
variants (IVF, LSH, JL projection, Hamming rerank, PQ) as the scale
path.

Beyond-reference scale extension (SURVEY §7 M7). Every top-k member,
the PQ/IVF-PQ code scans included, runs ONE partition-local top-k
kernel (:func:`_topk_scan`; numpy, strict left-to-right dot products
— for brute force only on the rows a fast ``einsum`` screen cannot rule
out — and a HALF_UP lattice for bit-parity with the DuckDB twins) and merges
its partials on the driver (:func:`_rank_topk`, REPOSE's
prune-locally-then-merge shape); the result is a LocalRelation. The
k-means codebooks (IVF, PQ, IVF-PQ) train in ONE Lloyd loop
(:func:`_lloyd`: each round one per-batch pass of :func:`_nearest`
assignments and partial sums, merged on the driver) and vectors are
assigned or encoded by one pass (:func:`_codes`). Every per-batch pass
runs through one runner (:func:`_on_batches`), where the search or
training input was placed once (:func:`_scan_input`):

- **gathered**: a scan input no larger than
  ``spark.sql.autoBroadcastJoinThreshold`` (the size Spark would
  broadcast) and :data:`GATHER_MAX_BYTES` (the measured point where
  the one-thread driver kernel stops beating parallel tasks) is
  brought to the driver by :func:`_bcast.gather`; the queries, the
  codebook seeds and the label centroids come from that table and
  every pass runs over its batches on the driver, with no Python
  worker. A Parquet corpus of float or double vectors (a ``label``
  column carried beside it) is read from its files, so these members
  train, encode and search with no job; other inputs are collected
  with one ``toArrow()`` job.
- **scatter-gather**: otherwise the query set (small by construction)
  is collected and carried in the task closure, each corpus partition
  is scored in ONE ``mapInArrow`` pass emitting only its top-k per
  query, and those ≤ partitions × queries × k partial rows are
  collected. Two jobs (queries, scan; the label centroids' partial
  sums take the place of the queries), one more for a centroid seed
  pick and one per Lloyd round; the corpus is never joined or
  shuffled.
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

import weakref
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._bcast import gather, gathers
from .text_analysis import md5int, md5int_py, md5int_sql
from ..localrel import arrow_schema, values_df
from ..persist import has_committed_batches, materialize

EMBED_DIM = 64
NUM_PLANES = 16
LSH_BANDS = 2
BAND_BITS = NUM_PLANES // LSH_BANDS


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1] for plane ``p``,
    dim ``d`` — the md5int of ``"plane<p>_<d>"`` reduced mod 2001."""
    return ((md5int_py(f"plane{p}_{d}") % 2001) - 1000) / 1000.0


PLANES: list[list[float]] = [
    [_plane_weight(p, d) for d in range(EMBED_DIM)] for p in range(NUM_PLANES)
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


#: input frame → {(carry, is_cached): its :func:`_corpus` scan frame}
_SCANS: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()


def _corpus(embeddings: DataFrame, *carry: str) -> DataFrame:
    """(vec_id, v array<double>, *carry): a scan's input at its natural
    partitioning, with the ``carry`` columns (a ``label``) uncast.

    One frame per input frame, ``carry`` and ``embeddings.is_cached``,
    memoized weakly on the input frame, so every search over one corpus
    builds, analyzes and optimizes its scan once (Spark keeps the
    optimized plan and its statistics on the frame) and hands
    :func:`_bcast.gather` the same frame to reuse its read. A
    ``cache()``/``unpersist()`` of the input frame after a search gets
    a frame of its own, planned against the cache manager as it then
    is; the entry goes with the input frame."""
    scans = _SCANS.setdefault(embeddings, {})
    key = (carry, embeddings.is_cached)
    if key not in scans:
        scans[key] = embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"), *carry
        )
    return scans[key]


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

    One :func:`_topk_scan` corpus pass, merged on the driver by
    :func:`_rank_topk` into a LocalRelation. A corpus within
    ``spark.sql.autoBroadcastJoinThreshold`` and :data:`GATHER_MAX_BYTES`
    is gathered and scanned on the driver (no job for a Parquet
    corpus, else one, which ``spark.driver.maxResultSize`` still
    guards), a larger one is scanned by ``mapInArrow`` with the queries
    in the task closure (two jobs); neither shuffles, and all give the
    same rows (:func:`_with_queries`). Bit-parity: every row that can
    reach a query's top-k, or tie with its k-th, is scored by
    :func:`_pair_cos` (strict left-to-right dots, single IEEE
    norm-multiply/divide — the exact ``aggregate(zip_with)`` values).
    Which rows can is decided by a screen (:func:`_brute_scorer`): one
    fast ``einsum`` cosine matrix per batch, and a margin of twice its
    proven error bound around each query's (k+1)-th fast score, so the
    fast scores choose candidates and never ranks. No query rows
    (e.g. ``num_queries=0``) gives an empty frame, built on the
    driver.

    A zero-norm vector's cosine (0/0) ranks as -1.0, the DuckDB twin's
    ``list_cosine_similarity`` value, in every member of the family."""

    def build(q: _Queries, corpus):
        return _rank_topk(_topk_scan(corpus, q, k, _brute_scorer(q, k)), k)

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
    centroids are picked from the same scan input (on the driver when
    it is gathered, so a Parquet corpus runs no job) and ride in the
    scorer, the pass assigns cells and scores only the probed
    candidates in numpy (n_centroids/n_probe fewer cosines than brute
    force), emitting partition-local top-k partials that
    :func:`_rank_topk` merges on the driver; candidate sims are
    :func:`_pair_cos`."""

    def build(q: _Queries, corpus):
        return _rank_topk(_ivf_scan(corpus, q, k, n_centroids, (n_probe,)), k)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def _ivf_probe_lists(book: tuple, vecs, norms, max_p: int) -> list:
    """Per query vector, the top-``max_p`` probed cells as a list of
    (centroid INDEX into the cid-ascending ``book`` (cids, centroids),
    probe_rn) — the former ``slice(array_sort(struct(negsim, cid)), 1,
    n_probe)``: :func:`_cos_csim` DESC, then cid ASC by a stable sort of
    the cid-ascending cells, ±0.0 comparing equal, and a zero query's 0/0
    cosines -1.0 (:func:`_nan_to_floor`), as in the DuckDB twins."""
    import numpy as np

    c_mat = book[1]
    with np.errstate(invalid="ignore"):
        csim = _cos_csim(np.asarray(vecs, dtype=np.float64), np.asarray(norms), c_mat, _seq_norms(c_mat))
    order = np.argsort(-_nan_to_floor(csim), axis=1, kind="stable")[:, :max_p]
    return [[(int(idx), rn + 1) for rn, idx in enumerate(row)] for row in order]


def _seeds(scan, n: int):
    """The md5-min seed pick of every codebook here: the ``n`` rows of
    the scan input with the smallest (md5int(vec_id), vec_id) —
    engine-portable, the DuckDB twins' ``ORDER BY md5, vec_id LIMIT n``
    — as one Arrow record batch of (vec_id, v), ascending by vec_id.
    Picked on the driver from a gathered table; a frame runs one
    ``orderBy().limit()`` job, the scatter side's."""
    import numpy as np
    import pyarrow as pa

    if isinstance(scan, DataFrame):
        ordered = scan.orderBy(md5int(F.col("vec_id").cast("string")), "vec_id")
        rows = ordered.limit(n).select("vec_id", "v").collect()
        top = pa.table(
            {
                "vec_id": pa.array([r.vec_id for r in rows], pa.int64()),
                "v": pa.array([r.v for r in rows], pa.list_(pa.float64())),
            }
        )
    else:
        ids = scan["vec_id"].to_numpy()
        h = np.fromiter((md5int_py(str(i)) for i in ids.tolist()), np.int64, len(ids))
        top = scan.take(np.lexsort((ids, h))[:n])
    top = top.sort_by("vec_id")
    return pa.record_batch([top["vec_id"].combine_chunks(), top["v"].combine_chunks()], names=["vec_id", "v"])


def _ivf_scan(corpus, q: _Queries, k: int, n_centroids: int, probes):
    """The :func:`_topk_scan` partials over ``corpus`` (query_id,
    neighbor_id, sim, probe_rn) of the md5-seeded IVF at every probe
    level in ``probes``, its centroids the raw vectors of the
    :func:`_seeds` of the same scan input; the query probe lists are
    derived driver-side with the identical float arithmetic."""
    seeds = _seeds(corpus, n_centroids)
    book = (_batch_np(seeds, "vec_id"), _batch_mat(seeds, "v", -1))
    probe_lists = _ivf_probe_lists(book, q.vecs, q.norms, max(probes))
    return _topk_scan(
        corpus,
        q,
        k,
        _ivf_scorer(book, q, probe_lists, tuple(probes)),
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

    def build(q: _Queries, corpus):
        import numpy as np
        import pyarrow as pa

        cand = _ivf_scan(corpus, q, k, n_centroids, probes)
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

#: The columns of a :func:`_lloyd` codebook.
_BOOK_DDL = "sub int, cid long, cv array<double>"


def _lattice(batch, dim: int, coarse=None):
    """The ``round(v*1000)`` lattice of a batch's ``v`` — integral
    doubles, :func:`_round_half_up` being Spark ``round()``'s HALF_UP
    — and None; given a ``coarse`` (ccids, centroids) quantizer, each
    row's residual against its :func:`_nearest` ``"d2"`` centroid (an
    integral subtraction, exact) and that centroid's ccid. ``dim`` is
    :func:`_batch_mat`'s, so a NULL or ragged vector raises naming its
    vec_id."""
    mat = _round_half_up(_batch_mat(batch, "v", dim) * KMEANS_QUANT)
    if coarse is None:
        return mat, None
    near = _nearest(mat, coarse[1], "d2")
    return mat - coarse[1][near], coarse[0][near]


def _nearest(mat, cents, metric: str, norms=None):
    """Each row of ``mat``'s nearest centroid among the rows of the
    cid-ascending matrix ``cents``, as an index: for ``"cos"`` the first
    argmax of :func:`_cos_csim` (``norms``, the rows'
    :func:`_seq_norms`, computed when not given; a 0/0 cosine ranks as
    -1.0, :func:`_nan_to_floor`), for ``"d2"`` the first argmin of the
    squared L2 distance, exact on lattice values under any summation
    order. The first occurrence is the smallest cid: the DuckDB twins'
    ``ORDER BY score, cid``."""
    import numpy as np

    if metric == "cos":
        if norms is None:
            norms = _seq_norms(mat)
        return _nan_to_floor(_cos_csim(mat, norms, cents, _seq_norms(cents))).argmax(axis=1)
    d2 = np.empty((len(mat), len(cents)))
    for j, c in enumerate(cents):
        diff = mat - c
        d2[:, j] = (diff * diff).sum(axis=1)
    return d2.argmin(axis=1)


def _lloyd(spark, scan, k: int, n_iters: int, metric: str, n_subs: int = 1, coarse=None) -> DataFrame:
    """The k-means (Lloyd) codebook of a :func:`_scan_input` ``scan``,
    as a LocalRelation of :data:`_BOOK_DDL`: ``n_subs`` books of up to
    ``k`` centroids over the :func:`_lattice` of every row (its residual
    when a ``coarse`` quantizer is given), cut into ``n_subs``
    contiguous subvectors. The seeds are the :func:`_seeds` rows, each
    giving every book its subvector. Each of ``n_iters`` rounds assigns
    every subvector to its :func:`_nearest` centroid and moves each
    centroid to the mean of its members — for ``"d2"`` rounded back onto
    the lattice with :func:`_round_half_up` — and a centroid that loses
    all its members drops out: the DuckDB twins'
    (:func:`_kmeans_cte_parts`, :func:`_lloyd_sql_parts`) codebook bit
    for bit. The counts and sums are of integral doubles below 2^53, so
    exact in any order, and a mean is the twins' one IEEE division.

    A round is one :func:`_on_batches` pass emitting each batch's
    (sub, cid, n, s) member counts and sums, merged on the driver: no
    job over a gathered table, one ``mapInArrow`` job over a frame, and
    the corpus is never shuffled. No seed (an empty corpus, ``k`` 0) or
    an empty ``coarse`` gives an empty codebook."""
    import numpy as np
    import pyarrow as pa

    seeds = _seeds(scan, k)
    if not seeds.num_rows or (coarse is not None and not len(coarse[0])):
        return values_df(spark, [], _BOOK_DDL)
    mat, _ = _lattice(seeds, -1, coarse)
    dim = mat.shape[1]
    if dim % n_subs:
        raise ValueError(f"vectors of {dim} values do not split into {n_subs} subs")
    width = dim // n_subs
    cut = [slice(s * width, (s + 1) * width) for s in range(n_subs)]
    ids = _batch_np(seeds, "vec_id")
    books = [(ids, mat[:, c]) for c in cut]
    for _ in range(n_iters):

        def sums(batches, books=books):
            for batch in (b for b in batches if b.num_rows):
                mat, _ = _lattice(batch, dim, coarse)
                subs, cids, counts, totals = [], [], [], []
                for s, (ids, cents) in enumerate(books):
                    part = mat[:, cut[s]]
                    near = _nearest(part, cents, metric)
                    order = np.argsort(near, kind="stable")
                    j, start = np.unique(near[order], return_index=True)
                    subs.append(np.full(len(j), s, np.int32))
                    cids.append(ids[j])
                    counts.append(np.diff(start, append=len(near)))
                    totals += list(np.add.reduceat(part[order], start, axis=0))
                arrays = [pa.array(np.concatenate(a)) for a in (subs, cids, counts)]
                arrays.append(pa.array(totals, pa.list_(pa.float64())))
                yield pa.record_batch(arrays, names=["sub", "cid", "n", "s"])

        parts = _on_batches(scan, sums, "sub int, cid long, n long, s array<double>")
        sub, cid, n = (parts[c].to_numpy() for c in ("sub", "cid", "n"))
        total = parts["s"].combine_chunks().flatten().to_numpy().reshape(-1, width)
        moved = []
        for s, (ids, cents) in enumerate(books):
            at = sub == s
            j = _positions(ids, cid[at])
            count = np.bincount(j, n[at], len(ids))
            acc = np.zeros(cents.shape)
            np.add.at(acc, j, total[at])
            live = count > 0
            means = acc[live] / count[live, None]
            moved.append((ids[live], _round_half_up(means) if metric == "d2" else means))
        books = moved
    rows = [(s, int(c), [float(x) for x in cv]) for s, (ids, cents) in enumerate(books) for c, cv in zip(ids, cents)]
    return values_df(spark, rows, _BOOK_DDL)


def _read_book(book: DataFrame, n_subs: int = 1, cid: str = "cid", cv: str = "cv") -> list:
    """The (cids ascending, centroid matrix) of each sub 0..``n_subs``-1
    of a codebook frame: a :func:`_lloyd` book, the k-means (cid, cv,
    cnorm), the PQ (sub, cid, cv) or, with ``cid="ccid", cv="ccv"``, the
    coarse layout (no ``sub`` column: sub 0). Every sub is empty when
    the frame is. A LocalRelation (a book trained in this session) is
    read on the driver; a persisted one runs one small job. Other subs
    than 0..``n_subs``-1 raise ValueError."""
    import numpy as np

    sub = F.col("sub") if "sub" in book.columns else F.lit(0)
    rows = sorted(((int(s), int(c), v) for s, c, v in book.select(sub, cid, cv).collect()), key=lambda r: r[:2])
    subs = sorted({r[0] for r in rows})
    if rows and subs != list(range(n_subs)):
        raise ValueError(f"the codebook has subs {subs}, expected 0..{n_subs - 1}")
    out = []
    for s in range(n_subs):
        these = [r for r in rows if r[0] == s]
        mat = np.asarray([r[2] for r in these], dtype=np.float64) if these else np.zeros((0, 0))
        out.append((np.asarray([r[1] for r in these], dtype=np.int64), mat))
    return out


def _codes(spark, scan, books: list, metric: str, coarse=None, with_v: bool = False) -> DataFrame:
    """The code rows (vec_id[, ccid], sub, code[, v]) of a
    :func:`_scan_input` ``scan`` against ``books`` (:func:`_read_book`):
    for each vector and sub, the cid of its subvector's :func:`_nearest`
    centroid on the :func:`_lattice` — the residual against the nearest
    ``coarse`` cell, whose ccid the rows carry, when given; ``with_v``
    carries the raw vector. One :func:`_on_batches` pass: a gathered
    table is encoded on the driver (no job) into one partition of a
    LocalRelation, a frame by ``mapInArrow``. An empty codebook or
    quantizer encodes nothing, as the DuckDB twins' joins with it do."""
    import numpy as np
    import pyarrow as pa

    ccid = ", ccid long" if coarse is not None else ""
    ddl = f"vec_id long{ccid}, sub int, code long" + (", v array<double>" if with_v else "")
    if not all(len(ids) for ids, _ in books) or (coarse is not None and not len(coarse[0])):
        return values_df(spark, [], ddl)
    n_subs, width = len(books), books[0][1].shape[1]

    def encode(batches):
        for batch in (b for b in batches if b.num_rows):
            mat, cells = _lattice(batch, n_subs * width, coarse)
            code = [
                ids[_nearest(mat[:, s * width : (s + 1) * width], cents, metric)]
                for s, (ids, cents) in enumerate(books)
            ]
            rows = np.repeat(np.arange(batch.num_rows), n_subs)
            cols = [_batch_np(batch, "vec_id")[rows]] + ([] if cells is None else [cells[rows]])
            cols += [np.tile(np.arange(n_subs, dtype=np.int32), batch.num_rows), np.stack(code, axis=1).ravel()]
            arrays = [pa.array(c) for c in cols]
            if with_v:
                arrays.append(batch.column(batch.schema.get_field_index("v")).take(pa.array(rows)))
            yield pa.record_batch(arrays, names=_ddl_names(ddl))

    out = _on_batches(scan, encode, ddl, collect=False)
    if isinstance(out, DataFrame):
        return out
    # one partition, as the gathered corpus is one table: a LocalRelation
    # scans as defaultParallelism slices, so many files and tasks apiece
    return values_df(spark, out, ddl).coalesce(1)


def kmeans_codebook(
    embeddings: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Spherical k-means (Lloyd) codebook: (cid, cv, cnorm), a
    LocalRelation.

    Seeding is the deterministic md5-min pick (engine-portable); each
    refinement assigns every ``round(v*1000)`` lattice vector to its
    max-cosine centroid and recomputes centroids as element-wise means
    (:func:`_lloyd`: per-batch partial sums merged on the driver, the
    centroids in the pass's closure). A broadcast-sized Parquet corpus
    trains on the driver with no job; a scattered one runs one job for
    the seed pick and one per round, and is never shuffled. Centroids
    that lose all members drop out (standard Lloyd behavior, mirrored
    by the oracle).

    Assignment ranks are cosine comparisons with strict left-to-right
    dots (:func:`_seq_dots`) — post-round-1 means are not integral, and
    a blocked sum could flip a rank — so they reproduce across engines;
    the means are exact integer-sum averages. cnorm is
    ``sqrt(aggregate(zip_with(cv, cv)))``, folded on the driver."""
    book = _lloyd(embeddings.sparkSession, _scan_input(embeddings), n_centroids, n_iters, "cos")
    return book.select("cid", "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cnorm"))


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

    One :func:`_topk_scan` pass over the default corpus scan (the
    seeded-IVF scan of :func:`ivf_topk` over the trained codebook): the
    LocalRelation codebook collects driver-only, query probe lists
    derive driver-side with the identical quantized-cosine arithmetic
    (HALF_UP lattice, struct ordering via Python tuple compare), and
    the pass assigns cells on each batch's lattice while scoring probed
    candidates on the raw vectors — partition-local top-k partials that
    :func:`_rank_topk` merges on the driver. The codebook trains on the
    same scan input (:func:`_lloyd`), so a Parquet corpus runs no job."""

    def build(q: _Queries, corpus):
        import numpy as np

        book = _read_book(_lloyd(embeddings.sparkSession, corpus, n_centroids, n_iters, "cos"))[0]
        # probe lists on the QUANTIZED lattice (the assignment geometry)
        lattice = _round_half_up(np.asarray(q.vecs, dtype=np.float64) * KMEANS_QUANT)
        probe_lists = _ivf_probe_lists(book, lattice, _seq_norms(lattice), n_probe)
        partials = _topk_scan(
            corpus,
            q,
            k,
            _ivf_scorer(book, q, probe_lists, (n_probe,), quantized=True),
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
    (n_centroids grows with the corpus to bound nᵢ). The codebook trains
    on the scan input (:func:`_lloyd`) and one :func:`_codes` pass
    assigns each vector, carrying its raw values (on the driver into a
    LocalRelation when the corpus is gathered); ONE exchange groups
    each cluster, and a grouped Arrow pass computes the within-cluster
    dominance with :func:`_cos_csim` (the ``aggregate(zip_with)``
    cosine bit for bit). A pathologically hot cluster is the operator's
    documented skew risk (raise n_centroids — the grouped pass
    row-chunks its similarity slabs, so memory is bounded, but a single
    cid is still one task)."""
    spark = embeddings.sparkSession
    scan = _scan_input(embeddings)
    book = _read_book(_lloyd(spark, scan, n_centroids, n_iters, "cos"))
    cells = _codes(spark, scan, book, "cos", with_v=True)
    return cells.groupBy("code").applyInArrow(
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
    :func:`_pair_cos`."""

    def build(q: _Queries, corpus):
        return _rank_topk(_topk_scan(corpus, q, k, _lsh_scorer(q)), k)

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


# Bit-parity with the DuckDB twins (what lets every codebook, code and
# rank hash-match):
# - integer-lattice arithmetic (round(v*1000) vectors, PQ and IVF-PQ
#   residuals, d2 distances, ADC sums): every product and sum is an
#   integral double below 2^53, so numpy's blocked/SIMD summation order
#   CANNOT change a value; argmin first occurrence over cid-ascending
#   centroid rows == ``ORDER BY d2, cid``.
# - cosines (the k-means codebook's assignment, IVF cells): centroid
#   means after round 1 are NOT integral, so dots accumulate strictly
#   left-to-right across dimensions (_seq_dots) — the order of
#   F.aggregate(zip_with(...)) and DuckDB's list kernels — then one IEEE
#   multiply and one divide for the norm step; argmax first occurrence
#   over cid-ascending rows == ``ORDER BY csim DESC, cid``.
# - centroid updates: sums are exact integers and the mean is the one
#   IEEE division; lattice rounding is _round_half_up, an exact fraction
#   test, Spark round()'s HALF_UP bit for bit.


def _round_half_up(x):
    """Spark's ``round(x, 0)`` on doubles (DuckDB's ``round(x)``),
    elementwise over a float or a float64 array, bit for bit: HALF_UP,
    halves away from zero. ``x - trunc(x)`` is exact, so the half test
    sees the true fraction (0.49999999999999994 rounds to 0, where
    ``floor(x + 0.5)`` gives 1); NaN and ±inf pass through, and the
    final ``+ 0.0`` turns a -0.0 into Spark's 0.0."""
    import numpy as np

    t = np.trunc(x)
    with np.errstate(invalid="ignore"):  # inf - inf: inf passes through
        return t + np.copysign(np.abs(x - t) >= 0.5, x) + 0.0


def _batch_mat(batch, name: str, dim: int, dtype: str = "float64"):
    """(n × dim) ``dtype`` matrix from a fixed-width list column of an
    Arrow record batch (offsets honored via flatten; ``dim`` -1 is the
    longest row's length). A NULL row, or one of another length, raises
    ValueError naming the first such row's vec_id (its position in a
    batch without one), its length and ``dim`` — on the driver for a
    gathered corpus, from the task for a scattered one. Flattening
    alone would not: a NULL beside a row ``dim`` values too long
    reshapes to ``n × dim`` with every row between them shifted."""
    import numpy as np
    import pyarrow.compute as pc

    col = batch.column(batch.schema.get_field_index(name))
    n = len(col)
    lengths = pc.list_value_length(col).fill_null(-1).to_numpy()
    if n and dim < 0:
        dim = int(lengths.max())
    bad = np.flatnonzero((lengths != dim) | (lengths < 0))
    if len(bad):
        i = int(bad[0])
        ids = batch.schema.get_field_index("vec_id")
        row = f"vec_id {batch.column(ids)[i].as_py()}" if ids >= 0 else f"row {i}"
        length = "NULL" if lengths[i] < 0 else int(lengths[i])
        raise ValueError(f"{row}: {name} has length {length}, expected {dim}")
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
    BLAS summation could differ in the last bit and flip a rank. Each
    step reads one contiguous row of ``b``'s transpose and accumulates
    into preallocated buffers: the same products, in the same order,
    as ``acc += np.multiply.outer(a[:, d], b[:, d])``."""
    import numpy as np

    at = np.ascontiguousarray(a.T)
    bt = np.ascontiguousarray(b.T)
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    prod = np.empty(acc.shape, dtype=np.result_type(a, b))
    for d in range(at.shape[0]):
        np.multiply(at[d][:, None], bt[d], out=prod)
        np.add(acc, prod, out=acc)
    return acc


def _pair_dots(a, b, ai, bi):
    """The dots ``a[ai[j]]·b[bi[j]]`` of the index pairs ``(ai, bi)``,
    each accumulated strictly left-to-right as ``acc = acc + a[ai, d] *
    b[bi, d]``: for each pair, its :func:`_seq_dots` cell bit for bit
    (the same products, added in the same order), computed for only the
    pairs asked for, 1,024 pairs at a time so a chunk's products stay
    in cache."""
    import numpy as np

    out = np.empty(len(ai), dtype=np.float64)
    for s in range(0, len(ai), 1024):
        prod = a[ai[s : s + 1024]] * b[bi[s : s + 1024]]
        acc = np.zeros(len(prod), dtype=np.float64)
        for d in range(prod.shape[1]):
            acc = acc + prod[:, d]
        out[s : s + 1024] = acc
    return out


def _pair_cos(qm, qn, vecs, norms, qi, ri):
    """Exact cosines of the (query ``qi``, row ``ri``) pairs: the strict
    :func:`_pair_dots`, one IEEE norm multiply, one IEEE divide — the
    ``aggregate(zip_with)`` value, and the :func:`_cos_csim` cell."""
    return _pair_dots(qm, vecs, qi, ri) / (qn[qi] * norms[ri])


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


class _Queries(NamedTuple):
    """The ANN queries as driver data, ascending by id: query rows of
    the scan input as a matrix, their :func:`_seq_norms`, and ``rows``,
    their Arrow table with every scan column (a carried ``label``); or
    other query vectors (the label centroids), with no rows."""

    ids: list[int]
    vecs: object
    norms: object
    rows: object = None


#: The largest scan input (optimized-plan ``sizeInBytes``) an ANN search
#: gathers to the driver, where its kernel runs on one thread. Measured
#: on a 4-core VM (``local[4]``, 64-d corpora in 8 row groups, 32
#: queries, k=10, median wall of 5): the driver path was faster than
#: scatter-gather up to ~24 MB for brute force (0.84 vs 0.99 s at
#: 23.7 MB; 1.22 vs 0.98 s at 29.7 MB), LSH and seeded IVF, ~30 MB for
#: Hamming and ~16 MB for JL's lattice input (1.87 vs 2.22 s at
#: 12.4 MB; 2.33 vs 2.08 s at 18.6 MB). Except JL above 18 MB, it used
#: less process-tree CPU at every size to 66 MB. More cores only speed
#: up the scatter side, so the cap sits at the lowest crossover.
GATHER_MAX_BYTES = 16 * 1024 * 1024


def _with_queries(embeddings: DataFrame, num_queries: int, out_ddl: str, build, carry=()):
    """The ANN family's driver step: call ``build(q, scan)`` for the
    :class:`_Queries` of the query rows (vec_id < ``num_queries``) of
    the :func:`_scan_input` ``scan``, and return its result — an Arrow
    table with the ``out_ddl`` columns, or tuples in their order — as a
    LocalRelation (collecting the result launches no job). The query
    rows are filtered on the driver from a gathered scan input, or
    collected from a scattered one — ≤32 rows by construction — so the
    scan can carry them in its task closure: two jobs.

    All give the same rows. No query rows gives an empty ``out_ddl``
    frame, built on the driver without calling ``build``;
    ``num_queries ≤ 0`` decides that before touching the corpus."""
    spark = embeddings.sparkSession
    if num_queries <= 0:
        return values_df(spark, [], out_ddl)
    scan = _scan_input(embeddings, carry)
    return _answer(spark, _query_rows(scan, num_queries), out_ddl, lambda q: build(q, scan))


def _answer(spark, rows, out_ddl: str, build):
    """``build(q)`` for the :class:`_Queries` of the Arrow table
    ``rows`` (vec_id, v, …), as a LocalRelation of the ``out_ddl``
    columns: an empty one, without calling ``build``, when there are
    no rows. The query matrix is :func:`_batch_mat`'s, as wide as the
    longest row, so a NULL or short query vector raises naming its
    vec_id."""
    if not rows.num_rows:
        return values_df(spark, [], out_ddl)
    rows = rows.sort_by("vec_id").combine_chunks()
    vecs = _batch_mat(rows.to_batches()[0], "v", -1)
    top = build(_Queries(rows["vec_id"].to_pylist(), vecs, _seq_norms(vecs), rows))
    if not isinstance(top, list):
        top = top.select(_ddl_names(out_ddl))
    return values_df(spark, top, out_ddl)


def _scan_input(embeddings: DataFrame, carry=()):
    """The ANN family's one placement decision (:func:`_bcast.gathers`
    with :data:`GATHER_MAX_BYTES`) on its scan input, the
    :func:`_corpus` of ``embeddings`` with the ``carry`` columns: one
    the rule accepts is brought to the driver with
    :func:`_bcast.gather` — the same frame, so its plan is built and
    optimized once — and returned as that Arrow table, where
    :func:`_topk_scan` runs: a Parquet corpus of float or double
    vectors is read from its files and widened by an Arrow cast, no
    job; any other input runs one. Otherwise the frame is returned,
    for a scatter-gather scan.

    A repeat search of one input frame repeats only the decision: the
    scan frame is :func:`_corpus`'s memo (plan and statistics built
    once), and the rule reads the auto-broadcast threshold on every
    call, so a search after a threshold change places itself anew. A
    gathered Parquet corpus whose files still stat alike is the table
    :func:`_bcast.gather` kept, not a re-read."""
    scan = _corpus(embeddings, *carry)
    if gathers(scan, GATHER_MAX_BYTES):
        return gather(scan)
    return scan


def _query_rows(scan, num_queries: int):
    """The rows with vec_id < ``num_queries`` of a scan input, every
    column, as an Arrow table: filtered on the driver from a gathered
    table, or collected from a frame with one ``toArrow()`` — the
    scatter side's query collect."""
    import pyarrow.compute as pc

    if isinstance(scan, DataFrame):
        return scan.where(F.col("vec_id") < num_queries).toArrow()
    return scan.filter(pc.less(scan["vec_id"], num_queries))


def _ddl_names(ddl: str) -> list[str]:
    return [part.split()[0] for part in ddl.split(",")]


def _topk_sel(ids, sims, k: int, largest: bool):
    """Positions of the per-partition top-``k`` by (sim, id asc) —
    ``largest`` picks sim DESC (the cosine/dot rankings), else ASC
    (distances). Only keys ≤ the k-th smallest (``np.partition``) can
    be selected, so the (key, id) lexsort — np.lexsort's last key is
    primary — runs on those alone; equal sims (including ±0.0, which
    compare equal) fall to the id key, exactly the :func:`_rank_topk`
    merge ordering these partials feed."""
    import numpy as np

    key = -sims if largest else sims
    cand = np.arange(len(key))
    if len(key) > k:
        cand = np.nonzero(key <= np.partition(key, k - 1)[k - 1])[0]
    return cand[np.lexsort((ids[cand], key[cand]))[:k]]


def _nan_to_floor(a):
    """``a`` with NaN — the 0/0 cosine of a zero-norm side — replaced by
    -1.0, the value DuckDB's ``list_cosine_similarity`` gives it."""
    import numpy as np

    return np.where(np.isnan(a), -1.0, a) if a.dtype.kind == "f" else a


#: A scorer's ``pos`` when every row of the batch is a candidate, and
#: its ``levels`` when there is one subset: all the candidates.
_EVERY_ROW = slice(None)
_ONE_LEVEL = (True,)


def _no_extra(qi, ri) -> tuple:
    return ()


def _topk_scan(
    corpus, q: _Queries, k: int, score, cols="sim double", largest=True, carry=(), drop_own=True
):
    """The ANN family's top-k scan kernel: ONE vectorized corpus pass
    emitting, per batch and query, the top-``k`` rows (query_id,
    neighbor_id, *cols), returned to the driver as one Arrow table.
    Where it runs is the placement :func:`_with_queries` chose:
    ``corpus`` is either an Arrow table already gathered to the driver
    (a scan input the placement rule accepts; the kernel runs over its
    batches here, no job) or a DataFrame scanned
    by ``mapInArrow`` with the queries in the task closure (one job, no
    shuffle). Any global top-k row is in its batch's top-k, so the
    driver-side :func:`_rank_topk` merge gives the same rows either way
    from ≤ batches × queries × k partials (``spark.driver.maxResultSize``
    caps the scattered ones); the corpus is never joined or shuffled
    (REPOSE's prune-locally-then-merge shape).

    ``score(batch)`` is the operator's scorer. It returns ``(cands,
    extra)``. ``cands`` gives, for each query in ``q.ids`` order,
    ``(pos, scores, levels)``: ``pos``, the candidate rows of the batch
    (``_EVERY_ROW`` for all); ``scores``, their values of the first of
    ``cols``; and ``levels``, nested candidate subsets as boolean masks
    over ``pos`` — the top-k of each is kept and their union emitted
    (``_ONE_LEVEL`` is the plain top-k). ``extra(qi, ri)`` gives the
    other ``cols`` for the emitted (query index, batch row) pairs, all
    of the batch's at once, computed for those pairs only.

    Filter, then refine: a scorer may leave out rows that provably
    cannot reach the top-k. The brute-force scorer screens with a fast
    cosine ``f`` (an ``einsum``, any summation order) and rescores only
    the rows with ``f ≥ T − 2δ``, ``T`` the query's (k+1)-th fast score
    in the batch, with the strict-order cosine ``e``. Margin: by the
    standard bound for a length-``n`` dot in any order, each dot is
    within ``γ_n·‖x‖‖y‖`` of the true one (``γ_n = nu/(1−nu)``, ``u =
    2⁻⁵³``), so the fast and strict dots differ by at most
    ``2γ_n·‖x‖‖y‖``; both are divided by the same computed norm product
    ``D ≥ ‖x‖‖y‖(1−γ_n)(1−u)³`` and rounded once more, so ``|f − e| ≤
    2(γ_n + u + uγ_n)/((1−γ_n)(1−u)³) < δ = 2(n+3)u`` (for n = 64,
    about 130u against 134u; the slack also absorbs rounding ``T − 2δ``
    and, within :func:`_screenable`'s range, underflow). Proof sketch:
    at least k + 1 rows have ``f ≥ T``, so at least k rows other than
    the query's own have ``e ≥ T − δ``, so the k-th exact score ``E``
    is at least ``T − δ``; a row in the exact top-k or tied with the
    k-th has ``e ≥ E``, hence ``f ≥ e − δ ≥ T − 2δ``, and is
    rescored. The selection among the rescored rows is then the
    selection among all rows. A zero vector's 0/0 is NaN in both and
    -1.0 after the mapping below.

    The kernel owns the rest: the vec_id decode, dropping the query's
    own row (unless not ``drop_own``: queries that are not corpus rows),
    mapping NaN to -1.0 in every float column before selecting and
    emitting (:func:`_nan_to_floor`, so a zero vector ranks as in the
    DuckDB twins whatever the partitioning), the (score, id) selection
    (:func:`_topk_sel`, score DESC when ``largest``), the selected rows'
    ``carry`` columns, taken from the batch as they are (a NULL label
    stays NULL), and the record batch."""
    qids = q.ids
    names = ["query_id", "neighbor_id", *_ddl_names(cols), *carry]

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        qarr = np.asarray(qids, dtype=np.int64)
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = _batch_np(batch, "vec_id")
            every = np.arange(batch.num_rows)
            cands, extra = score(batch)
            qi, ri, sc = [], [], []
            for j, (pos, scores, levels) in enumerate(cands):
                rows = every[pos]
                nbr = ids[rows]
                scores = _nan_to_floor(scores)
                own = nbr != qarr[j] if drop_own else np.ones(len(nbr), dtype=bool)
                picked = []
                for lv in levels:
                    cand = np.nonzero(lv & own)[0]
                    picked.append(cand[_topk_sel(nbr[cand], scores[cand], k, largest)])
                sel = np.unique(np.concatenate(picked))
                qi.append(np.full(len(sel), j))
                ri.append(rows[sel])
                sc.append(scores[sel])
            qi, ri = np.concatenate(qi), np.concatenate(ri)
            arrays = [qarr[qi], ids[ri], np.concatenate(sc)]
            arrays = [pa.array(a) for a in arrays + [_nan_to_floor(x) for x in extra(qi, ri)]]
            if carry:
                rows = pa.array(ri)
                arrays += [batch.column(batch.schema.get_field_index(c)).take(rows) for c in carry]
            yield pa.record_batch(arrays, names=names)

    return _on_batches(corpus, fn, f"query_id long, neighbor_id long, {cols}", carry)


def _on_batches(scan, fn, ddl: str, carry=(), collect: bool = True):
    """The module's one placed batch pass: ``fn``, a generator from
    Arrow record batches of the scan input to record batches of the
    ``ddl`` columns and then the ``carry`` columns of ``scan`` (of their
    type), run where :func:`_scan_input` placed ``scan``. A gathered
    Arrow table's batches run here on the driver, no job, and the
    result is an Arrow table; a frame runs ``fn`` in one ``mapInArrow``
    pass, collected with ``toArrow()`` (one job; the callers emit
    partials bounded by batches × k) — or, unless ``collect``, returned
    as that frame, for a per-row pass that a later stage consumes."""
    import numpy as np
    import pyarrow as pa

    if isinstance(scan, DataFrame):
        ddl += "".join(f", {c} {scan.schema[c].dataType.simpleString()}" for c in carry)
        out = scan.mapInArrow(fn, ddl)
        return out.toArrow() if collect else out
    schema = arrow_schema(ddl)
    for c in carry:
        schema = schema.append(pa.field(c, scan.schema.field(c).type))
    # a zero-norm row's 0/0 cosine is expected (mapped to -1.0 where scored)
    with np.errstate(invalid="ignore"):
        return pa.Table.from_batches(fn(scan.to_batches()), schema)


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


def _popcount32(a):
    """Set bits of each int64 in ``a`` (all in [0, 2^32)), by SWAR bit
    counting — exact integer arithmetic."""
    a = a - ((a >> 1) & 0x55555555)
    a = (a & 0x33333333) + ((a >> 2) & 0x33333333)
    a = (a + (a >> 4)) & 0x0F0F0F0F
    return ((a * 0x01010101) & 0xFFFFFFFF) >> 24


def _per_query(qi, nq: int, *arrays) -> list:
    """``arrays``, aligned with the query indices ``qi`` — ascending, as
    ``np.nonzero`` of a queries × rows mask gives them — split into one
    tuple of slices per query of the ``nq``."""
    import numpy as np

    bounds = np.cumsum(np.bincount(qi, minlength=nq))[:-1]
    return list(zip(*(np.split(a, bounds) for a in arrays)))


def _screenable(vecs, norms) -> bool:
    """Whether the summation-error bound of :func:`_brute_scorer`'s
    screen holds for these rows: every value finite, and each row all
    zeros or of a norm in [2^-250, 2^250] — so no product or square
    overflows, and underflow's absolute error (≤ 2^-1075 per product)
    is below 2^-500 of any norm product, far inside the margin's
    slack."""
    import numpy as np

    zero = norms == 0
    in_range = (norms >= 2.0**-250) & (norms <= 2.0**250)
    return bool((zero | in_range).all()) and not vecs[zero].any()


def _brute_scorer(q: _Queries, k: int):
    """Every row that can reach a query's top-``k``, scored by exact
    cosine (:func:`_pair_cos`: strict left-to-right dots over the exact
    :func:`_seq_norms`, one IEEE multiply and divide — the
    ``aggregate(zip_with)`` value, bit for bit).

    Filter, then refine (the screen :func:`_topk_scan` describes): one
    non-BLAS ``einsum`` queries × rows cosine matrix per batch, any
    summation order, NaN → -1.0; per query, only the rows whose fast
    score is within ``2δ`` of the query's (k+1)-th fast score are
    rescored exactly and yielded, ``δ = 2(dim+3)·2⁻⁵³`` bounding the
    fast-minus-exact error of any cosine. A batch of at most ``k + 1``
    rows, or one where the bound can fail (:func:`_screenable`: a
    non-finite value, underflow, overflow), skips the screen: every row
    is scored exactly. Never BLAS (``@``, ``np.dot``):
    the driver runs without ``OMP_NUM_THREADS``, and OpenBLAS's idle
    threads spin after each call."""
    import numpy as np

    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = np.asarray(q.norms, dtype=np.float64)
    delta = 2 * (qm.shape[1] + 3) * 2.0**-53
    queries_ok = _screenable(qm, qn)

    def score(batch):
        vecs = _batch_mat(batch, "v", qm.shape[1])
        norms = _seq_norms(vecs)
        if len(vecs) <= k + 1 or not (queries_ok and _screenable(vecs, norms)):
            keep = np.ones((len(qm), len(vecs)), dtype=bool)
        else:
            fast = np.einsum("id,jd->ij", qm, vecs, optimize=False) / np.multiply.outer(qn, norms)
            fast = _nan_to_floor(fast)
            kth = np.partition(fast, len(vecs) - k - 1, axis=1)[:, len(vecs) - k - 1]
            keep = fast >= (kth - 2 * delta)[:, None]
        qi, ri = np.nonzero(keep)
        exact = _pair_cos(qm, qn, vecs, norms, qi, ri)
        return ((pos, s, _ONE_LEVEL) for pos, s in _per_query(qi, len(qm), ri, exact)), _no_extra

    return score


def _ivf_scorer(book: tuple, q: _Queries, probe_lists: list, levels, quantized: bool = False):
    """Rows whose cell is one of the query's probed cells at the
    deepest of ``levels``, scored by exact cosine (:func:`_pair_cos`,
    every query's candidates in one call), with one subset per level
    (probe_rn ≤ p) and the extra ``probe_rn`` column. A row's cell is
    its :func:`_nearest` ``"cos"`` centroid of the cid-ascending
    ``book`` (cids, centroids), taken on the ``round(v*1000)`` lattice
    (:func:`_round_half_up`) when ``quantized`` — the trained
    codebook's geometry — else on v. A vector lives in one cell, so a
    (query, neighbor) pair is emitted at most once per batch."""
    import numpy as np

    c_mat = book[1]
    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = np.asarray(q.norms, dtype=np.float64)
    max_p = max(levels)
    # centroid index → probe_rn per query (0 = not probed)
    rnmaps = np.zeros((len(qm), len(c_mat)), dtype=np.int32)
    for j, plist in enumerate(probe_lists):
        for idx, rn in plist:
            rnmaps[j, idx] = rn

    def score(batch):
        vecs = _batch_mat(batch, "v", qm.shape[1])
        norms = _seq_norms(vecs)
        if quantized:
            amax = _nearest(_round_half_up(vecs * KMEANS_QUANT), c_mat, "cos")
        else:
            amax = _nearest(vecs, c_mat, "cos", norms)
        prn = rnmaps[:, amax]  # (num_queries × rows)
        qi, ri = np.nonzero((prn >= 1) & (prn <= max_p))
        sims = _pair_cos(qm, qn, vecs, norms, qi, ri)
        cands = (
            (pos, s, [p <= lv for lv in levels])
            for pos, s, p in _per_query(qi, len(qm), ri, sims, prn[qi, ri])
        )
        return cands, lambda qi, ri: (rnmaps[qi, amax[ri]],)

    return score


def _jl_scorer(q: _Queries, out_dim: int):
    """Every row, scored by its EXACT int64 dot product with the query
    in the ``out_dim``-axis JL projection of the integral
    ``round(v*1000)`` lattice (any summation order is exact). Rows and
    queries share the HALF_UP lattice rounding (:func:`_round_half_up`),
    the rows' computed per batch from v."""
    import numpy as np

    signs = np.asarray(_jl_matrix(out_dim, EMBED_DIM), dtype=np.int64)
    qq = _round_half_up(np.asarray(q.vecs, dtype=np.float64) * KMEANS_QUANT)
    qproj = qq.astype(np.int64) @ signs.T  # (num_queries × out_dim), exact int64

    def score(batch):
        vecs = _batch_mat(batch, "v", signs.shape[1])
        lattice = _round_half_up(vecs * KMEANS_QUANT).astype(np.int64)
        sims = (lattice @ signs.T) @ qproj.T  # (n × num_queries), exact
        return ((_EVERY_ROW, sims[:, j], _ONE_LEVEL) for j in range(len(qproj))), _no_extra

    return score


def _lsh_scorer(q: _Queries):
    """Rows sharing ANY band value with the query — an OR over bands,
    so a pair sharing both counts once — scored by exact cosine
    (:func:`_pair_cos`, every query's candidates in one call). Plane
    dots accumulate left-to-right against the PLANES literals under
    :func:`_bucket_col`'s ``> 0`` predicate."""
    import numpy as np

    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = np.asarray(q.norms, dtype=np.float64)
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
        qi, ri = np.nonzero((bands[None, :, :] == qb[:, None, :]).any(axis=2))
        sims = _pair_cos(qm, qn, vecs, _seq_norms(vecs), qi, ri)
        return ((pos, s, _ONE_LEVEL) for pos, s in _per_query(qi, len(qm), ri, sims)), _no_extra

    return score


def _hamming_scorer(q: _Queries):
    """Every row, scored by the Hamming distance between its two
    32-bit sign words and the query's (bit i of word w ⇔ v[w*32+i] > 0,
    missing trailing dims read as 0, like :func:`_sign_words`); the
    extra ``sim`` column is the exact cosine of the selected pairs only
    (:func:`_pair_cos`, one call per batch), for the rerank."""
    import numpy as np

    qm = np.asarray(q.vecs, dtype=np.float64)
    qn = np.asarray(q.norms, dtype=np.float64)
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
        cands = (
            (_EVERY_ROW, _popcount32(w0 ^ q0) + _popcount32(w1 ^ q1), _ONE_LEVEL) for q0, q1 in qw
        )
        return cands, lambda qi, ri: (_pair_cos(qm, qn, vecs, norms, qi, ri),)

    return score


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


def _dominance_fn(threshold: float):
    """applyInArrow body for one semantic-dedup cluster: (vec_id, v, …)
    rows → (vec_id, keep_id, n_dupes) for every vector dominated by a
    lower-id cluster neighbor with cosine ≥ threshold.

    Bit-parity with the pair expression of the twin: each chunk of rows
    is scored against the cluster by :func:`_cos_csim` over the
    :func:`_seq_norms` — strict left-to-right dots, one IEEE multiply
    and one divide, the ``aggregate(zip_with)`` cosine. Row-chunked so
    the similarity slab is bounded (~16M cells) however hot the
    cluster."""

    def fn(table):
        import numpy as np
        import pyarrow as pa

        ids = table.column("vec_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        flat = table.column("v").combine_chunks().flatten().to_numpy(
            zero_copy_only=False
        )
        mat = np.asarray(flat, dtype=np.float64).reshape(n, -1)[order]
        norms = _seq_norms(mat)
        out_id, out_keep, out_n = [], [], []
        chunk = max(1, 16_000_000 // max(1, n))
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            hits = _cos_csim(mat[s:e], norms[s:e], mat, norms) >= threshold
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
    exact integral squared-L2, and the centroid update
    rounds the element-wise mean back onto the integer lattice — so
    every quantity in training, encoding, and ADC scoring is an
    integral double and the DuckDB twin reproduces codebooks, codes,
    and scores BIT-FOR-BIT with no float-summation-order caveats (a
    strictly stronger parity guarantee than the cosine codebook above).

    All ``n_subs`` codebooks train in ONE :func:`_lloyd` loop: each
    round is one pass over the scan input that assigns every subvector
    and emits per-batch (sub, cid) partial sums, merged on the driver —
    no job for a broadcast-sized Parquet corpus, one per round (and
    one for the seeds) for a scattered one. Seeds are the md5-min pick
    of whole vectors (one seed set, each contributing its subvector to
    every subspace book)."""
    return _lloyd(embeddings.sparkSession, _scan_input(embeddings), k, n_iters, "d2", n_subs)


def pq_encode(
    embeddings: DataFrame, codebooks: DataFrame, n_subs: int = PQ_SUBS
) -> DataFrame:
    """(vec_id, sub, code): nearest-codeword assignment per subspace —
    the 8-byte-per-vector compressed representation (ties by smallest
    cid). One :func:`_codes` pass, the ``n_subs`` books in its closure:
    a broadcast-sized Parquet corpus is encoded on the driver with no
    job, a larger one by ``mapInArrow`` — no row expansion, no
    exchange."""
    scan = _scan_input(embeddings)
    return _codes(embeddings.sparkSession, scan, _read_book(codebooks, n_subs), "d2")


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

    The query rows are taken as :func:`_with_queries` takes them, and
    no query row returns before training. The codebooks train and the
    corpus is encoded over the same scan input (:func:`_lloyd`,
    :func:`_codes`); the search is :func:`_adc_topk`, one
    :func:`_topk_scan` pass over the codes with the queries' lookup
    tables in the scorer: the corpus is never joined or shuffled by
    value, and the scan reads 8 longs per vector instead of 64 doubles
    — the 8× scan-compression that makes billion-vector ANN fit in
    memory at 1000 executors."""

    def build(q: _Queries, corpus):
        spark = embeddings.sparkSession
        books = _lloyd(spark, corpus, n_codewords, n_iters, "d2", n_subs)
        codes = _codes(spark, corpus, _read_book(books, n_subs), "d2")
        return _adc_topk(q, codes, books, k, n_subs)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def _adc_topk(
    q: _Queries, codes: DataFrame, books: DataFrame, k: int, n_subs: int, coarse=None, n_probe: int = 1
):
    """The PQ family's search: the top-``k`` rows per query by (ADC,
    neighbor_id), self-matches excluded, from ONE :func:`_topk_scan`
    pass over the long (vec_id[, ccid], sub, code) table ``codes`` —
    IVF-PQ when the ``coarse`` (ccid, ccv) quantizer is given, probing
    ``n_probe`` cells per query; plain PQ is one all-zeros cell.

    The scan input has one row per vector, its code rows grouped into
    ``sc`` once, so every batch holds whole vectors; it is placed like
    every ANN scan input (:func:`_bcast.gathers` with
    :data:`GATHER_MAX_BYTES`). The scorer is :func:`_adc_scorer`. An
    empty codebook (an index built on an empty corpus) ranks nothing:
    no rows, no scan."""
    import numpy as np

    books = _read_book(books, n_subs)
    if not len(books[0][0]):
        return []
    cols = ["sub", "code"] + (["ccid"] if coarse is not None else [])
    scan = codes.groupBy("vec_id").agg(F.array_sort(F.collect_list(F.struct(*cols))).alias("sc"))
    if gathers(scan, GATHER_MAX_BYTES):
        scan = gather(scan)
    cells = (np.zeros(1, np.int64), np.zeros((1, q.vecs.shape[1])))
    if coarse is not None:
        cells = _read_book(coarse, 1, "ccid", "ccv")[0]
    score = _adc_scorer(q, books, n_subs, cells, n_probe)
    partials = _topk_scan(scan, q, k, score, "adc double", largest=False)
    return _rank_topk(partials, k, "adc", largest=False)


def _adc_scorer(q: _Queries, books: list, n_subs: int, cells: tuple, n_probe: int):
    """ADC scores, Σ_sub ``LUT[query, probe, sub, code]``, of the rows
    of a batch of :func:`_adc_topk`'s scan input whose cell one of the
    query's ``n_probe`` probes is, as one level. The probes and lookup
    tables are built here, on the driver: a query probes the cells of
    ``cells`` (:func:`_read_book`) nearest to its ``round(v*1000)``
    lattice (:func:`_round_half_up`, Spark ``round()``'s HALF_UP) by
    (squared L2, ccid), and a probe's tables are the squared L2 of its
    residual's subvectors to the ``books`` codewords.
    Every lattice value, residual, distance and sum is an integral
    double below 2^53, so no summation order can change a score: the
    DuckDB twins' values, bit for bit.

    A row without one code row for each sub 0..``n_subs``-1 (a vector
    appended twice), or with a code its sub's book lacks, raises
    ValueError naming the vec_id — on the driver for a gathered scan
    input, from the task for a scattered one."""
    import numpy as np

    lattice = _round_half_up(np.asarray(q.vecs, dtype=np.float64) * KMEANS_QUANT)
    subdim = books[0][1].shape[1]
    if lattice.shape[1] != n_subs * subdim:
        raise ValueError(f"query vectors have {lattice.shape[1]} values, the books {n_subs} × {subdim}")
    ccids, cc_mat = np.asarray(cells[0], dtype=np.int64), cells[1]
    diff = lattice[:, None, :] - cc_mat[None]
    # stable: a distance tie goes to the smaller ccid (ascending rows)
    probes = np.argsort((diff * diff).sum(axis=2), axis=1, kind="stable")[:, :n_probe]
    resid = lattice[:, None, :] - cc_mat[probes]
    cids = [np.asarray(books[s][0], dtype=np.int64) for s in range(n_subs)]
    # lut[query, probe, sub, codeword]; a sub's book may have fewer
    # codewords than another's (a centroid that lost its members)
    lut = np.zeros(probes.shape + (n_subs, max(map(len, cids))))
    for s in range(n_subs):
        part = resid[:, :, None, s * subdim : (s + 1) * subdim] - books[s][1]
        lut[:, :, s, : len(cids[s])] = (part * part).sum(axis=3)
    # probe slot of each (query, cell), -1 where not probed; cell -1, a
    # ccid the quantizer lacks, reads the last column
    slot = np.full((len(lattice), len(ccids) + 1), -1)
    np.put_along_axis(slot, probes, np.arange(probes.shape[1])[None, :], axis=1)

    def score(batch):
        ids, fields = _batch_np(batch, "vec_id"), _adc_codes(batch, n_subs)
        codes = fields["code"].reshape(-1, n_subs)
        idx = np.stack([_positions(cids[s], codes[:, s]) for s in range(n_subs)], axis=1)
        if (idx < 0).any():
            i, s = np.argwhere(idx < 0)[0]
            raise ValueError(f"vec_id {ids[i]}: sub {s} code {codes[i, s]} is not in the books")
        ccid = fields["ccid"][::n_subs] if "ccid" in fields else np.zeros(len(ids), dtype=np.int64)
        probe = slot[:, _positions(ccids, ccid)]
        qi, ri = np.nonzero(probe >= 0)
        adc = lut[qi[:, None], probe[qi, ri][:, None], np.arange(n_subs), idx[ri]].sum(axis=1)
        return ((pos, a, _ONE_LEVEL) for pos, a in _per_query(qi, len(lattice), ri, adc)), _no_extra

    return score


def _positions(keys, values):
    """Each of ``values``' index in the ascending array ``keys``, -1
    where it is absent."""
    import numpy as np

    pos = np.minimum(np.searchsorted(keys, values), len(keys) - 1)
    return np.where(keys[pos] == values, pos, -1)


def _adc_codes(batch, n_subs: int) -> dict:
    """{field: values} of the ``sc`` code-row lists of a batch of
    :func:`_adc_topk`'s scan input, flattened, ``n_subs`` per vector in
    sub order. A vector without one code row for each sub raises
    ValueError naming its vec_id and its code-row count."""
    import numpy as np
    import pyarrow.compute as pc

    col = batch.column(batch.schema.get_field_index("sc"))
    rows = col.flatten()
    fields = {f.name: a.to_numpy(zero_copy_only=False) for f, a in zip(rows.type, rows.flatten())}
    counts = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(counts != n_subs)
    if not len(bad):
        bad = np.flatnonzero((fields["sub"].reshape(-1, n_subs) != np.arange(n_subs)).any(axis=1))
    if len(bad):
        vec_id, n = _batch_np(batch, "vec_id")[bad[0]], counts[bad[0]]
        raise ValueError(f"vec_id {vec_id}: {n} code rows, expected one for each sub 0..{n_subs - 1}")
    return fields


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
    (:func:`_lloyd`; the coarse stage is simply n_subs=1), and the
    residual of an integral vector minus an integral centroid is
    integral, so every trained centroid, code, and ADC score reproduces
    bit-for-bit in the DuckDB twin. Output: (query_id, neighbor_id,
    rank) among scanned candidates; ties by neighbor_id.

    Scale shape on top of :func:`pq_topk`: candidate scoring now only
    touches vectors in the query's probed cells (corpus/n_coarse ×
    n_probe expected), and the per-vector read is still 8 longs — the
    n_coarse/n_probe scan cut and the 8× compression COMPOSE. The
    residual codebook is shared across cells (standard IVFADC). The
    query rows are taken as :func:`_with_queries` takes them (no query
    row returns before training); their probes and lookup tables are
    built on the driver and the search is :func:`_adc_topk`'s one scan
    over the codes."""

    def build(q: _Queries, corpus):
        coarse, books, codes = _ivfpq_train(embeddings.sparkSession, corpus, n_coarse, n_subs, n_codewords, n_iters)
        return _adc_topk(q, codes, books, k, n_subs, coarse, n_probe)

    return _with_queries(embeddings, num_queries, _TOPK_DDL, build)


def _ivfpq_train(spark, scan, n_coarse: int, n_subs: int, n_codewords: int, n_iters: int):
    """(coarse, books, codes) of IVF-PQ over a :func:`_scan_input`
    ``scan``: the coarse (ccid, ccv) and residual (sub, cid, cv)
    quantizers, both integer-lattice :func:`_lloyd` LocalRelations (the
    residual books over each vector's residual against its nearest
    cell), and the (vec_id, ccid, sub, code) :func:`_codes` — what
    :func:`ivfpq_topk` searches and :func:`write_ivfpq_index`
    persists. A gathered corpus trains and encodes with no job."""
    coarse = _lloyd(spark, scan, n_coarse, n_iters, "d2").select(
        F.col("cid").alias("ccid"), F.col("cv").alias("ccv")
    )
    cells = _read_book(coarse, 1, "ccid", "ccv")[0]
    books = _lloyd(spark, scan, n_codewords, n_iters, "d2", n_subs, cells)
    return coarse, books, _codes(spark, scan, _read_book(books, n_subs), "d2", cells)


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
    arithmetic the builder ran) and write the codes as
    :func:`_append_index` does. Returns the batch id used."""
    encode = lambda read: pq_encode(embeddings, read("books"), n_subs)  # noqa: E731
    return _append_index(embeddings, path, batch_id, encode)


#: The code-row columns of the two persisted index layouts.
_PQ_CODES = ["vec_id", "sub", "code"]
_IVFPQ_CODES = ["vec_id", "ccid", "sub", "code"]


def read_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(books, codes) of a persisted PQ index, codes the live long
    (vec_id, sub, code) table of :func:`_live_codes` — the full
    lifecycle contract :func:`read_ivfpq_index` serves, on the plain-PQ
    layout."""
    return spark.read.parquet(f"{path}/books"), _live_codes(spark, path, _PQ_CODES)


def pq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_subs: int = PQ_SUBS,
) -> DataFrame:
    """ADC top-k against a PERSISTED index: queries are (vec_id,
    embedding) rows; scoring reads only the codes table and the books
    — the raw corpus vectors are never touched. Output: (query_id,
    neighbor_id, rank); self-matches (same vec_id) are excluded so
    querying corpus members behaves like :func:`pq_topk`.

    Every query row is collected to the driver (one ``toArrow()``,
    which ``spark.driver.maxResultSize`` guards; none for a plain
    Parquet frame), where its lookup tables are built; the search is
    :func:`_adc_topk`'s one scan over the live codes, so it raises
    ValueError on a vector with more code rows than subs (appended
    twice) or a code not in the books."""
    books, codes = read_pq_index(spark, path)
    build = lambda q: _adc_topk(q, codes, books, k, n_subs)  # noqa: E731
    return _answer(spark, gather(_corpus(queries)), _TOPK_DDL, build)


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
    (:func:`bunsen_spark.streaming.ann.stream_ivfpq_encode`): one
    :func:`_codes` pass, on the driver for a gathered batch."""
    cells = _read_book(coarse, 1, "ccid", "ccv")[0]
    scan = _scan_input(embeddings)
    return _codes(embeddings.sparkSession, scan, _read_book(books, n_subs), "d2", cells)


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
    ccid, sub, code). The raw vectors are read only at build time;
    every later search touches only codes + the two tiny quantizer
    tables (:func:`ivfpq_index_topk`), and streaming arrivals append
    codes against the frozen quantizers without retraining
    (:func:`bunsen_spark.streaming.ann.stream_ivfpq_encode`).
    ``(n_coarse, n_subs, n_codewords, n_iters)`` must stay constant
    per index path. Same integer-lattice Lloyd as :func:`ivfpq_topk`,
    so an index built and searched here reproduces the inline gate's
    arithmetic bit-for-bit. An empty corpus builds an empty index,
    whose searches return no rows."""
    scan = _scan_input(embeddings)
    coarse, books, codes = _ivfpq_train(embeddings.sparkSession, scan, n_coarse, n_subs, n_codewords, n_iters)
    coarse.write.mode(mode).parquet(f"{path}/coarse")
    books.write.mode(mode).parquet(f"{path}/books")
    codes.write.mode(mode).parquet(f"{path}/codes")


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
    base corpus), and write the codes as :func:`_append_index` does.
    Returns the batch id used.

    This is the bulk-ingest half of the index lifecycle a 100 TB
    deployment runs: train once on a base snapshot, then absorb each
    new data drop with ONE bounded encode pass over just the new rows
    (the two tiny quantizer tables in its closure; no shuffle of the
    existing index, which is never read). Quantizer geometry is pinned by
    :func:`write_ivfpq_index`; rebuild when drift audits
    (``operators/drift.py``) say the frozen cells stopped fitting."""
    encode = lambda read: ivfpq_encode(embeddings, read("coarse"), read("books"), n_subs)  # noqa: E731
    return _append_index(embeddings, path, batch_id, encode)


def _append_index(embeddings: DataFrame, path: str, batch_id: int | None, encode) -> int:
    """The batch append of both index layouts: write the code rows
    ``encode(read)`` builds (``read(name)`` reads the index's frozen
    ``name`` quantizer) to ``{path}/codes_stream/batch_id={batch_id}``,
    the layout the streaming encoders share
    (:mod:`bunsen_spark.streaming.ann`), with dynamic partition
    overwrite, so a replayed batch id overwrites its own partition
    (idempotent backfill) and the readers merge batch and streaming
    appends alike. When ``batch_id`` is None (default) it is DERIVED
    from a content hash of the appended rows (:func:`_content_batch_id`):
    replays of the same drop stay idempotent, distinct drops never
    collide on a shared default partition, and the derived 63-bit ids
    cannot collide with the small monotonic engine batch ids. A batch id
    that compaction already folded raises — readers would ignore its
    partition — unless derived: that replay's content is already in
    the codes, a no-op. Returns the batch id used."""
    folded = set(_index_manifest(path)["folded_stream_batches"])
    if batch_id is None:
        batch_id = _content_batch_id(embeddings, ("vec_id", "embedding"))
        if batch_id in folded:
            return batch_id  # replay of an already-compacted drop: no-op
    elif batch_id in folded:
        raise ValueError(
            f"batch_id {batch_id} was already folded into the base codes by"
            " compaction; readers ignore its partition, so new data"
            " written under it would be silently invisible. Use a fresh"
            " batch id (or omit it to derive one from the content)."
        )
    spark = embeddings.sparkSession
    (
        encode(lambda name: spark.read.parquet(f"{path}/{name}"))
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
    probed by :func:`persist.has_committed_batches`, a Hadoop-FS check."""
    m = manifest if manifest is not None else _index_manifest(path)
    if not has_committed_batches(spark, f"{path}/tombstones"):
        return None
    t = spark.read.parquet(f"{path}/tombstones")
    folded = m["folded_tombstone_batches"]
    if folded:
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
    m = manifest if manifest is not None else _index_manifest(path)
    base = spark.read.parquet(f"{path}/{m['codes']}").select(*cols)
    if not has_committed_batches(spark, f"{path}/codes_stream"):
        return base
    extra = spark.read.parquet(f"{path}/codes_stream")
    folded = m["folded_stream_batches"]
    if folded:
        extra = extra.where(~F.col("batch_id").isin(folded))
    return base.unionByName(extra.select(*cols))


def _live_codes(spark, path: str, cols: list[str]) -> DataFrame:
    """The live code rows of a persisted index, either layout: the
    :func:`_merged_index_codes` (base generation plus unfolded stream
    partitions) minus the live tombstoned vec_ids
    (:func:`_read_tombstones`), both read under one manifest."""
    m = _index_manifest(path)
    codes = _merged_index_codes(spark, path, cols, m)
    tomb = _read_tombstones(spark, path, m)
    return codes if tomb is None else codes.join(tomb, "vec_id", "left_anti")


def read_ivfpq_index(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coarse, books, codes) of a persisted IVF-PQ index; codes merge
    the manifest's base generation with any unfolded
    ``{path}/codes_stream`` partitions the streaming encoder or batch
    appends added, minus any live tombstoned vec_ids
    (:func:`delete_from_ivfpq_index`) — :func:`_live_codes`."""
    return (
        spark.read.parquet(f"{path}/coarse"),
        spark.read.parquet(f"{path}/books"),
        _live_codes(spark, path, _IVFPQ_CODES),
    )


def _pending_batch_ids(spark, directory: str, folded: list[int]) -> list[int]:
    """Distinct batch ids present under ``directory`` that the manifest
    has not folded yet; [] when it holds no committed batch."""
    if not has_committed_batches(spark, directory):
        return []
    rows = spark.read.parquet(directory).select("batch_id").distinct().collect()
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
    return _compact_index(spark, path, _IVFPQ_CODES)


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
    return _compact_index(spark, path, _PQ_CODES)


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
    cells and ADC-scores ONLY the codes in those cells through its
    residual lookup tables — the raw corpus vectors are never touched,
    and the scan is cut corpus/n_coarse × n_probe on top of the 8-byte
    reads. Output: (query_id, neighbor_id, rank); self-matches
    excluded so querying corpus members behaves like
    :func:`ivfpq_topk`.

    Every query row is collected to the driver (one ``toArrow()``,
    which ``spark.driver.maxResultSize`` guards; none for a plain
    Parquet frame), where its probes and lookup tables are built; the
    search is :func:`_adc_topk`'s one scan over the live codes, so it
    raises ValueError on a vector with more code rows than subs
    (appended twice) or a code not in the books."""
    coarse, books, codes = read_ivfpq_index(spark, path)
    build = lambda q: _adc_topk(q, codes, books, k, n_subs, coarse, n_probe)  # noqa: E731
    return _answer(spark, gather(_corpus(queries)), _TOPK_DDL, build)


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
    nearest OTHER vectors (:func:`brute_force_topk`'s ranking) and
    majority-vote their integer ``label`` column; ties break on the
    smaller label, a NULL label last (the DuckDB twin's ``label ASC``).
    Output: ``(query_id, true_label, pred_label, votes, correct)`` —
    aggregate ``avg(correct)`` is the LOO kNN accuracy.

    Scale: ``label`` rides through the one :func:`_topk_scan` pass, so
    the vote is counted on the driver from the ``num_queries*k`` merged
    neighbours — no join, no window; a Parquet corpus runs no job."""

    def build(q: _Queries, corpus):
        truth, nn = _labelled_neighbors(q, corpus, k)
        tally: dict = {}
        for qid, _, label, _ in nn:
            votes = tally.setdefault(qid, {})
            votes[label] = votes.get(label, 0) + 1
        rows = []
        for qid, votes in tally.items():
            pred, n = min(votes.items(), key=lambda lv: (-lv[1], lv[0] is None, lv[0] or 0))
            true = truth[qid]
            rows.append((qid, true, pred, n, int(true is not None and true == pred)))
        return rows

    ddl = "query_id long, true_label long, pred_label long, votes long, correct long"
    return _with_queries(embeddings, num_queries, ddl, build, ("label",))


def _labelled_neighbors(q: _Queries, corpus, k: int):
    """The query rows' labels ``{query_id: label}`` and their exact-cosine
    top-``k`` as (query_id, neighbor_id, label, rank) tuples by
    (query_id, rank): one :func:`_topk_scan` pass carrying ``label``,
    every value a Python int (labels cast to long) or None for NULL."""
    import pyarrow as pa

    nn = _rank_topk(_topk_scan(corpus, q, k, _brute_scorer(q, k), carry=("label",)), k)
    longs = lambda col: col.cast(pa.int64()).to_pylist()  # noqa: E731
    truth = dict(zip(q.ids, longs(q.rows["label"])))
    return truth, list(zip(*(longs(nn[c]) for c in ("query_id", "neighbor_id", "label", "rank"))))


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

    Scale: the projection is ``out_dim`` integer dots per vector (the
    sign rows are constants — nothing is shuffled or broadcast for the
    matrix); the scoring then touches ``out_dim``-wide vectors instead
    of the full dimension — the classic "project once, scan cheap"
    trade: at 100 TB the projected corpus is dim/out_dim× smaller to
    scan, and recall follows the JL distance-preservation bound rather
    than an inverted-list prune. All arithmetic is integer (products of
    round(x*1000) sums stay far under 2^63 for out_dim·dim ≤ ~10^5), so
    any engine reproduces the ranking bit-for-bit, and so does the
    vectorized pass (int64 lattice: any summation order; numpy and Java
    longs share wrap-around semantics even hypothetically).

    One :func:`_topk_scan` pass over the default corpus scan (a Parquet
    corpus runs no job): the lattice (:func:`_round_half_up`, Spark's
    ``round`` bit for bit), projection and scoring run per batch as
    int64 numpy matmuls (:func:`_jl_scorer`); :func:`_rank_topk` merges
    the partition-local top-k partials on the driver."""

    def build(q: _Queries, corpus):
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

    Scale shape: the codebook trains on the scan input
    (:func:`_lloyd`), and one more :func:`_on_batches` pass assigns
    each vector to its :func:`_nearest` centroid and counts each
    batch's (cid, label) votes, merged on the driver with the majority
    pick (votes DESC, then label ASC, a NULL label last) — state
    bounded by clusters × labels, never corpus rows; a broadcast-sized
    Parquet corpus runs no job. Labels are cast to long as Arrow casts
    (a fraction truncates)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = embeddings.sparkSession
    ddl = "cid long, n_members long, majority_label long, majority_votes long"
    scan = _scan_input(embeddings, ("label",))
    ids, cents = _read_book(_lloyd(spark, scan, n_centroids, n_iters, "cos"))[0]
    if not len(ids):
        return values_df(spark, [], ddl)

    def votes(batches):
        for batch in (b for b in batches if b.num_rows):
            cid = ids[_nearest(_lattice(batch, cents.shape[1])[0], cents, "cos")]
            label = batch.column(batch.schema.get_field_index("label"))
            pairs = pa.table({"cid": cid, "label": pc.cast(label, pa.int64(), safe=False)})
            yield from _count_pairs(pairs, ("cid", "count")).to_batches()

    counts = _count_pairs(_on_batches(scan, votes, "cid long, label long, n long"), ("n", "sum"))
    members, best = {}, {}
    for cid, label, n in zip(*(counts[c].to_pylist() for c in ("cid", "label", "n"))):
        members[cid] = members.get(cid, 0) + n
        key = (n, label is not None, -(label or 0))
        if cid not in best or key > best[cid][0]:
            best[cid] = (key, label, n)
    return values_df(spark, [(c, members[c], lb, n) for c, (_, lb, n) in sorted(best.items())], ddl)


def _count_pairs(table, agg: tuple):
    """(cid, label, n): the ``agg`` (column, function) aggregate of each
    (cid, label) pair of the Arrow ``table``, a NULL label a pair of
    its own."""
    import pyarrow as pa

    out = table.group_by(["cid", "label"]).aggregate([agg])
    return pa.table({"cid": out["cid"], "label": out["label"], "n": out["_".join(agg)]})


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
    ``k``), and a NULL label differs from nothing.

    Scale shape: :func:`knn_label_vote`'s labelled top-k scan, then the
    pick on the driver from the ``num_queries*k`` merged rows — no join,
    no aggregate; a Parquet corpus runs no job."""

    def build(q: _Queries, corpus):
        truth, nn = _labelled_neighbors(q, corpus, k)
        rows, done = [], set()
        for qid, nid, label, rank in nn:
            true = truth[qid]
            if qid not in done and None not in (true, label) and label != true:
                done.add(qid)
                rows.append((qid, true, nid, label, rank))
        return rows

    ddl = "query_id long, true_label long, neg_id long, neg_label long, neg_rank long"
    return _with_queries(embeddings, num_queries, ddl, build, ("label",))


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
    :func:`_pair_cos`.
    Output: (query_id, neighbor_id, hamming, rank) — integers plus a
    cosine-ordered rank, ties by neighbor_id."""

    def build(q: _Queries, corpus):
        partials = _topk_scan(
            corpus,
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
    lattice), each label's centroid (a NULL label has one too) is the
    INTEGER SUM vector (same direction as the mean, so cosine ranking
    is identical), and the score ``dot / sqrt(q·q)`` is an
    integer-exact dot followed by two exactly-rounded IEEE ops —
    bit-identical in any engine. (The centroid's own norm is constant
    per label and cannot change its ranking.) A zero vector has no
    score (the twin's NULL) and ranks last.

    100 TB design: the labels × dims centroid sums (:func:`_label_sums`)
    are the queries of one :func:`_topk_scan` pass carrying each row's
    ``label``, merged per centroid on the driver; a Parquet corpus runs
    no job. Output: (label, vec_id, rank, same_label), ``label`` of the
    input's type: int, long, string, double or boolean."""
    spark = embeddings.sparkSession
    ltype = embeddings.schema["label"].dataType.simpleString()
    ddl = f"label {ltype}, vec_id long, rank long, same_label boolean"
    scan = _scan_input(embeddings, ("label",))
    labels, sums = _label_sums(scan, scale)
    if not labels:
        return values_df(spark, [], ddl)
    # the queries are the centroids, not corpus rows: ids index labels
    q = _Queries(list(range(len(labels))), sums, [])
    scorer = _centroid_scorer(q, scale)
    top = _rank_topk(_topk_scan(scan, q, k, scorer, carry=("label",), drop_own=False), k)
    rows = [
        (labels[i], vec_id, rank, None if None in (own, labels[i]) else own == labels[i])
        for i, vec_id, own, rank in zip(
            *(top[c].to_pylist() for c in ("query_id", "neighbor_id", "label", "rank"))
        )
    ]
    return values_df(spark, rows, ddl)


def _label_sums(scan, scale: int):
    """Each distinct ``label`` of the scan input (NULL is one), and the
    int64 sums of its rows' ``round(v*scale)`` lattice vectors as a
    labels × dims matrix: per-batch partial sums (one
    :func:`_on_batches` pass) merged on the driver."""
    import numpy as np
    import pyarrow as pa

    def partial(batches):
        for batch in (b for b in batches if b.num_rows):
            lattice = _round_half_up(_batch_mat(batch, "v", -1) * scale).astype(np.int64)
            keys, sums = _group_sums(batch.column(batch.schema.get_field_index("label")), lattice)
            yield pa.record_batch([pa.array(list(sums), pa.list_(pa.int64())), keys], names=["s", "label"])

    parts = _on_batches(scan, partial, "s array<long>", ("label",))
    if not parts.num_rows:
        return [], []
    keys, sums = _group_sums(parts["label"].combine_chunks(), np.asarray(parts["s"].to_pylist()))
    return keys.to_pylist(), sums


def _group_sums(keys, mat):
    """The distinct values of the Arrow array ``keys`` (NULL is one), in
    first-seen order, and for each the int64 sum of the rows of ``mat``
    with that key."""
    import numpy as np
    import pyarrow.compute as pc

    uniq = pc.unique(keys)
    gid = pc.index_in(keys, value_set=uniq, skip_nulls=False).to_numpy()
    sums = np.zeros((len(uniq), mat.shape[1]), dtype=np.int64)
    np.add.at(sums, gid, mat)
    return uniq, sums


def _centroid_scorer(q: _Queries, scale: int):
    """Every row, scored against each query — a label centroid, its
    int64 sum vector in ``q.vecs`` — by ``dot / sqrt(q·q)`` on the row's
    ``round(v*scale)`` lattice: int64-exact dots, then one IEEE sqrt and
    one divide, the DuckDB twin's expression bit for bit. A zero row
    (q·q = 0, whose score the twin leaves NULL) scores -inf, last —
    not the kernel's -1.0, which these unbounded scores can pass."""
    import numpy as np

    cents = np.asarray(q.vecs, dtype=np.int64)

    def score(batch):
        vecs = _batch_mat(batch, "v", cents.shape[1])
        lattice = _round_half_up(vecs * scale).astype(np.int64)
        dots = (lattice @ cents.T).astype(np.float64)
        norms = np.sqrt((lattice * lattice).sum(axis=1).astype(np.float64))[:, None]
        sims = np.full(dots.shape, -np.inf)
        np.divide(dots, norms, out=sims, where=norms > 0)
        return ((_EVERY_ROW, sims[:, j], _ONE_LEVEL) for j in range(len(cents))), _no_extra

    return score


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
