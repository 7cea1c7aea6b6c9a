"""Exact set-overlap joins — the lossless counterpart of the LSH/banding
family in `operators/dedup.py`, and the single home of the steps the
whole exact set-overlap family shares.

Beyond-reference scale extension (SURVEY §7 M7 family). MinHash-LSH
(`dedup.py:minhash_lsh_pairs`) is probabilistic: pairs can be missed.
When the pipeline needs EVERY pair above a Jaccard threshold (legal
dedup audits, recall measurement for the LSH path), the classic
scalable exact algorithm is prefix filtering (PPJoin's core, Xiao et
al., WWW 2008): order each record's token set by ascending global
token frequency and index only its first ``|s| - ceil(t*|s|) + 1``
tokens. Two sets with Jaccard ``>= t`` MUST share at least one prefix
token (pigeonhole on the required overlap), so joining on prefix
tokens alone is lossless — and prefixes are built from the RAREST
tokens, so the candidate join avoids the stop-token blowup of a
posting-list pair expansion.

Plan shape (pure Catalyst):

1. token explode + global document-frequency aggregate (map-side
   partial agg; shuffle bounded by distinct tokens per partition).
2. per-doc frequency ordering via one window on ``doc_id`` (unique
   key, no skew) — rank tokens by ``(df ASC, tok ASC)``; keep ranks
   ``<= prefix_len``.
3. candidate generation: self-join of the PREFIX index on the token,
   with the size filter ``t*|a| <= |b| <= |a|/t`` applied inside the
   join, then PPJoin's POSITIONAL filter over the grouped matches —
   a sound intersection upper bound from the last shared prefix
   token's positions that prunes the candidate set by ~2 orders of
   magnitude before verification (see inline proof sketch). Join key
   frequency is bounded by construction — a token this common would
   not be in prefixes — so no salting is needed.
4. exact verification (:func:`exact_intersections`, also the verify of
   the MinHash-LSH operators): one native array-intersection size per
   candidate pair over per-doc distinct token arrays.

At 100 TB: step 1 is the only corpus-wide aggregate; steps 3-4 shuffle
token/candidate rows whose volume prefix filtering keeps near-linear
in the matching pairs. Before step 3 runs, the saturation guard
(:func:`_guarded_prefix_inputs`) bounds its volume from token
histograms and refuses token spaces where it would go quadratic.

Tokens: :func:`prefix_jaccard_pairs` keys its string tokens by
``xxhash64`` when the vocabulary proves the hash injective
(``count(distinct tok) = count(distinct hash)``, checked by one
vocabulary-sized aggregate) and by the string itself otherwise. Either
key is exact, and any ``(df, key)`` order is total, so both filters
stay lossless and the rows do not depend on the key. The hash keys
keep the verify's arrays on longs: over ~17-char shingle strings the
array intersection measured 11.2 → 12.9 s of task time on
``dedup_prefix_jaccard`` at sf0.1. The dedup operators' tokens are
already shingle hashes (the oracle hashes identically), so they are
used as they are.
"""

from __future__ import annotations

from collections import deque
from fractions import Fraction
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..persist import materialize, release
from .text_analysis import WORDS_SQL, words_col


def _lossless_fraction(threshold: float) -> Fraction:
    """A rational ``num/den <= threshold`` with a small denominator —
    used when the prefix/size filters must be LOSSLESS upper bounds for
    a final float-threshold comparison that happens elsewhere (the
    family's operators pin their oracle parity on the exact IEEE
    ``inter/union >= threshold`` double test, so every pre-filter here
    may only relax, never tighten). Small ``den`` keeps the integer
    cross-multiplications (``den * sz``) far from long overflow even at
    per-doc set sizes in the billions."""
    frac = Fraction(threshold).limit_denominator(10**6)
    if frac > Fraction(threshold):
        frac -= Fraction(1, 10**6)
    if frac <= 0:
        raise ValueError("threshold must be positive")
    return frac


def _with_df(toks: DataFrame) -> DataFrame:
    """``(doc_id, tok)`` postings plus each token's document frequency
    ``df`` — one map-side-combinable aggregate joined back."""
    return toks.join(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df")), "tok")


def ranked_tokens(toks: DataFrame, has_df: bool = False) -> tuple[DataFrame, DataFrame]:
    """Shared prefix-filter substrate: rank each document's (distinct)
    tokens under the global ``(df ASC, tok ASC)`` total order — rarest
    first — so prefixes are built from the least-frequent tokens.
    ``toks`` is ``(doc_id, tok)`` with per-doc distinct tokens (any
    orderable token type: strings or hashes); pass ``has_df=True`` when
    it already carries a ``df`` document-frequency column to skip the
    corpus-wide df aggregate+join here. Returns ``(ranked, sizes)``
    where ranked is ``(tok, doc_id, rnk, sz)`` and sizes is
    ``(doc_id, sz)``. The ranking window partitions by ``doc_id``
    (unique key, no skew); the df aggregate is the only corpus-wide
    shuffle and is map-side combinable."""
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if not has_df:
        toks = _with_df(toks)
    ranked = (
        toks.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("tok").asc()
                )
            ),
        )
        .join(sizes, "doc_id")
    )
    return ranked, sizes


def _prefix_rows(ranked: DataFrame, num: int, den: int) -> DataFrame:
    """The PPJoin prefix relation: each doc's first
    ``sz - ceil(t*sz) + 1`` rarest tokens (integer ceil on ``t =
    num/den``). Shared by both candidate generators and the
    saturation probe so the three always agree on what "prefix"
    means. Carries ``df`` so the asymmetric probe can bound the
    prefix×full join without touching the full relation."""
    prefix_len = (
        F.col("sz") - ((F.col("sz") * num + (den - 1)) / den).cast("long") + 1
    )
    return ranked.where(F.col("rnk") <= prefix_len).select(
        "doc_id", "tok", "sz", "rnk", "df"
    )


def prefix_join_volume(
    ranked: DataFrame,
    num: int,
    den: int,
    asymmetric: bool = False,
    prefix: DataFrame | None = None,
) -> int:
    """Upper bound on the candidate-match rows the prefix join would
    produce, computed from TOKEN HISTOGRAMS alone — Θ(distinct tokens),
    never a pair row. This is the cheap df-distribution probe that
    keeps the exact set-join family out of the silent-quadratic regime:
    prefix filtering is only subquadratic when the rarest-prefix
    document frequencies stay O(1), which real Zipf corpora deliver but
    a SATURATED token space (tiny vocabulary, e.g. short n over a
    boilerplate corpus) does not — there every prefix token is shared
    by a constant fraction of the corpus and the join explodes as
    Σ df² ~ n² (PERF.md round-8: the 61-word sf10 fixture put the n=3
    join at ~1e9 candidates, >1500 s).

    ``asymmetric=False`` bounds the Jaccard prefix×prefix self-join
    (Σ c·(c-1)/2 over per-token prefix counts c); ``asymmetric=True``
    bounds the containment prefix×full join (Σ (df−1) over the prefix
    rows — each prefix row meets every OTHER posting of its token, and
    the per-token document frequency already rides on the row, so no
    second full-relation aggregate runs). Both ignore the size and
    positional filters, so they only over-estimate — a volume under
    budget is PROOF the join is safe. Sums run in decimal(38,0): c²
    terms overflow int64 exactly in the regimes the probe exists to
    catch.

    Pass a pre-``materialize``d ``prefix`` (from :func:`_prefix_rows`)
    when the caller will also feed it to a candidate generator — the
    ranking window then executes once for both.

    One 1-row collect — driver coordination, documented; the aggregate
    itself is map-side combinable and vocabulary-sized."""
    if prefix is None:
        prefix = _prefix_rows(ranked, num, den)
    if asymmetric:
        vol = prefix.select(
            F.sum((F.col("df") - 1).cast("decimal(38,0)")).alias("v")
        )
    else:
        pc = prefix.groupBy("tok").agg(F.count(F.lit(1)).alias("p"))
        vol = pc.select(
            F.sum(
                F.col("p").cast("decimal(38,0)") * (F.col("p") - 1) / 2
            ).cast("decimal(38,0)").alias("v")
        )
    row = vol.collect()[0][0]
    return int(row) if row is not None else 0


#: Decision log of the saturation guard, one dict per probed width:
#: ``{"width", "volume", "cap", "admitted", "asymmetric"}``. Appended by
#: every :func:`_guarded_prefix_inputs` call; harnesses (tools/
#: soak_scale.py) drain it to pin the probe's bound and the auto-width
#: choice per scale in a committed artifact, so a regression in either
#: (e.g. after a tokenizer change silently shrinks the token space) is
#: caught mechanically rather than by a wall-clock blowup. Bounded
#: deque (maxlen 64 ≫ the ≤4 widths any single call probes): long-lived
#: sessions running the set-join gates repeatedly must not accumulate
#: entries without end. CONSUMER CONTRACT: clear() immediately before
#: the call whose decisions you want to pin (as tools/soak_scale.py and
#: tools/soak_setjoin_auto.py do) — the tail may otherwise contain
#: entries from unrelated earlier calls.
GUARD_TRACE: "deque[dict]" = deque(maxlen=64)

#: shingle widths ``n="auto"`` tries, narrowest first
AUTO_WIDTHS = (3, 5, 7, 9)


def _guarded_prefix_inputs(
    postings: Callable[[int], DataFrame],
    n: int | str,
    num: int,
    den: int,
    asymmetric: bool,
    candidate_budget: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The saturation guard of every prefix-filtered operator: build
    the postings of width ``n`` with ``postings(n)`` — ``(doc_id, tok,
    df)`` rows, distinct per doc — rank them, then PROBE the prefix
    join's candidate volume from token histograms
    (:func:`prefix_join_volume`) BEFORE running it.

    Prefix filtering is subquadratic only while rarest-prefix document
    frequencies stay small; a saturated token space (tiny vocabulary at
    short n — boilerplate mills, templated corpora) silently degrades
    to the Σ df² ~ n² regime (PERF.md round-8: n=3 on the 61-word sf10
    fixture ≈ 1e9 candidates, >1500 s). The guard costs two
    vocabulary-sized aggregate jobs per tried width — constant work —
    and either proves the join safe or refuses to run it.

    ``n`` may be an int (probe once; raise if over budget) or ``"auto"``
    (escalate through :data:`AUTO_WIDTHS` and use the first width whose
    probed volume fits — wider shingles shrink df geometrically on
    saturated vocab). ``candidate_budget`` defaults to ``max(2_000_000,
    500 · n_docs)``: generous linear headroom, but categorically below
    quadratic. Returns ``(ranked, prefix, sets)``: the ranked postings,
    the MATERIALIZED prefix relation the probe already computed (pass
    it to the candidate generator so the per-doc ranking window
    executes exactly once), and the per-doc token arrays ``(doc_id,
    hs)`` that :func:`exact_intersections` verifies against."""
    if not isinstance(n, int) and n != "auto":
        raise ValueError(f"n must be an int or 'auto', got {n!r}")
    widths = (n,) if isinstance(n, int) else AUTO_WIDTHS
    tried: list[tuple[int, int, int]] = []
    for w in widths:
        posts = materialize(postings(w))
        ranked, sizes = ranked_tokens(posts, has_df=True)
        prefix = materialize(_prefix_rows(ranked, num, den))
        vol = prefix_join_volume(
            ranked, num, den, asymmetric=asymmetric, prefix=prefix
        )
        # the n_docs count job only runs when the absolute floor alone
        # can't already admit the join — the common (healthy-corpus)
        # case pays exactly one probe aggregate
        if candidate_budget is not None:
            cap = candidate_budget
        elif vol <= 2_000_000:
            cap = 2_000_000
        else:
            cap = max(2_000_000, 500 * sizes.count())
        GUARD_TRACE.append(
            {
                "width": w,
                "volume": vol,
                "cap": cap,
                "admitted": vol <= cap,
                "asymmetric": asymmetric,
            }
        )
        if vol <= cap:
            sets = posts.groupBy("doc_id").agg(F.collect_list("tok").alias("hs"))
            return ranked, prefix, sets
        release(prefix)
        release(posts)
        tried.append((w, vol, cap))
    trail = "; ".join(f"n={w}: ~{v:,} candidates (budget {c:,})" for w, v, c in tried)
    raise ValueError(
        "token space is saturated: the rarest-prefix candidate join "
        f"would go quadratic ({trail}). Pass a wider shingle width "
        "(the dedup operators' n='auto' escalates 3→5→7→9), or raise "
        "candidate_budget to force the join anyway."
    )


def jaccard_prefix_candidates(
    ranked: DataFrame, num: int, den: int, prefix: DataFrame | None = None
) -> DataFrame:
    """PPJoin candidate pairs ``(doc_a, doc_b)`` with ``doc_a < doc_b``
    whose Jaccard CAN reach ``num/den`` — lossless by the prefix-filter
    theorem (pigeonhole on the required overlap), tightened by the size
    filter inside the join and the positional filter after it. See the
    module docstring for the plan shape and proof sketches. Pass the
    saturation guard's materialized ``prefix`` to share one ranking
    window with the probe."""
    if prefix is None:
        prefix = _prefix_rows(ranked, num, den)
    a, b = prefix.alias("a"), prefix.alias("b")
    matches = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # size filter: t*|a| <= |b| and |b| <= |a|/t, integer form
        & (F.col("b.sz") * den >= F.col("a.sz") * num)
        & (F.col("b.sz") * num <= F.col("a.sz") * den),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sz").alias("sza"),
        F.col("b.sz").alias("szb"),
        F.col("a.rnk").alias("pa"),
        F.col("b.rnk").alias("pb"),
    )
    # POSITIONAL filter (PPJoin's second filter — the one that makes
    # prefix filtering scale): for a pair, let T be its last shared
    # prefix token. Every shared token outside both prefixes sorts
    # AFTER T (the (df, tok) order is total and identical in both
    # docs), so inter <= cnt + min(sza - max_pa, szb - max_pb). Pairs
    # whose bound cannot reach the threshold never enter verification
    # — measured 309,803 -> ~thousands of candidates at sf0.1. The
    # anchor argument needs REAL token equality in the operator's
    # token space, which every key here has: strings, hash keys proven
    # injective on the vocabulary, or shingle hashes for the
    # hash-defined dedup family (there the hash IS the token).
    bound = F.col("cnt") + F.least(
        F.col("sza") - F.col("pa"), F.col("szb") - F.col("pb")
    )
    return (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("pa").alias("pa"),
            F.max("pb").alias("pb"),
            F.min("sza").alias("sza"),
            F.min("szb").alias("szb"),
        )
        .where(bound * (den + num) >= num * (F.col("sza") + F.col("szb")))
        .select("doc_a", "doc_b")
    )


def containment_prefix_candidates(
    ranked: DataFrame, num: int, den: int, prefix: DataFrame | None = None
) -> DataFrame:
    """Asymmetric prefix filter for containment C(A→B) = |A∩B| / |A|:
    a directed pair with C >= t needs overlap o = ceil(t·|A|), which
    depends only on the CONTAINED side — so index the prefix of each
    doc as a contained-candidate (length |A| - o + 1) and probe it
    against the FULL token lists (the container side has no set-local
    overlap bound: a tiny doc can be contained in any superset). Every
    qualifying directed pair must share a token between prefix(A) and
    full(B); emitting the unordered pair ``(doc_a, doc_b)`` and
    verifying BOTH directions afterwards keeps the filter lossless.
    Candidate volume per token is prefix_df × df — rare-token-biased —
    instead of the df² of a full posting self-join. Size filter inside
    the join: containment needs inter <= min(|A|,|B|) >= t·|A|, i.e.
    |B|·den >= |A|·num."""
    if prefix is None:
        prefix = _prefix_rows(ranked, num, den)
    full = ranked.select("doc_id", "tok", "sz", "rnk")
    a, b = prefix.alias("a"), full.alias("b")
    matches = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & (F.col("b.sz") * den >= F.col("a.sz") * num),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col("a.sz").alias("sza"),
        F.col("b.sz").alias("szb"),
        F.col("a.rnk").alias("pa"),
        F.col("b.rnk").alias("pb"),
    )
    # POSITIONAL filter for the DIRECTED hypothesis A contained-in B
    # (the same PPJoin bound the jaccard candidates use): the (df, tok)
    # order is total and identical in both docs, so every shared token
    # beyond this pair's last matched positions sorts after them and
    # inter <= cnt + min(sza - max_pa, szb - max_pb). A directed pair
    # with C(A→B) >= num/den needs inter >= ceil(num·sza/den); rows
    # whose bound cannot reach it are dropped BEFORE verification.
    # Lossless per direction: each direction's hypothesis is generated
    # from its own contained-side prefix, and the bound only ever
    # over-estimates inter. On the saturated-vocab soak fixture this is
    # the difference between the verify stage seeing every pair that
    # shares one common token and seeing only early-prefix agreements
    # (PERF.md round-8).
    bound = F.col("cnt") + F.least(
        F.col("sza") - F.col("pa"), F.col("szb") - F.col("pb")
    )
    return (
        matches.groupBy("da", "db")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("pa").alias("pa"),
            F.max("pb").alias("pb"),
            F.min("sza").alias("sza"),
            F.min("szb").alias("szb"),
        )
        .where(bound * den >= F.col("sza") * num)
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .distinct()
    )


def exact_intersections(
    cands: DataFrame,
    a_sets: DataFrame,
    b_sets: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """The exact set-overlap family's one verify step: the exact
    intersection size of every candidate pair. ``cands`` holds the
    ``(a, b)`` doc-id pairs; ``a_sets`` and ``b_sets`` hold each side's
    per-doc DISTINCT token arrays ``(doc_id, hs)`` — any token type.
    Returns ``(a, b, inter, sza, szb)``, one row per candidate pair
    (``inter`` may be 0; callers threshold it).

    Two doc-id joins attach the arrays (AQE broadcast-converts the
    doc-count-sized array side from its runtime size when it fits), and
    one native array-intersection size per pair counts the overlap:
    over distinct-element arrays it is exactly |A∩B|. No shuffle carries
    |pairs| × |set| token rows, and no per-pair aggregate runs."""
    ha = a_sets.select(F.col("doc_id").alias(a), F.col("hs").alias("__ha"))
    hb = b_sets.select(F.col("doc_id").alias(b), F.col("hs").alias("__hb"))
    return (
        cands.select(a, b)
        .join(ha, a)
        .join(hb, b)
        .select(
            a,
            b,
            F.size(F.array_intersect("__ha", "__hb")).alias("inter"),
            F.size("__ha").alias("sza"),
            F.size("__hb").alias("szb"),
        )
    )


def _token_hash(tok: Column) -> Column:
    return F.xxhash64(tok)


def _keyed_postings(sets: DataFrame) -> DataFrame:
    """``(doc_id, tok, df)`` postings of the per-doc distinct string
    token arrays ``sets`` = ``(doc_id, __s)``, keyed by
    :func:`_token_hash` when the vocabulary proves it injective and by
    the string itself otherwise (module docstring). The proof is one
    vocabulary-sized aggregate: no hash value may hold two distinct
    tokens (``min(tok) != max(tok)`` per hash), which is
    ``count(distinct tok) = count(distinct hash)`` with one shuffle
    instead of two. It collects one row per colliding hash — none for
    a 64-bit hash short of ~2^32 distinct tokens."""
    toks = materialize(sets.select("doc_id", F.explode("__s").alias("tok")))
    collided = (
        toks.groupBy(_token_hash(F.col("tok")).alias("key"))
        .agg(F.min("tok").alias("lo"), F.max("tok").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("key")
        .collect()
    )
    key = F.col("tok") if collided else _token_hash(F.col("tok"))
    return _with_df(toks.select("doc_id", key.alias("tok")))


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 0,
    candidate_budget: int | None = None,
) -> DataFrame:
    """ALL pairs of documents whose set-Jaccard similarity is
    ``>= threshold`` — exact, no probabilistic misses. The set is the
    distinct words (``shingle_n=0``) or the distinct word n-gram
    shingles (``shingle_n>=2``, the same sets the MinHash family
    banding approximates). Returns ``(doc_a, doc_b, inter, uni)``
    with ``doc_a < doc_b`` and exact intersection / union sizes.

    The pre-filters use a rational lower bound of ``threshold``
    (lossless — they may only relax), and the final test is the IEEE
    double ``inter/uni >= threshold`` the DuckDB twin evaluates too.

    Guarded against the saturated-token regime
    (:func:`_guarded_prefix_inputs`): before the candidate join runs,
    a histogram probe bounds its row count and raises if it exceeds
    ``candidate_budget`` (default ``max(2_000_000, 500 · n_docs)``)
    — prefix filtering is only subquadratic while rarest-prefix dfs
    stay O(1), and this operator's token space is caller-chosen.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    frac = _lossless_fraction(threshold)
    num, den = frac.numerator, frac.denominator
    if shingle_n >= 2:
        from .dedup import _with_shingles

        sets = _with_shingles(docs, shingle_n).select(
            "doc_id", F.col("shingles").alias("__s")
        )
    else:
        sets = docs.select(
            "doc_id", F.array_distinct(words_col(F.col("text"))).alias("__s")
        )
    ranked, prefix, hs = _guarded_prefix_inputs(
        lambda _: _keyed_postings(sets), shingle_n, num, den,
        asymmetric=False, candidate_budget=candidate_budget,
    )
    cands = jaccard_prefix_candidates(ranked, num, den, prefix=prefix)
    return (
        exact_intersections(cands, hs, hs)
        .withColumn("uni", F.col("sza") + F.col("szb") - F.col("inter"))
        .where(F.col("inter") / F.col("uni") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("uni").cast("long").alias("uni"),
        )
    )


def prefix_jaccard_pairs_sql(
    table: str = "documents", threshold: float = 0.5, shingle_n: int = 0
) -> str:
    """DuckDB twin: BRUTE-FORCE all-pairs exact Jaccard — deliberately
    a different algorithm, so the gate also proves the prefix filter
    loses no pair."""
    if shingle_n >= 2:
        from .dedup import shingles_sql

        set_sql = shingles_sql(shingle_n)
    else:
        set_sql = f"list_distinct({WORDS_SQL})"
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({set_sql}) AS tok FROM {table}
), sz AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= {threshold}
"""


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    sort_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood candidate generation — the classic record-
    linkage blocking method: within each block, sort by ``sort_col``
    and emit every pair at most ``window-1`` positions apart. The
    quadratic all-pairs comparison collapses to ``O(n·window)``
    candidates; a verify stage (exact Jaccard, edit distance, a
    model) runs after.

    One window per block (lead at ``1..window-1`` — no self-join at
    all), so the plan is a single shuffle on the block key; per-task
    state is bounded by block size. Blocks are the scale contract: a
    degenerate single-block input serializes into one task, exactly
    like running classic SNM on one machine — pick blocking keys with
    bounded cardinality skew (or pre-salt hot blocks).

    Output: ``(id_a, id_b, gap)`` with ``gap`` = rank distance,
    deterministic under ties via the id tiebreak.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    w = Window.partitionBy(block_col).orderBy(
        F.col(sort_col).asc(), F.col(id_col).asc()
    )
    pairs = None
    base = df.select(block_col, id_col, sort_col)
    for gap in range(1, window):
        nxt = base.select(
            F.col(id_col).alias("id_a"),
            F.lead(id_col, gap).over(w).alias("id_b"),
            F.lit(gap).cast("long").alias("gap"),
        ).where(F.col("id_b").isNotNull())
        pairs = nxt if pairs is None else pairs.unionByName(nxt)
    return pairs


def sorted_neighborhood_pairs_sql(
    table_sql: str,
    id_col: str,
    block_col: str,
    sort_col: str,
    window: int = 3,
) -> str:
    """DuckDB twin of :func:`sorted_neighborhood_pairs`."""
    over = (
        f"OVER (PARTITION BY {block_col} "
        f"ORDER BY {sort_col} ASC, {id_col} ASC)"
    )
    parts = [
        f"""
SELECT {id_col} AS id_a, lead({id_col}, {gap}) {over} AS id_b,
       CAST({gap} AS BIGINT) AS gap
FROM ({table_sql}) __t{gap}
"""
        for gap in range(1, window)
    ]
    union = " UNION ALL ".join(f"({p})" for p in parts)
    return f"SELECT id_a, id_b, gap FROM ({union}) __u WHERE id_b IS NOT NULL"
