"""PQ index lifecycle: persisted-index search equals the in-memory
operator, and streaming code appends equal the batch encoder under the
same frozen codebooks."""

from __future__ import annotations

import pytest

import pyspark.sql.types as T
from pyspark.sql import functions as F

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pq_index_roundtrip_equals_operator(spark, sf_dir, tmp_path):
    from bunsen_spark.operators.similarity import (
        pq_index_topk,
        pq_topk,
        write_pq_index,
    )

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "pq")
    write_pq_index(emb, path)
    queries = emb.where(F.col("vec_id") < 8)
    got = sorted(
        map(tuple, pq_index_topk(spark, path, queries, k=5).collect())
    )
    want = sorted(map(tuple, pq_topk(emb, k=5, num_queries=8).collect()))
    assert got == want


def test_stream_pq_encode_equals_batch(spark, sf_dir, tmp_path):
    import json as jsonlib

    from bunsen_spark.operators.similarity import pq_encode, write_pq_index
    from bunsen_spark.streaming.ann import read_stream_codes, stream_pq_encode

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") < 300)
    late = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "pq")
    # codebooks train on the BASE sample only — the production split
    write_pq_index(base, path)

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = late.collect()
    for b in range(2):
        with open(src / f"b{b}.jsonl", "w") as f:
            for r in rows[b::2]:
                f.write(
                    jsonlib.dumps(
                        {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = stream_pq_encode(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    books = spark.read.parquet(f"{path}/books")
    got = sorted(
        (r["vec_id"], r["sub"], r["code"])
        for r in read_stream_codes(spark, path).collect()
    )
    want = sorted(
        (r["vec_id"], r["sub"], r["code"])
        for r in pq_encode(emb, books).collect()
    )
    assert got == want

    # read_pq_index must see the SAME merged view (ADVICE r7: it used
    # to read only {path}/codes, so index searches missed streamed
    # vectors despite write_pq_index's streaming-append contract).
    from bunsen_spark.operators.similarity import read_pq_index

    _, codes = read_pq_index(spark, path)
    merged = sorted(
        (r["vec_id"], r["sub"], r["code"]) for r in codes.collect()
    )
    assert merged == want


@pytest.mark.slow
def test_ivfpq_index_roundtrip_equals_operator(spark, sf_dir, tmp_path):
    """Build-once/search-many: an IVF-PQ search that reads only the
    persisted codes (+ broadcast coarse/books) must equal the inline
    operator on the same corpus — training is deterministic, so any
    drift would be a persistence bug."""
    from bunsen_spark.operators.similarity import (
        ivfpq_index_topk,
        ivfpq_topk,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path)
    queries = emb.where(F.col("vec_id") < 8)
    got = sorted(
        map(tuple, ivfpq_index_topk(spark, path, queries, k=5).collect())
    )
    want = sorted(map(tuple, ivfpq_topk(emb, k=5, num_queries=8).collect()))
    assert got == want


def test_stream_ivfpq_encode_equals_batch(spark, sf_dir, tmp_path):
    """Streaming arrivals encoded against the FROZEN coarse centroids +
    residual books must byte-equal the batch encoder, and the merged
    index view must include them."""
    import json as jsonlib
    import os

    from bunsen_spark.operators.similarity import (
        ivfpq_encode,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from bunsen_spark.streaming.ann import (
        read_stream_ivfpq_codes,
        stream_ivfpq_encode,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") < 300)
    late = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "ivfpq")
    # quantizers train on the BASE sample only — the production split
    write_ivfpq_index(base, path)

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = late.collect()
    for b in range(2):
        with open(src / f"b{b}.jsonl", "w") as f:
            for r in rows[b::2]:
                f.write(
                    jsonlib.dumps(
                        {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                    )
                    + "\n"
                )
        os.utime(src / f"b{b}.jsonl", (1_000_000_000 + b, 1_000_000_000 + b))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = stream_ivfpq_encode(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    coarse = spark.read.parquet(f"{path}/coarse")
    books = spark.read.parquet(f"{path}/books")
    key = lambda r: (r["vec_id"], r["ccid"], r["sub"], r["code"])  # noqa: E731
    got = sorted(map(key, read_stream_ivfpq_codes(spark, path).collect()))
    want = sorted(map(key, ivfpq_encode(emb, coarse, books).collect()))
    assert got == want

    # the index reader must see the SAME merged view
    _, _, codes = read_ivfpq_index(spark, path)
    assert sorted(map(key, codes.collect())) == want


def test_append_ivfpq_index_equals_batch_encode(spark, sf_dir, tmp_path):
    """Bulk ingest: batch-appended codes against the FROZEN quantizers
    must equal the batch encoder over the whole corpus, replaying the
    same batch_id must be idempotent, and the merged-index search must
    rank appended vectors among the neighbors."""
    from bunsen_spark.operators.similarity import (
        append_ivfpq_index,
        ivfpq_encode,
        ivfpq_index_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where(F.col("vec_id") % 5 >= 4)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, path)
    append_ivfpq_index(late, path)

    coarse = spark.read.parquet(f"{path}/coarse")
    books = spark.read.parquet(f"{path}/books")
    key = lambda r: (r["vec_id"], r["ccid"], r["sub"], r["code"])  # noqa: E731
    _, _, codes = read_ivfpq_index(spark, path)
    got = sorted(map(key, codes.collect()))
    want = sorted(map(key, ivfpq_encode(emb, coarse, books).collect()))
    assert got == want

    # replayed batch_id dynamic-overwrites its own partition — a rerun
    # backfill must not duplicate codes
    append_ivfpq_index(late, path)
    _, _, codes = read_ivfpq_index(spark, path)
    assert sorted(map(key, codes.collect())) == want

    # merged search actually surfaces appended vectors as neighbors
    res = ivfpq_index_topk(spark, path, emb.where(F.col("vec_id") < 8), k=5)
    neigh = {r["neighbor_id"] for r in res.collect()}
    assert any(n % 5 == 4 for n in neigh)


@pytest.mark.slow
def test_delete_from_ivfpq_index_tombstones(spark, sf_dir, tmp_path):
    """Right-to-erasure lifecycle: tombstoned ids vanish from the code
    table and from search results WITHOUT any code rewrite; surviving
    ranks match a search over the same index filtered after the fact;
    a replayed delete batch is idempotent; an index with no tombstone
    directory reads exactly as before."""
    from bunsen_spark.operators.similarity import (
        append_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where(F.col("vec_id") % 5 >= 4)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, path)
    append_ivfpq_index(late, path)

    # no tombstone dir: reader is unchanged (the common free case)
    _, _, codes_before = read_ivfpq_index(spark, path)
    n_before = codes_before.count()
    queries = emb.where(F.col("vec_id") < 8)
    res_before = sorted(
        map(tuple, ivfpq_index_topk(spark, path, queries, k=5).collect())
    )

    # the deleted slice crosses base AND appended codes
    deleted = emb.where(F.col("vec_id") % 7 == 3)
    del_ids = {r["vec_id"] for r in deleted.select("vec_id").collect()}
    assert any(i % 5 < 4 for i in del_ids) and any(i % 5 >= 4 for i in del_ids)
    delete_from_ivfpq_index(deleted, path)

    _, _, codes = read_ivfpq_index(spark, path)
    got_ids = {r["vec_id"] for r in codes.select("vec_id").distinct().collect()}
    assert got_ids.isdisjoint(del_ids)
    # codes themselves were never rewritten: surviving rows identical
    assert codes.count() == n_before - len(
        [r for r in codes_before.select("vec_id").collect() if r["vec_id"] in del_ids]
    )

    res = ivfpq_index_topk(spark, path, queries, k=5)
    rows = res.collect()
    assert {r["neighbor_id"] for r in rows}.isdisjoint(del_ids)
    # every query still gets a full top-5 (corpus is far larger than k)
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert set(per_q.values()) == {5}
    # deleted ids may still QUERY (only the candidate side is filtered)
    assert set(per_q) == {r["vec_id"] for r in queries.collect()}
    # deletion can only PROMOTE: for each query, every surviving member
    # of the old top-5 must still be present in the new top-5
    old_by_q = {}
    for q, n, rk in res_before:
        old_by_q.setdefault(q, []).append(n)
    new_by_q = {}
    for r in rows:
        new_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, olds in old_by_q.items():
        for n in olds:
            if n not in del_ids:
                assert n in new_by_q[q], (q, n)

    # replayed delete batch: idempotent, nothing double-removed (count
    # captured BEFORE the replay — the overwrite invalidates the old
    # plan's file listing, so the comparison must re-read the index)
    n_after_delete = codes.count()
    delete_from_ivfpq_index(deleted, path)
    _, _, codes2 = read_ivfpq_index(spark, path)
    assert codes2.count() == n_after_delete


def test_distinct_default_delete_batches_accumulate(spark, sf_dir, tmp_path):
    """ADVICE r11: with a fixed default batch_id, a SECOND delete batch
    dynamic-overwrote the first one's tombstone partition and
    resurrected the previously erased vectors. Content-derived default
    ids must make distinct deletes accumulate while a replay of either
    stays idempotent."""
    from bunsen_spark.operators.similarity import (
        delete_from_ivfpq_index,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path)

    first = emb.where(F.col("vec_id") % 7 == 3)
    second = emb.where(F.col("vec_id") % 11 == 5)
    b1 = delete_from_ivfpq_index(first, path)
    b2 = delete_from_ivfpq_index(second, path)
    assert b1 != b2, "distinct delete sets must never share a partition"

    gone = {r["vec_id"] for r in first.select("vec_id").collect()} | {
        r["vec_id"] for r in second.select("vec_id").collect()
    }
    _, _, codes = read_ivfpq_index(spark, path)
    live = {r["vec_id"] for r in codes.select("vec_id").distinct().collect()}
    assert live.isdisjoint(gone), "second delete resurrected the first batch"

    # replaying the FIRST delete after the second must change nothing
    assert delete_from_ivfpq_index(first, path) == b1
    _, _, codes2 = read_ivfpq_index(spark, path)
    live2 = {r["vec_id"] for r in codes2.select("vec_id").distinct().collect()}
    assert live2 == live


@pytest.mark.slow
def test_compact_ivfpq_index_lifecycle(spark, sf_dir, tmp_path):
    """The tombstone-fold rewrite the delete docstring promises: after
    compaction the index serves hash-identical search results from ONE
    base codes generation — no stream union, no anti-join — the folded
    partitions are gone from disk, re-running is a no-op, and the
    lifecycle (append, delete, compact again) continues on top."""
    import os

    from bunsen_spark.operators.similarity import (
        append_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where(F.col("vec_id") % 5 >= 4)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, path)
    append_ivfpq_index(late, path)
    delete_from_ivfpq_index(emb.where(F.col("vec_id") % 7 == 3), path)

    queries = emb.where(F.col("vec_id") < 8)
    res_before = sorted(
        map(tuple, ivfpq_index_topk(spark, path, queries, k=5).collect())
    )
    key = lambda r: (r["vec_id"], r["ccid"], r["sub"], r["code"])  # noqa: E731
    _, _, codes_before = read_ivfpq_index(spark, path)
    rows_before = sorted(map(key, codes_before.collect()))

    assert compact_ivfpq_index(spark, path) is True
    # one generation, no live stream/tombstone partitions on disk
    assert os.path.isdir(f"{path}/codes_g1")
    assert not os.path.exists(f"{path}/codes")
    assert not os.path.exists(f"{path}/codes_stream")
    assert not os.path.exists(f"{path}/tombstones")

    # value-identical view: codes byte-equal, search results identical
    _, _, codes_after = read_ivfpq_index(spark, path)
    assert sorted(map(key, codes_after.collect())) == rows_before
    res_after = sorted(
        map(tuple, ivfpq_index_topk(spark, path, queries, k=5).collect())
    )
    assert res_after == res_before

    # replay-idempotent: nothing pending -> no new generation
    assert compact_ivfpq_index(spark, path) is False
    assert os.path.isdir(f"{path}/codes_g1")

    # lifecycle continues post-compaction: append new rows, delete some
    # pre-existing ones, compact again into generation 2
    extra = emb.where(F.col("vec_id") % 11 == 5)
    delete_from_ivfpq_index(extra, path)
    _, _, codes3 = read_ivfpq_index(spark, path)
    # materialize BEFORE compacting: a pre-compaction plan references
    # partitions GC removes, so it cannot be re-collected afterwards
    # (same re-read contract dynamic partition overwrite imposes)
    rows3 = sorted(map(key, codes3.collect()))
    live = {v for v, _, _, _ in rows3}
    assert live.isdisjoint(
        {r["vec_id"] for r in extra.select("vec_id").collect()}
    )
    assert compact_ivfpq_index(spark, path) is True
    assert os.path.isdir(f"{path}/codes_g2")
    assert not os.path.exists(f"{path}/codes_g1")
    _, _, codes4 = read_ivfpq_index(spark, path)
    assert sorted(map(key, codes4.collect())) == rows3


def test_reuse_of_folded_batch_id_raises(spark, sf_dir, tmp_path):
    """New data under a batch id the manifest already folded would be
    silently invisible to readers — both writers must fail loud on an
    explicit reuse, while a content-derived replay stays a no-op."""
    import pytest

    from bunsen_spark.operators.similarity import (
        append_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    import os

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where(F.col("vec_id") % 5 >= 4)
    deleted = emb.where(F.col("vec_id") % 7 == 3)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, path)
    abatch = append_ivfpq_index(late, path)
    dbatch = delete_from_ivfpq_index(deleted, path)
    assert compact_ivfpq_index(spark, path) is True

    # explicit reuse of a folded id for OTHER data: fail loud
    with pytest.raises(ValueError, match="folded"):
        append_ivfpq_index(base.limit(3), path, batch_id=abatch)
    with pytest.raises(ValueError, match="folded"):
        delete_from_ivfpq_index(
            emb.where(F.col("vec_id") < 3), path, batch_id=dbatch
        )

    # derived-id replays of the folded batches: silent no-ops that
    # write nothing (content already lives in the compacted codes)
    assert append_ivfpq_index(late, path) == abatch
    assert delete_from_ivfpq_index(deleted, path) == dbatch
    assert not os.path.exists(f"{path}/codes_stream")
    assert not os.path.exists(f"{path}/tombstones")
    _, _, codes = read_ivfpq_index(spark, path)
    live = {r["vec_id"] for r in codes.select("vec_id").distinct().collect()}
    assert all(v % 7 != 3 for v in live)
    assert any(v % 5 == 4 for v in live)


def test_pq_index_full_lifecycle_parity(spark, sf_dir, tmp_path):
    """The plain-PQ index carries the SAME lifecycle contract as
    IVF-PQ: frozen-codebook batch append, accumulating content-derived
    deletes, and manifest-flip compaction with identical search
    results and a single surviving generation."""
    import os

    from bunsen_spark.operators.similarity import (
        append_pq_index,
        compact_pq_index,
        delete_from_pq_index,
        pq_encode,
        pq_index_topk,
        read_pq_index,
        write_pq_index,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where(F.col("vec_id") % 5 >= 4)
    path = str(tmp_path / "pq")
    write_pq_index(base, path)
    abatch = append_pq_index(late, path)

    # appended codes equal the batch encoder under the frozen books
    books = spark.read.parquet(f"{path}/books")
    key = lambda r: (r["vec_id"], r["sub"], r["code"])  # noqa: E731
    _, codes = read_pq_index(spark, path)
    assert sorted(map(key, codes.collect())) == sorted(
        map(key, pq_encode(emb, books).collect())
    )
    # replay idempotent on the derived id
    assert append_pq_index(late, path) == abatch

    # two DISTINCT deletes accumulate; neither resurrects the other
    first = emb.where(F.col("vec_id") % 7 == 3)
    second = emb.where(F.col("vec_id") % 11 == 5)
    b1 = delete_from_pq_index(first, path)
    b2 = delete_from_pq_index(second, path)
    assert b1 != b2
    gone = {r["vec_id"] for r in first.select("vec_id").collect()} | {
        r["vec_id"] for r in second.select("vec_id").collect()
    }
    queries = emb.where(F.col("vec_id") < 8)
    res_before = sorted(
        map(tuple, pq_index_topk(spark, path, queries, k=5).collect())
    )
    assert {n for _, n, _ in res_before}.isdisjoint(gone)
    _, codes2 = read_pq_index(spark, path)
    rows_before = sorted(map(key, codes2.collect()))
    assert {v for v, _, _ in rows_before}.isdisjoint(gone)

    # compaction: one generation, identical reads and search results
    assert compact_pq_index(spark, path) is True
    assert os.path.isdir(f"{path}/codes_g1")
    assert not os.path.exists(f"{path}/codes")
    assert not os.path.exists(f"{path}/codes_stream")
    assert not os.path.exists(f"{path}/tombstones")
    _, codes3 = read_pq_index(spark, path)
    assert sorted(map(key, codes3.collect())) == rows_before
    assert sorted(
        map(tuple, pq_index_topk(spark, path, queries, k=5).collect())
    ) == res_before
    assert compact_pq_index(spark, path) is False


@pytest.mark.slow
def test_stream_tombstones_equals_batch_delete(spark, sf_dir, tmp_path):
    """Streamed erasure parity: tombstones arriving as micro-batches
    must produce the same live index view as one batch delete of the
    same ids, accumulate across micro-batches, and fold under
    compaction like their batch twins."""
    import json as jsonlib
    import os

    from bunsen_spark.operators.similarity import (
        compact_ivfpq_index,
        ivfpq_index_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from bunsen_spark.streaming.ann import stream_tombstones

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path)

    # two micro-batches of erasure requests (distinct id slices)
    doomed = emb.where((F.col("vec_id") % 7 == 3) | (F.col("vec_id") % 11 == 5))
    rows = sorted(r["vec_id"] for r in doomed.select("vec_id").collect())
    src = tmp_path / "erasures"
    src.mkdir()
    for b in range(2):
        with open(src / f"b{b}.jsonl", "w") as f:
            for v in rows[b::2]:
                f.write(jsonlib.dumps({"vec_id": v}) + "\n")
        os.utime(src / f"b{b}.jsonl", (1_000_000_000 + b, 1_000_000_000 + b))
    schema = T.StructType([T.StructField("vec_id", T.LongType())])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = stream_tombstones(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    # all streamed ids erased across BOTH micro-batch partitions
    _, _, codes = read_ivfpq_index(spark, path)
    live = {r["vec_id"] for r in codes.select("vec_id").distinct().collect()}
    assert live.isdisjoint(rows)
    queries = emb.where(F.col("vec_id") < 8)
    res = sorted(map(tuple, ivfpq_index_topk(spark, path, queries, k=5).collect()))
    assert {n for _, n, _ in res}.isdisjoint(rows)

    # compaction folds the streamed tombstone partitions like batch ones
    assert compact_ivfpq_index(spark, path) is True
    assert not os.path.exists(f"{path}/tombstones")
    assert sorted(
        map(tuple, ivfpq_index_topk(spark, path, queries, k=5).collect())
    ) == res


def _write_jsonl(path, dicts, mtime):
    import json as jsonlib
    import os

    with open(path, "w") as f:
        for d in dicts:
            f.write(jsonlib.dumps(d) + "\n")
    os.utime(path, (mtime, mtime))


@pytest.mark.slow
def test_stream_append_survives_checkpoint_reset_after_compaction(
    spark, sf_dir, tmp_path
):
    """VERDICT r12: engine micro-batch ids restart at 0 on a FRESH
    checkpoint, so after compaction folded ids 0..N a reset stream
    wrote new rows into folded partition ids and every reader silently
    dropped them. Content-derived ids must make the reset run no-op on
    replayed old data and land genuinely NEW data in live, visible
    partitions — with no duplicates of the old rows."""
    from bunsen_spark.operators.similarity import (
        compact_ivfpq_index,
        ivfpq_encode,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from bunsen_spark.streaming.ann import stream_ivfpq_encode

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") < 300)
    late = emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 360))
    newer = emb.where(F.col("vec_id") >= 360)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, path)

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = late.collect()
    for b in range(2):
        _write_jsonl(
            src / f"b{b}.jsonl",
            [
                {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                for r in rows[b::2]
            ],
            1_000_000_000 + b,
        )
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = stream_ivfpq_encode(stream, path, str(tmp_path / "ckptA"))
    q.awaitTermination(180)
    assert compact_ivfpq_index(spark, path) is True

    # new arrivals + a FRESH checkpoint: the engine reprocesses b0/b1
    # from scratch (their content ids are folded -> no-op) and then b2
    _write_jsonl(
        src / "b2.jsonl",
        [
            {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
            for r in newer.collect()
        ],
        1_000_000_002,
    )
    stream2 = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q2 = stream_ivfpq_encode(stream2, path, str(tmp_path / "ckptB"))
    q2.awaitTermination(180)

    coarse = spark.read.parquet(f"{path}/coarse")
    books = spark.read.parquet(f"{path}/books")
    key = lambda r: (r["vec_id"], r["ccid"], r["sub"], r["code"])  # noqa: E731
    _, _, codes = read_ivfpq_index(spark, path)
    got = sorted(map(key, codes.collect()))
    want = sorted(map(key, ivfpq_encode(emb, coarse, books).collect()))
    # every new row visible exactly once; no old row duplicated
    assert got == want


def test_stream_tombstones_survive_checkpoint_reset_after_compaction(
    spark, sf_dir, tmp_path
):
    """The erasure twin of the checkpoint-reset case: after compaction
    folded the first erasure batches, a reset stream's NEW requests
    must still erase (engine ids would land in folded partitions —
    silent NON-erasure, the worst failure this subsystem can have)."""
    from bunsen_spark.operators.similarity import (
        compact_ivfpq_index,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from bunsen_spark.streaming.ann import stream_tombstones

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path)

    first = sorted(
        r["vec_id"]
        for r in emb.where(F.col("vec_id") % 7 == 3).select("vec_id").collect()
    )
    second = sorted(
        r["vec_id"]
        for r in emb.where(F.col("vec_id") % 11 == 5).select("vec_id").collect()
    )
    src = tmp_path / "erasures"
    src.mkdir()
    schema = T.StructType([T.StructField("vec_id", T.LongType())])
    _write_jsonl(src / "b0.jsonl", [{"vec_id": v} for v in first], 1_000_000_000)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = stream_tombstones(stream, path, str(tmp_path / "ckptA"))
    q.awaitTermination(180)
    assert compact_ivfpq_index(spark, path) is True

    # fresh checkpoint; b0 replays (folded content -> no-op), b1 is new
    _write_jsonl(src / "b1.jsonl", [{"vec_id": v} for v in second], 1_000_000_001)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q2 = stream_tombstones(stream2, path, str(tmp_path / "ckptB"))
    q2.awaitTermination(180)

    _, _, codes = read_ivfpq_index(spark, path)
    live = {r["vec_id"] for r in codes.select("vec_id").distinct().collect()}
    assert live.isdisjoint(first), "reset stream resurrected folded erasures"
    assert live.isdisjoint(second), "post-reset erasure requests silently dropped"


@pytest.mark.slow
def test_compaction_crash_before_manifest_flip(spark, sf_dir, tmp_path, monkeypatch):
    """Crash-injection for the flip window (VERDICT r12): a compaction
    that dies AFTER writing the new generation but BEFORE the manifest
    flip must leave readers on the old (correct) view, and the next
    compaction must overwrite the orphan generation and complete."""
    import bunsen_spark.operators.similarity as sim

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where(F.col("vec_id") % 5 >= 4)
    path = str(tmp_path / "ivfpq")
    sim.write_ivfpq_index(base, path)
    sim.append_ivfpq_index(late, path)
    sim.delete_from_ivfpq_index(emb.where(F.col("vec_id") % 7 == 3), path)

    key = lambda r: (r["vec_id"], r["ccid"], r["sub"], r["code"])  # noqa: E731
    _, _, codes0 = sim.read_ivfpq_index(spark, path)
    rows_before = sorted(map(key, codes0.collect()))

    import pytest

    def boom(p, m):
        raise RuntimeError("injected crash before manifest flip")

    monkeypatch.setattr(sim, "_write_index_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.compact_ivfpq_index(spark, path)
    monkeypatch.undo()

    import os

    # orphan generation written, but the manifest still serves gen 0:
    # readers see the OLD view (stream partitions + tombstones live)
    assert os.path.isdir(f"{path}/codes_g1")
    assert sim._index_manifest(path)["gen"] == 0
    assert os.path.isdir(f"{path}/codes_stream")
    assert os.path.isdir(f"{path}/tombstones")
    _, _, codes1 = sim.read_ivfpq_index(spark, path)
    assert sorted(map(key, codes1.collect())) == rows_before

    # the rerun overwrites the orphan and completes the fold
    assert sim.compact_ivfpq_index(spark, path) is True
    assert sim._index_manifest(path)["codes"] == "codes_g1"
    assert not os.path.exists(f"{path}/codes_stream")
    assert not os.path.exists(f"{path}/tombstones")
    _, _, codes2 = sim.read_ivfpq_index(spark, path)
    assert sorted(map(key, codes2.collect())) == rows_before


@pytest.mark.slow
def test_concurrent_append_during_compaction_not_double_counted(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r12 TOCTOU: an append landing AFTER compaction snapshots
    the pending batch ids but BEFORE the survivors write must stay a
    LIVE partition (not folded) — with a lazily-evaluated live view it
    was copied into the new base while its partition stayed live, and
    readers double-counted its rows (doubling F.sum(d2) in ADC
    scoring). Injected at the realistic interleave point: between the
    stream-id snapshot and the tombstone-id snapshot."""
    import bunsen_spark.operators.similarity as sim

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 < 4)
    late = emb.where((F.col("vec_id") % 5 == 4) & (F.col("vec_id") < 300))
    racer = emb.where((F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 300))
    path = str(tmp_path / "ivfpq")
    sim.write_ivfpq_index(base, path)
    sim.append_ivfpq_index(late, path)

    orig = sim._pending_batch_ids
    state = {"fired": False}

    def hooked(spark_, directory, folded):
        res = orig(spark_, directory, folded)
        if directory.endswith("tombstones") and not state["fired"]:
            state["fired"] = True
            sim.append_ivfpq_index(racer, path)  # lands mid-compaction
        return res

    monkeypatch.setattr(sim, "_pending_batch_ids", hooked)
    assert sim.compact_ivfpq_index(spark, path) is True
    monkeypatch.undo()
    assert state["fired"]

    # racer rows: visible EXACTLY once (live partition, not folded)
    coarse = spark.read.parquet(f"{path}/coarse")
    books = spark.read.parquet(f"{path}/books")
    key = lambda r: (r["vec_id"], r["ccid"], r["sub"], r["code"])  # noqa: E731
    _, _, codes = sim.read_ivfpq_index(spark, path)
    got = sorted(map(key, codes.collect()))
    want = sorted(map(key, sim.ivfpq_encode(emb, coarse, books).collect()))
    assert got == want, "mid-compaction append lost or double-counted"

    # and the NEXT compaction folds the racer partition normally
    assert sim.compact_ivfpq_index(spark, path) is True
    _, _, codes2 = sim.read_ivfpq_index(spark, path)
    assert sorted(map(key, codes2.collect())) == want


def test_batch_id_edge_cases(spark, sf_dir, tmp_path):
    """ADVICE r12 low-severity sweep: empty batches get the fixed
    out-of-range id (zero rows hash to 0 — an engine-id collision);
    re-appending the same vec_ids with DIFFERENT vectors derives a
    FRESH id (content includes the embedding, so a folded-replay guard
    cannot silently swallow changed data); compaction fails fast on an
    object-store URI and on a missing index root."""
    import pytest

    import bunsen_spark.operators.similarity as sim

    emb = _emb(spark, sf_dir)
    empty = emb.where(F.lit(False))
    assert sim._content_batch_id(empty) == sim._EMPTY_BATCH_ID
    assert (
        sim._content_batch_id(empty, ("vec_id", "embedding"))
        == sim._EMPTY_BATCH_ID
    )

    some = emb.where(F.col("vec_id") < 20)
    shifted = some.withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(1.0))
    )
    same_ids = sim._content_batch_id(some) == sim._content_batch_id(shifted)
    assert same_ids, "delete ids hash vec_id only"
    assert sim._content_batch_id(
        some, ("vec_id", "embedding")
    ) != sim._content_batch_id(shifted, ("vec_id", "embedding"))

    with pytest.raises(ValueError, match="local index path"):
        sim.compact_ivfpq_index(spark, "s3://bucket/prefix/index")
    with pytest.raises(FileNotFoundError, match="no persisted index"):
        sim.compact_pq_index(spark, str(tmp_path / "never_built"))


def test_index_probes_without_a_failed_read(spark, sf_dir, tmp_path):
    """The optional index directories are probed by a file-system check
    for committed batch files (``persist.has_committed_batches``), not
    by a read that fails: a never-deleted index has no tombstones, a
    directory holding only ``_temporary`` debris of a crashed first
    write reads as absent, and a committed but unreadable file is an
    error, not an empty set."""
    from bunsen_spark.operators.similarity import (
        _merged_index_codes,
        _pending_batch_ids,
        _read_tombstones,
        write_pq_index,
    )
    from bunsen_spark.persist import has_committed_batches

    path = tmp_path / "pq"
    write_pq_index(_emb(spark, sf_dir), str(path))
    assert _read_tombstones(spark, str(path)) is None
    n_codes = spark.read.parquet(str(path / "codes")).count()
    for sub in ("tombstones", "codes_stream"):
        debris = path / sub / "_temporary" / "0" / "task_0" / "batch_id=1"
        debris.mkdir(parents=True)
        (debris / "part-00000.parquet").write_bytes(b"not parquet")
        (path / sub / "_SUCCESS").write_bytes(b"")
        assert not has_committed_batches(spark, str(path / sub))
        assert _pending_batch_ids(spark, str(path / sub), []) == []
    assert _read_tombstones(spark, str(path)) is None
    assert _merged_index_codes(spark, str(path), ["vec_id", "sub", "code"]).count() == n_codes

    bad = path / "tombstones" / "batch_id=1"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not parquet")
    assert has_committed_batches(spark, str(path / "tombstones"))
    with pytest.raises(Exception):
        _read_tombstones(spark, str(path)).collect()
