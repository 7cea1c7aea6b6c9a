"""Unit tests for the benchmark's own arithmetic and generators (no Spark).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
from spans import Span, covered, idle_share, percentile, self_times, tail_percentile  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(99) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(199) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    assert tail_percentile(10000) == 99.9


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile([3.0], 99) == 3.0


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span(3, "c", 2.0, 3.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_idle_share():
    assert idle_share(task_s=4.0, self_s=1.0, cores=4) == 0.0
    assert idle_share(task_s=1.0, self_s=1.0, cores=4) == pytest.approx(0.75)
    assert idle_share(task_s=0.0, self_s=2.0, cores=4) == 1.0
    assert idle_share(task_s=0.0, self_s=0.0, cores=4) == 0.0


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _write_all(seed: int, root: Path) -> str:
    t = gen.make_terminology(seed, 60, 6, 3)
    f = gen.make_fhir(seed, 12, t.snomed.codes[:60], ["L1", "L2"])
    c = gen.make_corpus(seed, 40, 3, 3, 50, 8, 3, 4, 3)
    gen.write_terminology(t, root / "t")
    gen.write_fhir(f, root / "f")
    gen.write_corpus(c, root / "c")
    return _digest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _write_all(7, tmp_path / "a") == _write_all(7, tmp_path / "b")
    assert _write_all(7, tmp_path / "a2") != _write_all(8, tmp_path / "c")


def test_hierarchy_closure_on_a_hand_checked_graph():
    # d -> c -> b -> a, d -> a directly, plus the cycle x <-> y under a
    h = gen.Hierarchy(
        gen.SNOMED,
        ["a", "b", "c", "d", "x", "y"],
        {},
        {"b": ["a"], "c": ["b"], "d": ["c", "a"], "x": ["y", "a"], "y": ["x"]},
    )
    # b:{a} c:{a,b} d:{a,b,c} x:{y,a} y:{x,a}; self pairs excluded
    assert h.closure_pairs() == 1 + 2 + 3 + 2 + 2
    assert h.descendants("b") == {"b", "c", "d"}
    assert h.descendants("a") == {"a", "b", "c", "d", "x", "y"}


def test_generated_hierarchy_has_requested_depth_and_noise():
    t = gen.make_terminology(3, 200, 10, 3)
    assert max(t.snomed.level[c] for c in t.snomed.codes[:200]) == 9
    rows = [r.split("\t") for r in t.snomed_tsv[1:]]
    edges = {(r[4], r[5]) for r in rows if r[2] == "1" and r[7] == gen.ISA}
    assert edges == {(c, p) for c, ps in t.snomed.parents.items() for p in ps}
    assert any(r[2] == "0" for r in rows) and any(r[7] == gen.NOT_ISA for r in rows)


def test_fhir_expected_counts_on_a_tiny_seed():
    f = gen.make_fhir(5, 10, ["1", "2"], ["L1"], xml_share=0.2)
    counts = f.expected["counts"]
    assert counts["Patient"] == 10
    for rt in gen.RESOURCE_TYPES:
        assert sum(b.count(f'"resourceType": "{rt}"') for b in f.bundles) == counts[rt]
    assert f.expected["xml_counts"]["Patient"] == len(f.xml_slice) == 2


def test_corpus_clusters_are_components_of_the_exact_pairs():
    c = gen.make_corpus(2, 60, 4, 3, 40, 8, 2, 4, 3)
    pairs = {tuple(map(int, k.split(","))): v for k, v in c.expected["pairs"].items()}
    assert c.clusters == gen.components(pairs)
    # each planted group keeps its exact copy and drops its decoy
    assert len(c.clusters) == 4
    assert all(len(m) == 3 for m in c.clusters)
    assert sum(inter == uni for inter, uni in pairs.values()) >= 4
    assert gen.components({(1, 2): 0, (2, 5): 0, (7, 8): 0}) == [[1, 2, 5], [7, 8]]
    assert gen.shingles("a b") == {"a b"}
    assert gen.shingles("A b c d") == {"a b c", "b c d"}
    topk = c.expected["topk"]
    assert sorted(topk) == [0, 1, 2, 3]
    assert all(len(v) == 3 and q not in v for q, v in topk.items())
