"""Seeded input generators for the benchmark, with their expected answers.

Every generator is a pure function of its seed and sizes: it returns the
inputs as in-memory objects plus the answers the program must reproduce,
computed here in plain Python. ``write_*`` functions put the inputs on
disk; the same seed always gives byte-identical files.

FHIR resources are built with the repository's own fixture builders
(``tools/make_fixtures.py``), XML bundles with ``tools/json_bundle_to_xml.py``
and document text from ``tools/make_scale_fixtures.py``'s vocabulary.
"""

from __future__ import annotations

import json
import random
import re
import sys
from collections import Counter, defaultdict, deque
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.json_bundle_to_xml import bundle_json_to_xml  # noqa: E402
from tools.make_fixtures import (  # noqa: E402
    bp_observation,
    condition,
    med_request,
    patient,
)
from tools.make_scale_fixtures import VOCAB  # noqa: E402

SNOMED = "http://snomed.info/sct"
ENC_SYSTEM = "urn:perfbench:encounter-type"
RESOURCE_TYPES = ("Patient", "Condition", "Observation", "MedicationRequest", "Encounter")
ISA = "116680003"
NOT_ISA = "363698007"


# -- code hierarchies ---------------------------------------------------------


@dataclass
class Hierarchy:
    """A generated is-a graph: ``parents[child]`` lists direct parents."""

    system: str
    codes: list[str]
    level: dict[str, int]
    parents: dict[str, list[str]]

    def ancestors(self, code: str) -> set[str]:
        seen: set[str] = set()
        todo = deque(self.parents.get(code, ()))
        while todo:
            p = todo.popleft()
            if p not in seen:
                seen.add(p)
                todo.extend(self.parents.get(p, ()))
        return seen

    def closure_pairs(self) -> int:
        """(descendant, ancestor) pairs, self-pairs excluded, as the
        stored ancestors table holds them."""
        return sum(len(self.ancestors(c) - {c}) for c in self.codes)

    def descendants(self, code: str) -> set[str]:
        """The code itself plus everything below it."""
        children = defaultdict(list)
        for c, ps in self.parents.items():
            for p in ps:
                children[p].append(c)
        seen = {code}
        todo = deque([code])
        while todo:
            for c in children[todo.popleft()]:
                if c not in seen:
                    seen.add(c)
                    todo.append(c)
        return seen


def make_hierarchy(
    rng: random.Random,
    system: str,
    n: int,
    depth: int,
    extra_parent_p: float,
    code_of,
    cycles: int = 0,
) -> Hierarchy:
    """A layered DAG of ``n`` codes. A chain guarantees ``depth`` levels;
    every other code sits on a random level with one parent one level up
    and, with probability ``extra_parent_p``, a second parent higher up.
    ``cycles`` 2-node is-a cycles hang off random codes, each with one
    child of its own."""
    codes = [code_of(i) for i in range(n)]
    level = {c: min(i, depth - 1) if i < depth else rng.randint(1, depth - 1) for i, c in enumerate(codes)}
    by_level: dict[int, list[str]] = defaultdict(list)
    for c in codes:
        by_level[level[c]].append(c)
    parents: dict[str, list[str]] = {}
    for c in codes:
        lv = level[c]
        if lv == 0:
            continue
        ps = [rng.choice(by_level[lv - 1])]
        if lv > 1 and rng.random() < extra_parent_p:
            extra = rng.choice(by_level[rng.randint(0, lv - 2)])
            ps.append(extra)
        parents[c] = ps
    for k in range(cycles):
        a, b, child = code_of(n + 3 * k), code_of(n + 3 * k + 1), code_of(n + 3 * k + 2)
        anchor = rng.choice(codes)
        parents[a] = [b, anchor]
        parents[b] = [a]
        parents[child] = [a]
        for c in (a, b, child):
            codes.append(c)
            level[c] = depth
    return Hierarchy(system, codes, level, parents)


def snomed_rows(h: Hierarchy, rng: random.Random, noise_p: float) -> list[str]:
    """SNOMED relationship TSV lines (header first): one active is-a row
    per edge, plus inactive is-a rows and active non-is-a rows as noise
    that the edge reader must drop."""
    header = (
        "id\teffectiveTime\tactive\tmoduleId\tsourceId\tdestinationId"
        "\trelationshipGroup\ttypeId\tcharacteristicTypeId\tmodifierId"
    )
    body = []
    for child in h.codes:
        for p in h.parents.get(child, ()):
            body.append((child, p, "1", ISA))
            if rng.random() < noise_p:
                body.append((child, rng.choice(h.codes), "0", ISA))
            if rng.random() < noise_p:
                body.append((child, rng.choice(h.codes), "1", NOT_ISA))
    rng.shuffle(body)
    return [header] + [
        f"{i + 1}\t20160101\t{act}\tm\t{src}\t{dst}\t0\t{typ}\tc\tmod"
        for i, (src, dst, act, typ) in enumerate(body)
    ]


def snomed_code(i: int) -> str:
    return str(100000 + i)


# -- terminology workload ------------------------------------------------------


@dataclass
class Terminology:
    snomed: Hierarchy
    snomed_tsv: list[str]
    #: name -> ("snomed", code) | ("codes", [(system, code)])
    specs: dict[str, tuple]
    expected: dict = field(default_factory=dict)


def make_terminology(seed: int, n: int, depth: int, n_isa: int) -> Terminology:
    """A SNOMED-style hierarchy (about 1.5 parents per code, 2-node cycles,
    inactive and non-is-a noise rows) and valueset specs over it."""
    rng = random.Random(seed)
    snomed = make_hierarchy(rng, SNOMED, n, depth, 0.5, snomed_code, cycles=3)
    codes = snomed.codes[:n]
    specs: dict[str, tuple] = {}
    # isa specs spread over the depth: shallow codes give large sets, deep ones small
    for k in range(n_isa):
        lv = 1 + (k * (depth - 1)) // max(1, n_isa)
        specs[f"isa{k}"] = ("snomed", rng.choice([c for c in codes if snomed.level[c] == lv]))
    specs["codes"] = ("codes", [(SNOMED, c) for c in sorted(rng.sample(codes, 12))])
    t = Terminology(snomed, snomed_rows(snomed, rng, 0.05), specs)
    t.expected = {
        "closure_pairs": snomed.closure_pairs(),
        "valueset_sizes": {name: len(spec_members(t, spec)) for name, spec in specs.items()},
    }
    return t


def spec_members(t: Terminology, spec: tuple) -> set[tuple[str, str]]:
    kind, arg = spec
    if kind == "snomed":
        return {(SNOMED, c) for c in t.snomed.descendants(arg)}
    return set(arg)


def write_terminology(t: Terminology, root: Path) -> Path:
    root.mkdir(parents=True, exist_ok=True)
    path = root / "sct_relationship.txt"
    path.write_text("\n".join(t.snomed_tsv) + "\n")
    return path


# -- FHIR bundles ---------------------------------------------------------------


def encounter(eid: str, pid: str, types: list[str], start: str) -> dict:
    return {
        "resourceType": "Encounter",
        "id": eid,
        "status": "finished",
        "type": [{"coding": [{"system": ENC_SYSTEM, "code": t}]} for t in types],
        "subject": {"reference": f"Patient/{pid}"},
        "period": {"start": start},
    }


@dataclass
class Fhir:
    #: one JSON bundle text per patient, in patient order
    bundles: list[str]
    #: indices of the bundles that also ship as XML
    xml_slice: list[int]
    #: per patient: id, gender, condition codes, (obs code, value) list,
    #: medication count, encounter type lists
    patients: list[dict]
    expected: dict = field(default_factory=dict)


def make_fhir(
    seed: int,
    n_patients: int,
    condition_codes: list[str],
    observation_codes: list[str],
    xml_share: float = 0.05,
) -> Fhir:
    """``n_patients`` bundles; 1% are heavy (hundreds of resources), the
    rest carry tens, so file sizes skew."""
    rng = random.Random(seed)
    heavy = set(rng.sample(range(n_patients), max(1, n_patients // 100)))
    enc_types = [f"E{k:03d}" for k in range(40)]
    bundles, patients = [], []
    for i in range(n_patients):
        pid = f"pat-{i:06d}"
        big = i in heavy
        gender = rng.choice(("female", "male"))
        birth = f"{rng.randint(1930, 2010)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        entries = [patient(pid, gender, birth)]
        conds = [rng.choice(condition_codes) for _ in range(rng.randint(15, 30) if big else rng.randint(1, 4))]
        for k, code in enumerate(conds):
            entries.append(condition(f"c-{i}-{k}", pid, (SNOMED, code, f"Condition {code}"), f"201{k % 10}-01-15T00:00:00Z"))
        obs = []
        for k in range(rng.randint(150, 300) if big else rng.randint(5, 25)):
            code = rng.choice(observation_codes)
            value = round(rng.uniform(20.0, 180.0), 1)
            o = bp_observation(f"o-{i}-{k}", pid, f"2015-{k % 12 + 1:02d}-{k % 28 + 1:02d}T10:00:00Z", value)
            o["code"] = {"coding": [{"system": SNOMED, "code": code}]}
            obs.append((code, value))
            entries.append(o)
        n_meds = rng.randint(5, 10) if big else rng.randint(0, 3)
        for k in range(n_meds):
            entries.append(med_request(f"m-{i}-{k}", pid, "2015-07-01T00:00:00Z"))
        encs = [rng.sample(enc_types, rng.randint(1, 2)) for _ in range(rng.randint(10, 20) if big else rng.randint(1, 4))]
        for k, types in enumerate(encs):
            entries.append(encounter(f"e-{i}-{k}", pid, types, "2015-03-01T09:00:00Z"))
        bundles.append(json.dumps({"resourceType": "Bundle", "type": "collection", "entry": [{"resource": e} for e in entries]}))
        patients.append({"id": pid, "gender": gender, "conditions": conds, "observations": obs, "meds": n_meds, "encounters": encs})
    xml_slice = sorted(rng.sample(range(n_patients), max(1, int(n_patients * xml_share))))
    f = Fhir(bundles, xml_slice, patients)
    f.expected = {
        "counts": resource_counts(patients),
        "xml_counts": resource_counts([patients[i] for i in xml_slice]),
        "input_bytes": sum(len(b.encode()) for b in bundles),
    }
    return f


def resource_counts(patients: list[dict]) -> dict[str, int]:
    c = Counter()
    for p in patients:
        c["Patient"] += 1
        c["Condition"] += len(p["conditions"])
        c["Observation"] += len(p["observations"])
        c["MedicationRequest"] += p["meds"]
        c["Encounter"] += len(p["encounters"])
    return dict(c)


def write_fhir(f: Fhir, root: Path) -> dict[str, Path]:
    """JSON bundles under ``json/``, the XML slice under ``xml/``."""
    jdir, xdir = root / "json", root / "xml"
    jdir.mkdir(parents=True, exist_ok=True)
    xdir.mkdir(parents=True, exist_ok=True)
    for i, b in enumerate(f.bundles):
        (jdir / f"b{i:06d}.json").write_text(b)
    for i in f.xml_slice:
        (xdir / f"b{i:06d}.xml").write_text(bundle_json_to_xml(f.bundles[i]))
    return {"json": jdir, "xml": xdir}


# -- corpus --------------------------------------------------------------------

WORDS = [f"{w}{k}" for w in VOCAB for k in range(10)]
_TOKEN = re.compile(r"[a-z0-9]+")


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, with the operators' rule for short texts."""
    words = _TOKEN.findall(text.lower())
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


@dataclass
class Corpus:
    texts: list[str]
    #: expected near-duplicate clusters, as sorted doc-id lists
    clusters: list[list[int]]
    vectors: np.ndarray
    expected: dict = field(default_factory=dict)


def make_corpus(
    seed: int,
    n_docs: int,
    n_clusters: int,
    cluster_size: int,
    n_vectors: int,
    dim: int,
    n_centers: int,
    num_queries: int,
    k: int,
    threshold: float = 0.5,
) -> Corpus:
    """Word-salad documents with planted near-duplicate groups, and
    embedding vectors drawn around planted centers. The expected clusters
    are the connected components of the pairs at or above ``threshold``,
    computed exactly here."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 80))) for _ in range(n_docs)]
    ids = list(range(n_docs))
    rng.shuffle(ids)
    groups = []
    for c in range(n_clusters):
        # base, exact copy, light edits, and one heavily edited decoy that
        # the candidate stages propose but verification rejects
        members = sorted(ids[c * (cluster_size + 1) : (c + 1) * (cluster_size + 1)])
        base = texts[members[0]].split()
        for j, d in enumerate(members[1:]):
            words = list(base)
            edits = 0 if j == 0 else len(words) // 4 if j == cluster_size - 1 else rng.randint(1, 2)
            for _ in range(edits):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts[d] = " ".join(words)
        groups.append(members)
    pairs = {}
    for members in groups:
        sets = {d: shingles(texts[d]) for d in members}
        for x in members:
            for y in members:
                if x < y:
                    inter = len(sets[x] & sets[y])
                    uni = len(sets[x] | sets[y])
                    if inter >= threshold * uni:
                        pairs[(x, y)] = (inter, uni)
    clusters = components(pairs)
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(n_centers, dim))
    assign = nrng.integers(0, n_centers, size=n_vectors)
    vecs = np.round(centers[assign] + 0.3 * nrng.normal(size=(n_vectors, dim)), 6).astype(np.float32)
    corpus = Corpus(texts, clusters, vecs)
    corpus.expected = {
        "pairs": {f"{a},{b}": v for (a, b), v in sorted(pairs.items())},
        "clusters": clusters,
        "topk": exact_topk(vecs, num_queries, k),
    }
    return corpus


def components(pairs) -> list[list[int]]:
    """Connected components of a pair graph, as sorted id lists."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent[root(a)] = root(b)
    out: dict[int, list[int]] = {}
    for x in parent:
        out.setdefault(root(x), []).append(x)
    return sorted(sorted(m) for m in out.values())


def exact_topk(vecs: np.ndarray, num_queries: int, k: int) -> dict[int, list[int]]:
    """Cosine top-k of each query vector (ids below ``num_queries``)
    among the other vectors, ties broken by id."""
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = unit[:num_queries] @ unit.T
    out = {}
    for q in range(num_queries):
        sims[q, q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -sims[q]))
        out[q] = [int(i) for i in order[:k]]
    return out


def write_corpus(c: Corpus, root: Path) -> dict[str, Path]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir(parents=True, exist_ok=True)
    paths = {"docs": root / "documents.parquet", "vecs": root / "embeddings.parquet"}
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(c.texts)), pa.int64()), "text": c.texts}),
        paths["docs"],
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(c.vectors)), pa.int64()),
                "embedding": pa.array(list(c.vectors), pa.list_(pa.float32())),
            }
        ),
        paths["vecs"],
    )
    return paths
