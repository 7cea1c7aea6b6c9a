"""The benchmark's workloads.

Each workload generates its inputs from the seed once (``generate``),
stages them and prepares the program's state in ``setup`` (run several
times, each into fresh paths), then runs one closed-loop operation per
``op`` call: call 0 passes through every layer the workload enters and
builds what the later calls, one repeated query each, read. Every call
into the package sits in a span named after the
layer (module) it enters; every operation checks its outputs against the
generator's expected answers and reports a failure instead of raising.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

import gen

#: resource types the JSON pass lands in the warehouse, and the type the
#: XML slice is extracted to; the bundles also carry Condition,
#: MedicationRequest and Encounter entries
JSON_TYPES = ("Observation",)
XML_TYPES = ("Patient",)

#: input sizes per workload
SIZES = {
    "cohort_query": {"patients": 40, "concepts": 300, "depth": 6, "isa_specs": 2},
    "corpus_curation": {"docs": 1000, "clusters": 25, "cluster_size": 4, "vectors": 5000, "centers": 16},
}
DIM = 64
TOPK = 10
NUM_QUERIES = 32
#: IVF recall@k against exact top-k below which an ANN pass fails
RECALL_FLOOR = 0.6


@dataclass
class Result:
    ok: bool
    detail: str = ""


def _check(ok: bool, what: str, got, want) -> Result:
    return Result(ok, "" if ok else f"{what}: got {got!r}, want {want!r}")


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def fresh(self, name: str) -> Path:
        p = self.work / name
        shutil.rmtree(p, ignore_errors=True)
        return p

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Result:
        raise NotImplementedError

    def probe(self) -> dict[str, float]:
        """Shape ratios measured once, after the timed loop, in traced runs."""
        return {}

    def compile_schemas(self, types) -> None:
        """A cold schema compile: the caches cleared, then refilled."""
        from bunsen_spark.schema import resources

        with self.tracer.span("schema"):
            resources.spark_schema_for.cache_clear()
            resources.json_schema_for.cache_clear()
            for rt in types:
                resources.spark_schema_for(rt)
                resources.json_schema_for(rt)


# -- cohort_query -------------------------------------------------------------------


class CohortQuery(Workload):
    """Analyst queries over a bucketed FHIR warehouse. The first
    operation builds what they read: the hierarchy closure, the landed
    bundles, the pushed valuesets and the XML slice; every later one is
    one SQL ``in_valueset`` count query over the landed observations."""

    name = "cohort_query"

    def generate(self):
        s = SIZES[self.name]
        self.term = gen.make_terminology(self.seed, s["concepts"], s["depth"], s["isa_specs"])
        codes = self.term.snomed.codes[: s["concepts"]]
        self.data = gen.make_fhir(self.seed, s["patients"], codes, codes)
        want = self.data.expected
        self.want = {rt: want["counts"][rt] for rt in JSON_TYPES}
        self.want_xml = {rt: want["xml_counts"][rt] for rt in XML_TYPES}
        obs_codes = [c for p in self.data.patients for c, _ in p["observations"]]
        self.want_hits = {}
        for name, spec in self.term.specs.items():
            members = {c for _, c in gen.spec_members(self.term, spec)}
            self.want_hits[name] = sum(c in members for c in obs_codes)

    def setup(self, rep):
        from bunsen_spark.sources.bundles import load_from_directory

        root = self.fresh(f"inputs{rep}")
        self.tsv = gen.write_terminology(self.term, root / "terminology")
        self.paths = gen.write_fhir(self.data, root / "bundles")
        self.compile_schemas(JSON_TYPES + XML_TYPES)
        with self.tracer.span("sources.bundles"):
            load_from_directory(self.spark, str(self.paths["json"])).count()

    def op(self, i):
        if i == 0:
            return self.build()
        hits = self.query()
        return _check(hits == self.want_hits, "in_valueset hits", hits, self.want_hits)

    def build(self):
        stored = self.build_hierarchy()
        self.ingest()
        pushed = self.push(stored)
        hits = self.query()
        xml = self.ingest_xml()
        want = self.term.expected
        sizes = {name: sum(len(c) for c in systems.values()) for name, systems in pushed.items()}
        checks = [
            _check(self.pairs == want["closure_pairs"], "closure pairs", self.pairs, want["closure_pairs"]),
            _check(sizes == want["valueset_sizes"], "valueset sizes", sizes, want["valueset_sizes"]),
            _check(self.landed == self.want, "warehouse counts", self.landed, self.want),
            _check(hits == self.want_hits, "in_valueset hits", hits, self.want_hits),
            _check(xml == self.want_xml, "xml counts", xml, self.want_xml),
        ]
        return next((c for c in checks if not c.ok), Result(True))

    def build_hierarchy(self):
        """Closure fixpoint over the relationship file, stored and read back."""
        from bunsen_spark.operators.hierarchies import SNOMED_HIERARCHY_URI, Hierarchies, snomed_relationship_edges

        with self.tracer.span("operators.hierarchies"):
            with self.tracer.span("operators.hierarchies", count_actions=True):
                edges = snomed_relationship_edges(self.spark, str(self.tsv))
                closed = Hierarchies.from_edges(self.spark, edges, SNOMED_HIERARCHY_URI, "1")
            closed.write_to_database("terminology", path=str(self.fresh("ancestors")))
            stored = Hierarchies.get_from_database(self.spark, "terminology")
            self.pairs = stored.ancestors.count()
        return stored

    def ingest(self):
        """JSON bundles into the bucketed warehouse, counted back."""
        from bunsen_spark.sources.bundles import load_from_directory, save_as_database

        path = self.fresh("warehouse")
        with self.tracer.span("sources.bundles"):
            bundles = load_from_directory(self.spark, str(self.paths["json"]))
            save_as_database(self.spark, bundles, "warehouse", *JSON_TYPES, path=str(path), bucket_by_subject=True)
        with self.tracer.span("sources.warehouse"):
            self.landed = {rt: self.spark.table(f"warehouse.{rt.lower()}").count() for rt in JSON_TYPES}
        self.warehouse_bytes = sum(f.stat().st_size for f in path.rglob("*") if f.is_file())

    def push(self, stored):
        """Push the valuesets for the queries that follow."""
        from bunsen_spark.functions import valuesets as vs

        make = {"snomed": vs.isa_snomed, "codes": list}
        specs = {name: make[kind](arg) for name, (kind, arg) in self.term.specs.items()}
        with self.tracer.span("functions.valuesets") as push:
            pushed = vs.push_valuesets(self.spark, specs, hierarchies=stored)
        self.push_s = push.end - push.start
        return pushed

    def query(self):
        """Count the landed observations in each pushed valueset with the
        SQL ``in_valueset`` idiom, one query for all of them."""
        from bunsen_spark.functions import valuesets as vs

        names = sorted(self.term.specs)
        counts = ", ".join(f"sum(CAST(in_valueset(code, '{n}') AS INT)) AS `{n}`" for n in names)
        with self.tracer.span("functions.valuesets"):
            row = vs.sql(self.spark, f"SELECT {counts} FROM warehouse.observation").collect()[0]
        return {n: row[n] for n in names}

    def ingest_xml(self):
        from bunsen_spark.sources.bundles import extract_entry
        from bunsen_spark.sources.xml import load_from_directory_xml

        with self.tracer.span("sources.xml"):
            xml = load_from_directory_xml(self.spark, str(self.paths["xml"]))
            return {rt: extract_entry(self.spark, xml, rt).count() for rt in XML_TYPES}


# -- corpus_curation -----------------------------------------------------------------


class CorpusCuration(Workload):
    """Near-duplicate detection, exact set-join and IVF top-k in the
    first operation; every operation runs one exact top-k search."""

    name = "corpus_curation"

    def generate(self):
        s = SIZES[self.name]
        self.corpus = gen.make_corpus(
            self.seed, s["docs"], s["clusters"], s["cluster_size"], s["vectors"], DIM, s["centers"], NUM_QUERIES, TOPK
        )
        self.want_topk = {int(q): ids for q, ids in self.corpus.expected["topk"].items()}

    def setup(self, rep):
        paths = gen.write_corpus(self.corpus, self.fresh(f"corpus{rep}"))
        self.docs = self.spark.read.parquet(str(paths["docs"]))
        self.vecs = self.spark.read.parquet(str(paths["vecs"]))
        self.docs.count()
        self.vecs.count()

    def op(self, i):
        if i == 0:
            return self.curate()
        return self.search()

    def curate(self):
        """Near-duplicate clusters, the exact set-join and the IVF top-k."""
        from bunsen_spark.operators.dedup import minhash_lsh_pairs, near_dup_clusters
        from bunsen_spark.operators.setjoin import prefix_jaccard_pairs
        from bunsen_spark.operators.similarity import ivf_topk

        want = self.corpus.expected
        with self.tracer.span("operators.dedup"):
            rows = near_dup_clusters(minhash_lsh_pairs(self.docs, 0.5)).collect()
        clusters: dict[int, list[int]] = {}
        for r in rows:
            clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
        got_clusters = sorted(sorted(m) for m in clusters.values())
        with self.tracer.span("operators.setjoin"):
            pairs = {f"{r['doc_a']},{r['doc_b']}": [r["inter"], r["uni"]] for r in prefix_jaccard_pairs(self.docs, 0.5, shingle_n=3).collect()}
        want_pairs = {k: list(v) for k, v in want["pairs"].items()}
        with self.tracer.span("operators.similarity"):
            approx = topk_lists(ivf_topk(self.vecs, TOPK, NUM_QUERIES).collect())
        self.recall = recall(approx, self.want_topk)
        checks = [
            _check(got_clusters == want["clusters"], "clusters", len(got_clusters), len(want["clusters"])),
            _check(pairs == want_pairs, "set-join pairs", len(pairs), len(want_pairs)),
            _check(self.recall >= RECALL_FLOOR, "ivf recall", self.recall, RECALL_FLOOR),
            self.search(),
        ]
        return next((c for c in checks if not c.ok), Result(True))

    def search(self):
        """Exact top-k for the query vectors, checked against numpy."""
        from bunsen_spark.operators.similarity import brute_force_topk

        with self.tracer.span("operators.similarity"):
            exact = topk_lists(brute_force_topk(self.vecs, TOPK, NUM_QUERIES).collect())
        got = recall(exact, self.want_topk)
        return _check(got == 1.0, "brute-force recall", got, 1.0)

    def probe(self):
        """Verified pairs per candidate pair for the LSH and prefix-filter
        candidate stages, each called on its own."""
        from bunsen_spark.operators import dedup, setjoin

        with self.tracer.span("probe"):
            sigs = dedup.minhash_signature(self.docs)
            bands = sigs.select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(0, {dedup.BANDS - 1}),"
                        f" b -> slice(sig, b * {dedup.ROWS_PER_BAND} + 1, {dedup.ROWS_PER_BAND}))"
                    )
                ).alias("band", "key"),
            )
            lsh_cands = (
                bands.alias("x").join(bands.alias("y"), ["band", "key"])
                .where(F.col("x.doc_id") < F.col("y.doc_id"))
                .select("x.doc_id", "y.doc_id").distinct().count()
            )
            lsh_pairs = dedup.minhash_lsh_pairs(self.docs, 0.5).count()
            toks = self.docs.select("doc_id", F.explode(F.expr(dedup.shingles_expr(3))).alias("tok"))
            ranked, _ = setjoin.ranked_tokens(toks)
            prefix_cands = setjoin.jaccard_prefix_candidates(ranked, 1, 2).count()
            prefix_pairs = len(self.corpus.expected["pairs"])
        return {
            "operators.dedup.verified_per_candidate": lsh_pairs / max(1, lsh_cands),
            "operators.setjoin.verified_per_candidate": prefix_pairs / max(1, prefix_cands),
        }


def topk_lists(rows) -> dict[int, list[int]]:
    out: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["neighbor_id"])))
    return {q: [n for _, n in sorted(v)] for q, v in out.items()}


def recall(got: dict[int, list[int]], want: dict[int, list[int]]) -> float:
    hits = sum(len(set(got.get(q, ())) & set(ids)) for q, ids in want.items())
    return hits / max(1, sum(len(ids) for ids in want.values()))


WORKLOADS = {w.name: w for w in (CohortQuery, CorpusCuration)}
