"""The workloads. Each drives the package only through its public
functions: ``setup`` builds the seeded inputs (and anything persisted),
``round`` runs one fixed mix of public calls through ``Runner.call``,
and ``check`` compares one round's outputs with the independent
references of ``refs.py``."""

from __future__ import annotations

import random
import shutil
from decimal import Decimal
from fractions import Fraction
from pathlib import Path

import gen
import refs


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _normalized(schema):
    """A schema with every field nullable: parquet stores every column
    as optional, so nullability is not part of what a table keeps."""
    from pyspark.sql import types as T

    def walk(t):
        if isinstance(t, T.StructType):
            return T.StructType([T.StructField(f.name, walk(f.dataType), True) for f in t.fields])
        if isinstance(t, T.ArrayType):
            return T.ArrayType(walk(t.elementType), True)
        if isinstance(t, T.MapType):
            return T.MapType(walk(t.keyType), walk(t.valueType), True)
        return t

    return walk(schema)


class FhirEtlTerminology:
    """The paper's write path, then its read path over what was written:
    each round loads a directory of patient bundles with
    ``load_from_directory``, writes them with ``save_as_database`` into
    a fresh database, closes the is-a hierarchy, pushes valuesets and
    runs a fixed query mix over the new tables."""

    name = "fhir_etl_terminology"
    #: the tables the ETL writes: the two the query mix reads
    TABLES = ("Condition", "Observation")
    PATIENTS = 40
    PER_TYPE = {"Condition": 100, "Encounter": 40, "Observation": 300, "MedicationRequest": 60}
    CODES = 1600
    CM_URI = "urn:perfbench:cm:snomed-icd"
    VS_URI = "urn:perfbench:vs:loinc-panel"

    def setup(self, spark, work: Path, seed: int) -> None:
        from bunsen_spark.localrel import values_df
        from bunsen_spark.operators.concept_maps import ConceptMaps
        from bunsen_spark.operators.value_sets import ValueSets

        rng = random.Random(seed)
        self.spark, self.work, self.passes = spark, work, 0
        self.h = gen.snomed_like_hierarchy(rng, self.CODES, 3)
        loinc = [f"{1000 + i}-{i % 10}" for i in range(1600)]
        meds = [str(200000 + 11 * i) for i in range(100)]
        self.bundles = gen.write_bundles(
            rng, work / "bundles", self.PATIENTS, self.PER_TYPE, self.h.codes, loinc, meds
        )
        self.items_per_round = sum(self.bundles.counts[t] for t in self.TABLES)
        edges = [(gen.SNOMED, p, gen.SNOMED, c) for c, p in self.h.edges]
        values_df(
            spark, edges, "ancestorSystem string, ancestorValue string, descendantSystem string, descendantValue string"
        ).repartition(4).write.parquet(str(work / "edges"))
        self.edges = spark.read.parquet(str(work / "edges"))

        # valueset specs: large and small is-a sets, the cycle, an
        # explicit list over 1,000 members, a ValueSet reference, meds
        self.closure = refs.reachability(self.h.edges)
        below: dict[str, int] = {}
        for _, a in self.closure:
            below[a] = below.get(a, 0) + 1
        small = next(c for c in self.h.codes[3:] if 5 <= below.get(c, 0) <= 40)
        self.loinc_big = rng.sample(loinc, 1200)
        self.loinc_panel = rng.sample(loinc, 40)
        self.meds = rng.sample(meds, 20)
        gen.write_value_set(work / "valuesets", self.VS_URI, gen.LOINC, self.loinc_panel)
        # the terminology stores are loaded once and kept in memory, as a
        # session that answers many queries would keep them
        vs = ValueSets.empty(spark).with_value_sets_from_directory(str(work / "valuesets"))
        self.value_sets = ValueSets(spark, vs.value_sets.cache(), vs.values.cache())
        self.isa = {"snomed_big": self.h.roots[0], "snomed_small": small, "snomed_cycle": self.h.cycle_member}
        self.expected_vs = {k: {gen.SNOMED: refs.descendants(self.closure, c)} for k, c in self.isa.items()}
        self.expected_vs["loinc_big"] = {gen.LOINC: set(self.loinc_big)}
        self.expected_vs["loinc_ref"] = {gen.LOINC: set(self.loinc_panel)}
        self.expected_vs["meds"] = {gen.RXNORM: set(self.meds)}
        if len(self.expected_vs["snomed_big"][gen.SNOMED]) <= 1000:
            raise RuntimeError("generator invariant: the big is-a valueset must exceed 1,000 codes")

        # concept maps: one usable target per mapped code, plus codes
        # mapped only 'narrower' (outside the translate whitelist)
        self.cm = {}
        rows = []
        for i, c in enumerate(rng.sample(self.h.codes, 800)):
            eq = "narrower" if i % 8 == 0 else "equivalent"
            rows.append((gen.SNOMED, c, gen.ICD10, f"I{c}", eq))
            if eq == "equivalent":
                self.cm[(gen.SNOMED, c)] = (gen.ICD10, f"I{c}")
        gen.write_concept_map(work / "conceptmaps", self.CM_URI, rows)
        cm = ConceptMaps.empty(spark).with_maps_from_directory(str(work / "conceptmaps"))
        self.concept_maps = ConceptMaps(spark, cm.concept_maps.cache(), cm.mappings.cache())
        self._expected = self._evaluate()

    #: the SQL mix: a small is-a valueset and an explicit one of over
    #: 1,000 members (every pushed valueset is checked through the push)
    QUERIES = {
        "q_small": "SELECT subject.patientId AS pid, count(*) AS n FROM {db}.condition"
        " WHERE in_valueset(code, 'snomed_small') GROUP BY subject.patientId",
        "q_loinc_big": "SELECT count(*) AS n FROM {db}.observation WHERE in_valueset(code, 'loinc_big')",
    }

    def specs(self) -> dict:
        from bunsen_spark.functions import valuesets as V

        s = {k: V.isa_snomed(c) for k, c in self.isa.items()}
        s["loinc_big"] = [(gen.LOINC, c) for c in self.loinc_big]
        s["loinc_ref"] = V.ValueSetReference(self.VS_URI, "1")
        s["meds"] = [(gen.RXNORM, c) for c in self.meds]
        return s

    def round(self, run) -> dict:
        from pyspark.sql import functions as F

        from bunsen_spark.functions import valuesets as V
        from bunsen_spark.operators.hierarchies import SNOMED_HIERARCHY_URI, Hierarchies
        from bunsen_spark.sources import bundles as B

        spark = self.spark
        self.passes += 1
        db = f"etl_{self.passes}"
        out = {"db": db, "path": self.work / "warehouse" / db}
        loaded = run.call(
            "sources.bundles.load_from_directory",
            lambda: B.load_from_directory(spark, str(self.bundles.directory)),
            action=None,
            lazy=True,
        )
        run.call(
            "sources.bundles.save_as_database",
            lambda: B.save_as_database(spark, loaded, db, *self.TABLES, path=str(out["path"])),
            action=None,
            items=self.items_per_round,
        )
        hier = run.call(
            "operators.hierarchies.transitive_closure",
            lambda: Hierarchies.from_edges(spark, self.edges, SNOMED_HIERARCHY_URI, "1"),
            action=lambda h: h.ancestors.select("descendantValue", "ancestorValue"),
            keep="closure",
            out=out,
        )
        pushed = run.call(
            "functions.valuesets.push_valuesets",
            lambda: V.push_valuesets(spark, self.specs(), hier, self.value_sets),
            action=None,
        )
        if pushed is not None:
            out["pushed"] = pushed
        try:
            for key, q in self.QUERIES.items():
                run.call("functions.valuesets.sql", lambda q=q: V.sql(spark, q.format(db=db)), keep=key, out=out)
            run.call(
                "functions.valuesets.in_valueset_join",
                lambda: V.in_valueset_join(spark.table(f"{db}.condition"), "code", "snomed_big").select("id"),
                keep="j_cond",
                out=out,
            )
        finally:
            if pushed is not None:
                V.pop_valuesets(spark)
        coding = F.col("code.coding")[0]  # a Condition's first coding
        run.call(
            "operators.concept_maps.translate",
            lambda: self.concept_maps.translate(
                spark.table(f"{db}.condition").select(
                    "id", coding["system"].alias("system"), coding["code"].alias("code")
                ),
                self.CM_URI,
                "system",
                "code",
            ),
            keep="t_cond",
            out=out,
        )
        return out

    def _evaluate(self) -> dict:
        """The Python evaluation of every query over the generated resources."""
        vs = self.expected_vs
        res = self.bundles.resources

        def code(r, key="code"):
            c = r[key]["coding"][0]
            return c["system"], c["code"]

        def member(r, ref, key="code"):
            s, c = code(r, key)
            return c in vs[ref].get(s, ())

        small: dict[str, int] = {}
        for r in res["Condition"]:
            if member(r, "snomed_small"):
                pid = r["subject"]["reference"].split("/")[1]
                small[pid] = small.get(pid, 0) + 1
        return {
            "closure": set(self.closure),
            "q_small": small,
            "q_loinc_big": sum(member(r, "loinc_big") for r in res["Observation"]),
            "j_cond": {r["id"] for r in res["Condition"] if member(r, "snomed_big")},
            "t_cond": {(r["id"], self.cm.get(code(r), (None, None))[1]) for r in res["Condition"]},
        }

    def check(self, out: dict) -> list[str]:
        errors = self._check_warehouse(out["db"])
        self.warehouse_bytes = _dir_bytes(out["path"])
        self.spark.sql(f"DROP DATABASE {out['db']} CASCADE")
        shutil.rmtree(out["path"], ignore_errors=True)
        return errors + self._check_terminology(out)

    def _check_warehouse(self, db: str) -> list[str]:
        """Per-type row counts and checksums equal the generator's record,
        and every table's schema is ``spark_schema_for`` its type."""
        from bunsen_spark.schema import spark_schema_for

        union = " UNION ALL ".join(
            f"SELECT '{t}' AS t, count(*) AS n, CAST({gen.SUM_SQL[t]} AS decimal(38,4)) AS s"
            f" FROM {db}.{t.lower()}"
            for t in self.TABLES
        )
        try:
            got = {r["t"]: (r["n"], r["s"]) for r in self.spark.sql(union).collect()}
        except Exception as e:  # noqa: BLE001 - a missing table is a check failure
            return [f"{db}: warehouse unreadable ({type(e).__name__})"]
        errors = []
        for t in self.TABLES:
            want = (self.bundles.counts[t], self.bundles.sums[t])
            n, s = got[t]
            if n != want[0] or Decimal(s) != want[1]:
                errors.append(f"{db}.{t}: rows/sum {n}/{s}, generator {want[0]}/{want[1]}")
            if _normalized(self.spark.table(f"{db}.{t.lower()}").schema) != _normalized(spark_schema_for(t)):
                errors.append(f"{db}.{t}: table schema differs from spark_schema_for")
        return errors

    def _check_terminology(self, out: dict) -> list[str]:
        exp, errors = self._expected, []

        def fail(key, got):
            errors.append(f"{key}: got {str(got)[:120]}, expected {str(exp.get(key))[:120]}")

        if "pushed" in out:
            got = {k: {s: set(c) for s, c in v.items()} for k, v in out["pushed"].items()}
            if got != self.expected_vs:
                errors.append("push_valuesets: valueset members differ from the Python evaluation")
        for key, rows in out.items():
            if key in ("db", "path", "pushed"):
                continue
            if key == "closure":
                got = {(r[0], r[1]) for r in rows}
                if len(got) != len(rows) or got != exp["closure"]:
                    fail(key, f"{len(rows)} pairs")
            elif key == "q_small":
                got = {r["pid"]: r["n"] for r in rows}
                if got != exp[key]:
                    fail(key, got)
            elif key == "j_cond":
                got = {r["id"] for r in rows}
                if len(got) != len(rows) or got != exp[key]:
                    fail(key, len(rows))
            elif key == "t_cond":
                got = {(r["id"], r["targetvalue"]) for r in rows}
                if len(got) != len(rows) or got != exp[key]:
                    fail(key, len(rows))
            elif rows[0][0] != exp[key]:
                fail(key, rows[0][0])
        return errors

    def trace_ratios(self, run) -> dict:
        scans = run.layer_rows("sources.bundles.save_as_database")
        return {
            "sources.bundles.scan_bytes_per_input_byte": run.per_round(scans["input_bytes"]) / self.bundles.input_bytes,
            "sources.bundles.warehouse_bytes_per_input_byte": self.warehouse_bytes / self.bundles.input_bytes,
            "functions.valuesets.sql.plan_ms": run.per_round(run.plan_ms("functions.valuesets.sql")),
        }


class CorpusCuration:
    """Exact and hashed near-dup pairs, MinHash-LSH pairs into clusters,
    and three top-k searches against seeded embeddings; plus one
    empty-query search each for ``brute_force_topk`` and
    ``ivf_kmeans_topk`` on a fixed, seed-independent input."""

    name = "corpus_curation"
    DOCS = 200
    VECTORS = 1200
    QUERIES = 16
    K = 10
    THRESHOLD = 0.5
    MAX_DF = 1000
    #: recall@K floors for the approximate searches (README)
    RECALL_FLOOR = {"ivf": 0.8, "ivfpq": 0.1}

    def setup(self, spark, work: Path, seed: int) -> None:
        import pandas as pd

        from bunsen_spark.operators import similarity as S

        rng = random.Random(seed)
        self.spark, self.work = spark, work
        self.docs_list = gen.near_dup_corpus(rng, self.DOCS, 0.3, 2000)
        docs = pd.DataFrame(self.docs_list, columns=["doc_id", "text"])
        spark.createDataFrame(docs, "doc_id long, text string").repartition(4).write.parquet(str(work / "docs"))
        self.docs = spark.read.parquet(str(work / "docs"))
        self.mat = gen.clustered_embeddings(seed, self.VECTORS, S.EMBED_DIM, 24)
        self._write_embeddings(self.mat, work / "emb")
        self.emb = spark.read.parquet(str(work / "emb"))
        self.queries = self.emb.where(f"vec_id < {self.QUERIES}")
        S.write_ivfpq_index(self.emb, str(work / "index"), n_iters=1)
        # the empty-query searches run on a fixed input, whatever the seed
        self._write_embeddings(gen.clustered_embeddings(0, 64, S.EMBED_DIM, 4), work / "fixed")
        self.fixed = spark.read.parquet(str(work / "fixed"))
        self.items_per_round = self.DOCS
        self._expected = self._evaluate()

    def _write_embeddings(self, mat, path: Path) -> None:
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": range(len(mat)), "embedding": list(mat.astype("float32"))})
        self.spark.createDataFrame(pdf, "vec_id long, embedding array<float>").repartition(4).write.parquet(str(path))

    def _evaluate(self) -> dict:
        frac = Fraction(self.THRESHOLD)
        strings = {d: refs.shingles(t, 3) for d, t in self.docs_list}
        hashed = {d: {refs.hash31(s) for s in sh} for d, sh in strings.items()}
        exact = refs.cosine_topk(self.mat, range(self.QUERIES), self.K)
        return {
            "prefix": refs.exact_jaccard_pairs(strings, frac.numerator, frac.denominator),
            "jaccard": refs.hashed_jaccard_pairs(hashed, self.THRESHOLD, self.MAX_DF),
            "brute": exact,
        }

    def round(self, run) -> dict:
        from bunsen_spark.localrel import values_df
        from bunsen_spark.operators import dedup as D
        from bunsen_spark.operators import setjoin as SJ
        from bunsen_spark.operators import similarity as S

        spark, out = self.spark, {}
        # timed rounds call the four cheapest kinds twice, so their
        # medians rest on two samples for about a third more round time
        reps = range(2 if run.phase == "timed" else 1)
        run.call(
            "operators.setjoin.prefix_jaccard_pairs",
            lambda: SJ.prefix_jaccard_pairs(self.docs, self.THRESHOLD, shingle_n=3),
            keep="prefix",
            out=out,
        )
        run.call("operators.dedup.jaccard_pairs", lambda: D.jaccard_pairs(self.docs), keep="jaccard", out=out)
        for i in reps:
            run.call("operators.dedup.minhash_lsh_pairs", lambda: D.minhash_lsh_pairs(self.docs), keep=f"minhash{i}", out=out)
            pairs = [(r["a_id"], r["b_id"]) for r in out.get(f"minhash{i}", [])]
            run.call(
                "operators.dedup.near_dup_clusters",
                lambda: D.near_dup_clusters(values_df(spark, pairs, "a_id long, b_id long")),
                keep=f"clusters{i}",
                out=out,
                items=self.DOCS if i == 0 else 0,
            )
            out[f"cluster_input{i}"] = pairs
        k, q = self.K, self.QUERIES
        for i in reps:
            run.call("operators.similarity.brute_force_topk", lambda: S.brute_force_topk(self.emb, k, q), keep=f"brute{i}", out=out)
        run.call("operators.similarity.ivf_kmeans_topk", lambda: S.ivf_kmeans_topk(self.emb, k, q), keep="ivf", out=out)
        for i in reps:
            run.call(
                "operators.similarity.ivfpq_index_topk",
                lambda: S.ivfpq_index_topk(spark, str(self.work / "index"), self.queries, k),
                keep=f"ivfpq{i}",
                out=out,
            )
        run.call("operators.similarity.brute_force_topk", lambda: S.brute_force_topk(self.fixed, 5, 0), keep="empty_brute", out=out)
        run.call("operators.similarity.ivf_kmeans_topk", lambda: S.ivf_kmeans_topk(self.fixed, 5, 0, n_centroids=2, n_iters=1), keep="empty_ivf", out=out)
        return out

    @staticmethod
    def _ranked(rows) -> dict[int, list[int]]:
        by_q: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        return {qid: [n for _, n in sorted(v)] for qid, v in by_q.items()}

    def check(self, out: dict) -> list[str]:
        exp, errors = self._expected, []
        if "prefix" in out:
            got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["uni"]) for r in out["prefix"]}
            if len(got) != len(out["prefix"]) or got != exp["prefix"]:
                errors.append(f"prefix_jaccard_pairs: {len(got)} pairs, reference {len(exp['prefix'])}")
        if "jaccard" in out:
            got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in out["jaccard"]}
            ok = got.keys() == exp["jaccard"].keys() and all(
                abs(got[p] - exp["jaccard"][p]) <= 1e-6 for p in got
            )
            if not ok or len(got) != len(out["jaccard"]):
                errors.append(f"jaccard_pairs: {len(got)} pairs, reference {len(exp['jaccard'])}")
        for i in range(2):
            if f"minhash{i}" in out:
                got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in out[f"minhash{i}"]}
                if not got.keys() <= exp["jaccard"].keys() or any(
                    abs(got[p] - exp["jaccard"][p]) > 1e-6 for p in got
                ):
                    errors.append("minhash_lsh_pairs: pairs outside the exact reference")
            if f"clusters{i}" in out:
                want = refs.components(out[f"cluster_input{i}"])
                got = {r["doc_id"]: r["cluster_id"] for r in out[f"clusters{i}"]}
                keepers = {r["doc_id"] for r in out[f"clusters{i}"] if r["is_keeper"]}
                if got != want or keepers != {d for d, c in want.items() if d == c}:
                    errors.append("near_dup_clusters: components differ from union-find")
            if f"brute{i}" in out and self._ranked(out[f"brute{i}"]) != exp["brute"]:
                errors.append("brute_force_topk: differs from numpy exact top-k")
        self.recall = {}
        for key, keys in (("ivf", ["ivf"]), ("ivfpq", ["ivfpq0", "ivfpq1"])):
            for got in (out[k] for k in keys if k in out):
                self.recall[key] = refs.recall_at_k(self._ranked(got), exp["brute"])
                if self.recall[key] < self.RECALL_FLOOR[key]:
                    errors.append(f"{key}: recall@{self.K} {self.recall[key]:.3f} below {self.RECALL_FLOOR[key]}")
        for key in ("empty_brute", "empty_ivf"):
            if key in out and out[key]:
                errors.append(f"{key}: an empty query set returned rows")
        return errors

    def trace_ratios(self, run) -> dict:
        from pyspark.sql import functions as F

        from bunsen_spark.operators import dedup as D
        from bunsen_spark.operators import setjoin as SJ

        frac = Fraction(self.THRESHOLD)
        toks = self.docs.select("doc_id", F.explode(F.expr(D.shingles_expr(3))).alias("tok"))
        ranked, _ = SJ.ranked_tokens(toks)
        bound = SJ.prefix_candidate_volume(ranked, frac.numerator, frac.denominator)
        return {
            "operators.setjoin.candidate_bound_per_pair": bound / max(len(self._expected["prefix"]), 1),
            "operators.similarity.ivf_kmeans_topk.recall_at_k": self.recall.get("ivf", 0.0),
            "operators.similarity.ivfpq_index_topk.recall_at_k": self.recall.get("ivfpq", 0.0),
        }


WORKLOADS = {w.name: w for w in (FhirEtlTerminology, CorpusCuration)}
