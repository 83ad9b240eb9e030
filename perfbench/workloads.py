"""The benchmark workloads.

Each workload makes its inputs from the seed (``prepare``, part of
set-up), runs one pass of sequential steps through the program's public
API (``run``, the timed unit), and checks the outputs of a pass
(``check``, outside the timed region). Every step is a span; the spans
directly under the pass are the "queries" whose times pool into
``query_p50_s`` / ``query_p90_s``.

``layer_hooks`` names public functions that the traced run wraps in a
span of their own, so calls the program makes internally (for example
``SafedataPipeline.measure_utility`` calling ``profile.basic_stats``)
get timed and their Spark jobs attributed without changing the program.
"""

from __future__ import annotations

import importlib
import os
import traceback

from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.stats import fingerprint

NOOP = "noop"


def force(df) -> None:
    """Execute every column of ``df`` without collecting rows."""
    df.write.format(NOOP).mode("overwrite").save()


class Workload:
    name = ""
    layer_hooks: tuple[tuple[str, str, str], ...] = ()

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data")
        self.input_rows: dict[str, int] = {}
        self.size: dict[str, object] = {}
        # (row count, order-insensitive digest) of checked outputs, recorded
        # with the run conditions so two runs of one seed can be compared
        self.fingerprints: dict[str, tuple[int, str]] = {}

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, tracer) -> dict:
        raise NotImplementedError

    def check(self, spark, out: dict) -> list[str]:
        raise NotImplementedError

    def total_input_rows(self) -> int:
        return sum(self.input_rows.values())


class PrivacyPipeline(Workload):
    """The reference's user journey through ``SafedataPipeline``."""

    name = "privacy_pipeline"
    SF = 0.001
    QI_RISK = ["c_nationkey", "c_acctbal", "c_mktsegment"]
    QI_ANON = ["l_returnflag", "l_linestatus", "l_linenumber", "l_tax", "l_extendedprice"]
    K = 10
    DONE = frozenset({"pii_identified", "privacy_techniques"})
    layer_hooks = (
        ("safedata_pipeline_spark.operators.profile", "basic_stats", "profile.build"),
        ("safedata_pipeline_spark.operators.drift", "distribution_drift", "drift.build"),
        ("safedata_pipeline_spark.operators.ml_utility", "model_utility_check", "ml_utility"),
    )

    def prepare(self, spark) -> None:
        rows = datagen.generate(self.data_dir, self.seed, sf=self.SF)
        self.input_rows = {t: rows[t] for t in ("customer", "lineitem")}
        self.size = {"sf": self.SF}

    def run(self, spark, tracer) -> dict:
        from safedata_pipeline_spark.pipeline import SafedataPipeline
        from safedata_pipeline_spark.sources.tables import load_table

        with tracer.span("load"):  # the journey's upload step
            cust = load_table(spark, self.data_dir, "customer")
            half = F.xxhash64(F.col("c_custkey"), F.lit(self.seed)) % 2 == 0
            li = load_table(spark, self.data_dir, "lineitem").withColumn(
                "target", (F.col("l_linestatus") == "F").cast("int")
            )
        out: dict = {}
        with tracer.span("risk"):
            p = SafedataPipeline(spark).load(cust.where(~half), cust.where(half))
            out["risk"] = p.assess_risk(self.QI_RISK, "c_custkey")["overall_risk"]
        with tracer.span("protect.build"):
            q = SafedataPipeline(spark).load(li, li)
            protected = q.protect(
                sdc_cols=["l_returnflag"], generalize_cols=["l_extendedprice"],
                dp_cols=["l_quantity", "l_discount"], seed=self.seed,
            )
        with tracer.span("protect.exec"):
            force(protected)
        out["protected"] = protected
        with tracer.span("anonymity"):
            out["audit_before"] = q.audit_anonymity(self.QI_ANON, k=self.K)
            q.enforce_anonymity(self.QI_ANON, k=self.K, residual="drop")
            out["audit_after"] = q.audit_anonymity(self.QI_ANON, k=self.K)
        with tracer.span("utility"):
            tables = q.measure_utility(target="target")
        with tracer.span("profile.exec"):
            out["profile_rows"] = [
                len(tables[t].collect()) for t in ("profile_before", "profile_after")
            ]
        with tracer.span("drift.exec"):
            out["drift_rows"] = len(tables["drift"].collect())
        with tracer.span("ml_utility"):
            out["model_utility"] = {r["dataset"]: r["acc"] for r in tables["model_utility"].collect()}
        with tracer.span("compliance"):
            q.compliance(self.DONE)
            out["compliance_score"] = q.results["compliance_score"]
        with tracer.span("reporting"):
            out["report"] = q.report(os.path.join(self.work_dir, "report.html"))
        return out

    def check(self, spark, out: dict) -> list[str]:
        problems = []
        if not 0.0 <= out["risk"] <= 1.0:
            problems.append(f"risk {out['risk']} outside [0, 1]")
        if not out["audit_after"]["satisfies_k"]:
            problems.append("the audit after enforce does not satisfy k")
        if abs(out["compliance_score"] - len(self.DONE) / 12) > 1e-6:
            problems.append(f"compliance score {out['compliance_score']}")
        if min(out["profile_rows"]) < 1 or out["drift_rows"] < 1:
            problems.append("empty utility table")
        with open(out["report"], encoding="utf-8") as f:
            if "Risk Assessment" not in f.read():
                problems.append("the report lacks its risk section")
        n_protected, n_in = out["protected"].count(), self.input_rows["lineitem"]
        if n_protected != n_in:
            problems.append(f"protected rows {n_protected} != input rows {n_in}")
        return problems


class VectorSearch(Workload):
    """k-means fit, IVF-PQ ANN, PQ encoding and semantic dedup on
    embeddings, then ``CorpusPipeline`` curation on documents.

    The corpus steps ride in this pass rather than in a workload of
    their own: a separate workload would pay its own session start and
    cold first use, which the run budget has no room for."""

    name = "vector_search"
    N_VECS = 500
    N_DOCS = 300
    N_QUERIES = 20
    K = 5
    CORPUS_STEPS = ("input", "quality", "unit_dedup", "near_dedup")

    def prepare(self, spark) -> None:
        rows = datagen.generate(
            self.data_dir, self.seed, sf=0.001, n_documents=self.N_DOCS, n_embeddings=self.N_VECS
        )
        self.input_rows = {t: rows[t] for t in ("embeddings", "documents")}
        self.size = {"embeddings": self.N_VECS, "documents": self.N_DOCS}

    def run(self, spark, tracer) -> dict:
        from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline
        from safedata_pipeline_spark.operators import clustering as CL
        from safedata_pipeline_spark.operators import dedup as DD
        from safedata_pipeline_spark.operators import similarity as SIM
        from safedata_pipeline_spark.sources.tables import load_table

        with tracer.span("load"):
            emb = load_table(spark, self.data_dir, "embeddings")
            docs = load_table(spark, self.data_dir, "documents")
        out: dict = {}
        with tracer.span("clustering.kmeans_fit"):
            out["kmeans"] = CL.kmeans_fit(emb, k=8, iterations=5).collect()
        with tracer.span("similarity.ann_topk_ivf_pq"):
            out["ann"] = SIM.ann_topk_ivf_pq(
                emb.where(F.col("vec_id") < self.N_QUERIES), emb, k=self.K,
                num_cells=8, coarse_iterations=3, n_probe=2,
                dim=datagen.EMBED_DIM, n_sub=8, codebook_k=8, pq_iterations=2,
            ).collect()
        with tracer.span("similarity.pq_codes"):
            codes = SIM.pq_codes(emb, dim=datagen.EMBED_DIM, n_sub=8, codebook_k=8, iterations=2)
            out["pq"] = tuple(codes.select(
                F.count(F.lit(1)), F.sum(F.hash(*codes.columns).cast("bigint"))
            ).first())
        with tracer.span("dedup.semantic_pairs"):
            out["semantic"] = DD.semantic_pairs(
                emb, k=8, iterations=3, threshold=0.4, cell_cap=64
            ).collect()
        # each CorpusPipeline step counts its survivors (one job), so the
        # funnel is part of the step; the constructor's input count is
        # part of the first step
        with tracer.span("corpus_pipeline.filter_quality"):
            cp = CorpusPipeline(docs).filter_quality(keep_fraction=0.6)
        with tracer.span("corpus_pipeline.dedup_units"):
            cp.dedup_units()  # documents have one line each: exact-copy removal
        with tracer.span("corpus_pipeline.dedup_near"):
            cp.dedup_near(threshold=0.5)
        with tracer.span("corpus_pipeline.pack"):
            out["packed"] = cp.pack(budget=64, buckets=8).collect()
        out["funnel"] = cp.funnel_report()
        return out

    def check(self, spark, out: dict) -> list[str]:
        problems = []
        n = self.input_rows["embeddings"]
        assigned = sum(r["n_assigned"] for r in out["kmeans"])
        if assigned != n:
            problems.append(f"k-means counts sum to {assigned}, not {n}")
        per_query: dict = {}
        for r in out["ann"]:
            per_query[r[0]] = per_query.get(r[0], 0) + 1
        if len(per_query) != self.N_QUERIES or set(per_query.values()) != {self.K}:
            problems.append(f"ANN rows per query: {sorted(per_query.values())}")
        if out["pq"][0] != n:
            problems.append(f"{out['pq'][0]} PQ codes for {n} vectors")
        if any(r["id_a"] >= r["id_b"] for r in out["semantic"]):
            problems.append("a semantic pair has id_a >= id_b")

        funnel = [out["funnel"][k] for k in self.CORPUS_STEPS]
        if funnel[0] != self.input_rows["documents"]:
            problems.append(f"corpus funnel input {funnel[0]} != {self.input_rows['documents']}")
        if funnel != sorted(funnel, reverse=True) or funnel[-1] < 1:
            problems.append(f"corpus funnel not monotone or drained: {funnel}")
        if len(out["packed"]) != funnel[-1]:
            problems.append(f"{len(out['packed'])} packed rows for {funnel[-1]} documents")
        by_bucket: dict = {}
        for r in out["packed"]:
            by_bucket.setdefault(r["bucket"], []).append(r)
        for bucket, rows in by_bucket.items():
            offset = 0
            for r in sorted(rows, key=lambda r: r["doc_id"]):
                if r["start_offset"] != offset:
                    problems.append(f"pack bucket {bucket}: offsets not gap-free")
                    break
                offset += r["n_tokens"]
        # the k-means centroid column is array<double>: canonicalized, not sorted raw
        self.fingerprints = {k: fingerprint(out[k]) for k in ("kmeans", "ann", "semantic", "packed")}
        return problems


class RegistryWindow(Workload):
    """A fixed slice of the registry's hash-checked window, in registry order.

    The order is fixed: in a first pass the first query absorbs most of the
    session's first-use JIT, so a seeded order made per-query times depend
    on the seed more than on the code."""

    name = "registry_window"
    SF = 0.001
    SLICE = slice(6, 11)

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry

        rows = datagen.generate(self.data_dir, self.seed, sf=self.SF)
        self.input_rows = rows
        self.names = list(entry.queries())[self.SLICE]
        self.size = {"sf": self.SF, "queries": self.names}

    def run(self, spark, tracer) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        for name in self.names:
            with tracer.span("registry.query"):
                with tracer.span("registry.build"):
                    df = qs[name](spark, self.data_dir)
                with tracer.span("registry.analyze"):
                    df.columns
                with tracer.span("registry.exec"):
                    force(df)
        return {}

    def check(self, spark, out: dict) -> list[str]:
        import duckdb

        import __spark_entry__ as entry
        from safedata_pipeline_spark.sources.tables import TABLES

        compare = importlib.import_module("tools.check_oracle").compare
        qs, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            problems = []
            for name in self.names:
                try:
                    if name in oracles:
                        spd = qs[name](spark, self.data_dir).toPandas()
                        opd = con.sql(oracles[name]).df()
                        problems += [
                            f"{name}: {p}" for p in compare(name, spd, opd)
                            if not p.startswith("CLOSE-NOT-EXACT")
                        ]
                    else:
                        a = fingerprint(qs[name](spark, self.data_dir).collect())
                        b = fingerprint(qs[name](spark, self.data_dir).collect())
                        self.fingerprints[name] = a
                        if a != b:
                            problems.append(f"{name}: rows-only fingerprint {a} then {b}")
                except Exception:
                    problems.append(f"{name}: check raised\n{traceback.format_exc()}")
            return problems
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (PrivacyPipeline, VectorSearch, RegistryWindow)}
