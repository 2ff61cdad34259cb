"""The benchmark's workloads: what one iteration runs and how its outputs
are checked.

Both workloads are driven by one closed-loop client: each operation starts
only after the previous one returned.

- ``dag_scaled``: the paper's DAG (``run_pipeline``, default branch) over a
  generated power-law domain with a planted mega-hub, writing both reference
  sinks through ``sources.writers``. The sink writes carry the execution.
- ``catalog_mix``: catalog queries in owner-before-rider order, each
  preceded by ``memo_owners.reset_for`` exactly as ``bench.py`` does, so
  owners rebuild their session memos and riders hit them.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Iteration:
    index: int = -1
    wall: float = 0.0
    ops: dict[str, float] = field(default_factory=dict)
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    check_s: float = 0.0


def record_analysis(tracer, *frames) -> None:
    """Add the analysis phase of each output DataFrame's own QueryExecution.
    Read it before the DataFrame runs: a write re-enters the same tracker,
    which then reports the span from the first analysis to the last."""
    if tracer.enabled:
        for df in frames:
            opt = df._jdf.queryExecution().tracker().phases().get("analysis")
            if opt.isDefined():
                tracer.add("plan.analysis_s", opt.get().durationMs() / 1000.0)


def run_op(spark, tracer, it: Iteration, name: str, fn) -> None:
    """Run one operation; in the traced run, under its own job group, with
    the status tracker's job/stage/task counts and the persisted-block peak
    recorded after it. A raising operation counts as failed."""
    sc = spark.sparkContext
    if tracer.enabled:
        group = f"it{tracer.iteration}:{name}"
        sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        with tracer.span(name):
            fn()
    except Exception:  # noqa: BLE001 - the run keeps going and reports it
        traceback.print_exc()
        it.failed += 1
        return
    finally:
        it.ops[name] = time.perf_counter() - t0
    if tracer.enabled:
        status = sc.statusTracker()
        for job_id in status.getJobIdsForGroup(group):
            tracer.add("spark.jobs", 1)
            info = status.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                stage = status.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    tracer.add("spark.stages", 1)
                    tracer.add("spark.tasks", stage.numCompletedTasks)
        cached = sum(
            r.memSize() + r.diskSize() for r in sc._jsc.sc().getRDDStorageInfo()
        )
        tracer.peak("cache.peak_bytes", cached)
        sc.setJobGroup(None, None)


def _checked(it: Iteration, name: str, fn) -> None:
    """Run one output check, untimed; an exception is a failed check."""
    t0 = time.perf_counter()
    try:
        ok, detail = fn()
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        traceback.print_exc()
        ok, detail = False, f"{type(exc).__name__}: {exc}"
    it.checks.append((name, bool(ok), detail))
    it.check_s += time.perf_counter() - t0


def frame_digest(df) -> str:
    """Order-insensitive content digest: row count and the sum of row
    hashes, each cut to 40 bits so the sum cannot overflow a long."""
    from pyspark.sql import functions as F

    row = df.select(
        F.pmod(F.xxhash64(*df.columns), F.lit(1 << 40)).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return f"{row['n']}-{row['s'] or 0}"


# ---------------------------------------------------------------------------
# dag_scaled

#: domain file name -> run_pipeline keyword
DAG_INPUTS = {
    "drug": "drug",
    "target": "target",
    "disease": "disease",
    "evidence": "evidence",
    "interactions": "interactions",
    "aggregated_drugs": "aggregated_drugs",
    "studies": "studies",
    "predictions": "predictions",
    "faers_drug": "faers_by_drug",
    "faers_target": "faers_by_target",
    "expression": "expression",
}

#: run_pipeline's callees, by the name drug_disease.py imports them under
DAG_CALLEES = {
    "shape_drugs": "dag.inputs.shape",
    "shape_expression": "dag.inputs.shape",
    "shape_targets": "dag.inputs.shape",
    "shape_diseases": "dag.inputs.shape",
    "shape_aggregated_drugs": "dag.inputs.shape",
    "shape_evidence": "dag.inputs.shape",
    "shape_genetics_evidence": "dag.inputs.shape",
    "shape_faers_by_drug": "dag.inputs.shape",
    "shape_faers_by_target": "dag.inputs.shape",
    "tissue_filtered_network": "dag.network",
    "drugs_for_disease": "dag.wiring",
    "drugs_for_target": "dag.wiring",
    "propagate_over_network": "dag.propagation",
    "pivot_evidence_scores": "dag.scoring",
    "make_associations": "dag.scoring",
}


class DagScaled:
    name = "dag_scaled"
    #: protein count; sized so the two sink writes, which run the DAG's
    #: execution, take most of an iteration's wall on a 4-core box
    proteins = 4000

    def prepare(self, spark, work: str, seed: int) -> str:
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.sink = os.path.join(work, "sink")
        self.captured: dict[str, object] = {}
        return gen.write_dag_domain(self.inputs, seed, self.proteins)

    def instrument(self, tracer: Tracer) -> None:
        from platform_etl_drug_disease_spark.plans import drug_disease

        def keep(key, pick):
            return lambda args, kwargs, result: self.captured.__setitem__(
                key, pick(args, result)
            )

        hooks = {
            "tissue_filtered_network": keep("network", lambda a, r: r),
            "propagate_over_network": keep("propagation", lambda a, r: (a[0], r)),
            "make_associations": keep("grouped", lambda a, r: r),
        }
        for attr, span in DAG_CALLEES.items():
            tracer.wrap(drug_disease, attr, span, hooks.get(attr))

    def iteration(self, spark, tracer, check: bool) -> Iteration:
        from platform_etl_drug_disease_spark.plans.drug_disease import run_pipeline
        from platform_etl_drug_disease_spark.sources import readers, writers

        it = Iteration()
        assoc_path = os.path.join(self.sink, "associations")
        dd_path = os.path.join(self.sink, "drug_disease")

        def pipeline():
            with tracer.span("dag.inputs.read"):
                frames = {
                    kw: readers.read_parquet(
                        spark, os.path.join(self.inputs, f"{name}.parquet")
                    )
                    for name, kw in DAG_INPUTS.items()
                }
            with tracer.span("dag.run_pipeline"):
                out = run_pipeline(**frames)
            with tracer.span("dag.hypotheses"):
                drug_disease = out.drug_disease
            record_analysis(tracer, out.associations, drug_disease)
            with tracer.span("dag.sink.parquet"):
                writers.write_parquet(out.associations, assoc_path)
            with tracer.span("dag.sink.json"):
                writers.write_json(drug_disease, dd_path)
            self.captured["kept"] = out.associations
            self.captured["schema"] = drug_disease.schema

        t0 = time.perf_counter()
        run_op(spark, tracer, it, "dag.pipeline", pipeline)
        it.wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        if check and not it.failed:
            self._check(spark, it, assoc_path, dd_path)
        return it

    def _check(self, spark, it: Iteration, assoc_path: str, dd_path: str) -> None:
        from pyspark.sql import functions as F

        assoc = spark.read.parquet(assoc_path)
        dd = spark.read.schema(self.captured["schema"]).json(dd_path)

        def no_rows(df, cond: str):
            bad = df.where(f"NOT ({cond})").count()
            return bad == 0, f"{bad} rows violate {cond}"

        _checked(it, "associations.harmonic_gt_cutoff",
                 lambda: no_rows(assoc, "harmonic > 0.1"))
        _checked(it, "associations.new_drugs_nonempty",
                 lambda: no_rows(assoc, "new_drugs_size > 0"))
        _checked(it, "drug_disease.ae_scores_in_unit_interval", lambda: no_rows(
            dd,
            " AND ".join(
                f"{c} BETWEEN 0 AND 1"
                for c in ("drug_hypothesis_aes_score", "disease_aes_score",
                          "drug_hypothesis_disease_aes_score")
            ),
        ))
        _checked(it, "drug_disease.hypothesis_in_hypotheses",
                 lambda: no_rows(dd, "array_contains(hypotheses, drug_hypothesis)"))

        digests = {
            "associations": frame_digest(assoc.select(
                "disease_id", "target_id", "evidence_count",
                F.round("harmonic", 9).alias("harmonic"),
                F.sort_array("new_drugs").alias("new_drugs"),
            )),
            "drug_disease": frame_digest(dd.select(
                "disease_id", "target_id", "drug_hypothesis",
                F.round("drug_hypothesis_disease_aes_score", 9).alias("score"),
            )),
        }
        print(f"dag_scaled output digests: {json.dumps(digests)}", file=sys.stderr)
        for name, digest in digests.items():
            _checked(it, f"{name}.rows", lambda d=digest: (
                int(d.split("-")[0]) > 0, d
            ))
        with open(os.path.join(HERE, "pins.json")) as fh:
            pinned = json.load(fh)["dag_scaled"].get(str(self.seed))
        if pinned is not None:
            _checked(it, "digests_match_pinned", lambda: (
                digests == pinned, f"got {digests}, pinned {pinned}"
            ))

    def layer_counts(self, spark) -> dict[str, float]:
        """Row counts behind the DAG's ratios, from the last traced
        iteration's plans (extra jobs, run after the timed window)."""
        c = self.captured
        evidence, propagated = c["propagation"]
        grouped = c["grouped"].count()
        sink_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.sink)
            for f in files
        )
        return {
            "dag.network.rows": c["network"].count(),
            "dag.propagation.fanout": propagated.count() / max(evidence.count(), 1),
            "dag.scoring.kept_ratio": c["kept"].count() / max(grouped, 1),
            "dag.sink.bytes": sink_bytes,
        }


# ---------------------------------------------------------------------------
# catalog_mix

#: owner before riders, family by family; every query here has a DuckDB
#: oracle in the catalog
CATALOG_MIX = [
    "trade_pagerank",            # owner: trade-graph edge memos
    "two_hop_reach",             # rider
    "price_mad_stats",           # owner: price histogram memo
    "price_quantiles_per_flag",  # rider
    "flagship_harmonic_topk",
    "bucketed_join_revenue",     # bucketed-table write path
]

#: plan modules whose module-level ``*_CACHE`` memos the mix uses
MEMO_MODULES = ("graph", "relational")


class CatalogMix:
    name = "catalog_mix"
    #: orders rows; lineitem has four times as many
    orders = 1500

    def prepare(self, spark, work: str, seed: int) -> str:
        self.sf_dir = os.path.join(work, "tables")
        return gen.write_catalog_tables(self.sf_dir, seed, self.orders)

    def instrument(self, tracer: Tracer) -> None:
        import importlib

        from spans import CountingDict

        for mod_name in MEMO_MODULES:
            mod = importlib.import_module(
                f"platform_etl_drug_disease_spark.plans.{mod_name}"
            )
            for attr, value in vars(mod).copy().items():
                if attr.endswith("_CACHE") and isinstance(value, dict):
                    tracer.replace(mod, attr, CountingDict(value, tracer))

    def iteration(self, spark, tracer, check: bool) -> Iteration:
        import __spark_entry__
        from platform_etl_drug_disease_spark.plans import memo_owners

        catalog = __spark_entry__.queries()
        it = Iteration()
        results = {}
        t0 = time.perf_counter()
        for name in CATALOG_MIX:
            def query(name=name):
                memo_owners.reset_for(name)
                with tracer.span("catalog.plan"):
                    df = catalog[name](spark, self.sf_dir)
                record_analysis(tracer, df)
                with tracer.span("catalog.exec"):
                    if check:
                        results[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                spark.catalog.clearCache()

            run_op(spark, tracer, it, f"catalog.{name}", query)
        it.wall = time.perf_counter() - t0
        if check:
            self._check(it, results)
        return it

    def _check(self, it: Iteration, results: dict) -> None:
        import duckdb

        import __spark_entry__
        from tools.oracle_check import compare_frames

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for fname in sorted(os.listdir(self.sf_dir)):
                table = fname.removesuffix(".parquet")
                path = os.path.join(self.sf_dir, fname)
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
                )
            for name in CATALOG_MIX:
                def compare(name=name):
                    if name not in results:
                        return False, "query failed"
                    problems = compare_frames(
                        results[name], con.execute(oracles[name]).df()
                    )
                    return not problems, "; ".join(problems) or "matches oracle"

                _checked(it, f"oracle.{name}", compare)
        finally:
            con.close()

    def layer_counts(self, spark) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (DagScaled, CatalogMix)}
