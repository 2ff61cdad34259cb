"""Seeded input generators for the benchmark workloads.

The program under test sees only the files written here. Both generators are
pure functions of ``seed`` (and the size arguments), so the same seed gives
byte-identical tables and two seeds give different ones.

- ``write_dag_domain``: the drug-disease domain inputs. Protein degree is
  power-law (each protein attaches to earlier ones drawn with a cubic bias
  toward low ids) plus one planted mega-hub, ``P1``, interacting with every
  second protein.
- ``write_catalog_tables``: TPC-H-shaped ``lineitem`` / ``orders`` in the
  column types the catalog queries and their DuckDB oracles expect. Every
  ``l_orderkey`` exists in ``orders``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: domain dimensions that do not grow with the protein count
N_DISEASES = 60
N_DRUGS = 240
N_STUDIES = 20
N_TISSUES = 8

def _tissue(code: str, zscore: float) -> dict:
    return {"efo_code": code, "rna": {"zscore": zscore}, "protein": {"level": 0.0}}


def domain_rows(seed: int, n: int) -> dict[str, dict[str, list]]:
    """Column lists per domain table for ``n`` proteins."""
    rng = np.random.default_rng([int(seed), 11])
    ids = np.arange(n)
    # two preferential edges per protein 1..n (protein n has no target row:
    # a dangling interactor the network build must drop), then the hub
    src = np.repeat(np.arange(1, n + 1), 2)
    dst = np.floor(src * rng.random(2 * n) ** 3).astype(np.int64)
    hub = np.arange(4, n, 2)
    src = np.concatenate([src, np.ones(len(hub), np.int64)])
    dst = np.concatenate([dst, hub])
    shared = rng.random(n) < 0.85
    n_ev = 8 * n
    ev = np.arange(n_ev)
    ev_dis = rng.integers(0, N_DISEASES, n_ev)
    ev_score = np.round(0.05 + 0.9 * rng.random(n_ev), 4)
    pred = np.arange(0, n, 4)
    pred_score = np.round(0.3 + 0.6 * rng.random(len(pred)), 4)
    drug_t = rng.integers(0, n, (N_DRUGS, 2))
    drug_t[0, 0] = 1  # one drug acts on the hub's gene
    agg_drug = rng.integers(0, N_DRUGS, N_DISEASES * 3)
    agg_t = rng.integers(0, n, N_DISEASES * 3)
    ae = rng.integers(0, 12, N_DRUGS * 3)
    llr = np.round(1.0 + rng.random(N_DRUGS * 3), 3)
    mi = np.round(0.5 + 0.5 * rng.random(len(src)), 3)
    return {
        "target": {
            "id": [f"T{i}" for i in ids],
            "approved_symbol": [f"G{i}" for i in ids],
            "biotype": ["protein_coding"] * n,
            "hgnc_id": [f"HGNC:{i}" for i in ids],
            "go": [[{"id": f"GO:{i % 997}", "value": {"term": f"term{i % 997}"}}]
                   for i in ids],
            "tractability": ["tract"] * n,
            "uniprot_accessions": [[f"P{i}"] for i in ids],
            "uniprot_subcellular_location": ["loc"] * n,
            "uniprot_similarity": ["sim"] * n,
        },
        "interactions": {
            "interactorA_uniprot_name": [f"P{a}" for a in src],
            "interactorB_uniprot_name": [f"P{b}" for b in dst],
            "mi_score": mi.tolist(),
            "source_databases": [["intact", "string"]] * len(src),
        },
        # every protein expresses its own tissue; ~85% also the shared one,
        # so the co-expression filter drops a seed-dependent edge share
        "expression": {
            "gene": [f"T{i}" for i in ids],
            "tissues": [
                [_tissue(f"tis{i % N_TISSUES}", 1.0)]
                + ([_tissue("tisZ", 1.0)] if shared[i] else [])
                + [_tissue("tisNeg", -1.0)]
                for i in ids
            ],
        },
        "disease": {
            "code": [f"http://purl/EFO_D{d}" for d in range(N_DISEASES)],
            "label": [f"disease {d}" for d in range(N_DISEASES)],
            "path_codes": [[["EFO_ROOT", f"EFO_D{d}"]] for d in range(N_DISEASES)],
            "phenotypes": [[f"phen{d}"] for d in range(N_DISEASES)],
            "therapeutic_codes": [[f"ta{d % 4}"] for d in range(N_DISEASES)],
        },
        # eight literature rows per protein; every 13th row comes from a
        # source the loader must drop
        "evidence": {
            "sourceID": ["otherdb" if r % 13 == 5 else "europepmc" for r in ev],
            "id": [f"e{r}" for r in ev],
            "disease": [{"id": f"EFO_D{d}"} for d in ev_dis],
            "target": [{"id": f"T{r // 8}"} for r in ev],
            "scores": [{"association_score": s} for s in ev_score.tolist()],
        },
        "studies": {
            "study_id": [f"S{s}" for s in range(N_STUDIES)],
            "trait_reported": [f"trait {s}" for s in range(N_STUDIES)],
            "trait_efos": [[f"EFO_D{s % N_DISEASES}"] for s in range(N_STUDIES)],
            "trait_category": ["cat1"] * N_STUDIES,
        },
        # one GWAS prediction per 4th protein, straddling the 0.5 cutoff
        "predictions": {
            "study_id": [f"S{i % N_STUDIES}" for i in pred],
            "chrom": ["1"] * len(pred),
            "pos": (100 + pred).tolist(),
            "ref": ["A"] * len(pred),
            "alt": ["G"] * len(pred),
            "y_proba_all_features": pred_score.tolist(),
            "gene_id": [f"T{i}" for i in pred],
        },
        "drug": {
            "id": [f"DR{j}" for j in range(N_DRUGS)],
            "max_clinical_trial_phase": [1 + j % 4 for j in range(N_DRUGS)],
            "type": ["small molecule"] * N_DRUGS,
            "pref_name": [f"drug{j}" for j in range(N_DRUGS)],
            "number_of_mechanisms_of_action": [2] * N_DRUGS,
            "mechanisms_of_action": [
                [{"target_components": [{"ensembl": f"T{t}"}]} for t in pair]
                for pair in drug_t.tolist()
            ],
            "indications": [[{"efo_id": f"EFO_D{j % N_DISEASES}"}]
                            for j in range(N_DRUGS)],
        },
        "aggregated_drugs": {
            "disease_id": [f"EFO_D{r // 3}" for r in range(N_DISEASES * 3)],
            "drug_id": [f"DR{j}" for j in agg_drug],
            "associated_diseases": [[f"EFO_D{r // 3}"] for r in range(N_DISEASES * 3)],
            "associated_targets": [[f"T{t}"] for t in agg_t],
        },
        "faers_drug": {
            "chembl_id": [f"DR{r // 3}" for r in range(N_DRUGS * 3)],
            "event": [f"ae{a}" for a in ae],
            "count": [5 + r % 3 for r in range(N_DRUGS * 3)],
            "llr": llr.tolist(),
            "critval": [0.5] * (N_DRUGS * 3),
        },
        "faers_target": {
            "target_id": [f"T{i}" for i in range(0, n, 10)],
            "event": [f"tae{i % 5}" for i in range(0, n, 10)],
            "report_count": [8] * len(range(0, n, 10)),
            "llr": [1.4] * len(range(0, n, 10)),
            "critval": [0.6] * len(range(0, n, 10)),
        },
        "whitelist": {"whitelist_id": ["W1"], "whitelist": [["EFO_D1", "EFO_D2"]]},
    }


def write_dag_domain(out_dir: str, seed: int, n_proteins: int) -> str:
    """Write one ``<name>.parquet`` per domain input under ``out_dir``, in
    the program's own schemas; return the digest of the written bytes.
    Needs an active SparkSession (the schemas are Spark DDL)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from platform_etl_drug_disease_spark.schemas import domain_schema

    tables = {
        name: pa.Table.from_pydict(
            cols, schema=to_arrow_schema(domain_schema(name))
        )
        for name, cols in domain_rows(seed, n_proteins).items()
    }
    return _write_tables(out_dir, tables)


def _write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in sorted(tables.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# catalog tables

_EPOCH_DAY_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _days_to_us(days: np.ndarray) -> np.ndarray:
    return (days.astype(np.int64) * 86_400_000_000).astype("datetime64[us]")


def catalog_arrays(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables sized by ``n_orders`` (four lines per order)."""
    rng = np.random.default_rng([int(seed), 7])
    n_cust, n_part, n_supp = max(n_orders // 10, 10), max(n_orders // 8, 10), 100
    n_li = 4 * n_orders
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(
            _days_to_us(_EPOCH_DAY_1995 + rng.integers(0, 2400, n_orders)),
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        )),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            _days_to_us(_EPOCH_DAY_1995 + 1 + rng.integers(0, 2500, n_li)),
            pa.timestamp("us"),
        ),
    })
    return {"orders": orders, "lineitem": lineitem}


def write_catalog_tables(out_dir: str, seed: int, n_orders: int) -> str:
    """Write ``<name>.parquet`` per table under ``out_dir``; return the
    digest of the written bytes."""
    return _write_tables(out_dir, catalog_arrays(seed, n_orders))
