"""Seeded input generators for the benchmark workloads.

ETL inputs follow the rPharmacoDI export layout the pipeline reads: one
`{name}_PSet` directory of `slot$subitem$...` CSV files per PSet. The gate
input is the `documents` table the gate row reads.
The same seed and shape give the same files.

Planted cases in every ETL input:
  * `DRUG_UNLISTED`: a compound named by one experiment of the first
    PSet but by no drug table, the unmatched key that consolidation
    audits and drops, with that experiment's observations;
  * one IC50 above 1e54 per PSet, which consolidation clamps;
  * NA cells in the dose and viability matrices, and cells with no
    molecular profile of a type;
  * Ensembl gene ids with version suffixes, which the builders strip.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PSET_NAMES = ["CCLE", "GDSC", "CTRP", "gCSI", "FIMM", "NCI60", "PRISM", "UHN"]
UNLISTED = "DRUG_UNLISTED"
MDATA_TYPES = ["rna", "rnaseq"]

# Input make-up of the ETL workload: `experiments` x `doses` sizes each
# PSet's dose-response matrices; cells, compounds and genes are drawn
# from shared pools, so PSets overlap when there are several.
ETL_SHAPE = dict(psets=2, cells=300, tissues=20, compounds=150, genes=3000,
                 experiments=3000, doses=6)
DOCUMENTS = 5000
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_SHARE = [0.41, 0.15, 0.15, 0.14, 0.15]

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group stream filter big vector").split()


def _csv(df, path):
    df.to_csv(path, index=False, na_rep="NA")


def gen_etl(out, seed, shape=ETL_SHAPE):
    """Write one ETL input under `out`; return and write (truth.json)
    its ground truth: per-PSet and consolidated counts, and the keys
    each `Pipeline.run` audit call must report."""
    rng = np.random.default_rng(seed)
    names = PSET_NAMES[:shape["psets"]]
    cells = np.array([f"CL{i:05d}" for i in range(shape["cells"])])
    tissues = np.array([f"tissue_{i:02d}" for i in range(shape["tissues"])])
    cell_tissue = dict(zip(cells, rng.choice(tissues, len(cells))))
    drugs = np.array([f"DRUG{i:05d}" for i in range(shape["compounds"])])
    genes = np.array([f"ENSG{i:011d}" for i in range(shape["genes"])])
    raw = os.path.join(out, "raw")
    truth = {"psets": {}}
    union = {"cells": set(), "tissues": set(), "compounds": set(), "genes": set()}
    n_exp = shape["experiments"]
    n_dose = shape["doses"]
    for k, name in enumerate(names):
        d = os.path.join(raw, f"{name}_PSet")
        os.makedirs(d, exist_ok=True)
        pc = np.sort(rng.choice(cells, int(len(cells) * 0.6), replace=False))
        pd_ = np.sort(rng.choice(drugs, int(len(drugs) * 0.6), replace=False))
        _csv(pd.DataFrame({"cellid": pc, "tissueid": [cell_tissue[c] for c in pc],
                           "source_note": "generated"}), f"{d}/cell.csv")
        _csv(pd.DataFrame({"drugid": pd_,
                           "smiles": [f"C{'C' * (i % 7)}O" for i in range(len(pd_))],
                           "inchikey": [f"IK{v:09d}" for v in rng.integers(0, 10**9, len(pd_))],
                           "cid": rng.integers(1, 10**6, len(pd_)).astype(float),
                           "FDA": rng.random(len(pd_)) < 0.3}), f"{d}/drug.csv")

        exp = np.array([f"{name}_e{i:07d}" for i in range(n_exp)])
        exp_cell = rng.choice(pc, n_exp)
        exp_drug = rng.choice(pd_, n_exp).astype(object)
        if k == 0:
            exp_drug[0] = UNLISTED
        _csv(pd.DataFrame({".rownames": exp, "cellid": exp_cell, "drugid": exp_drug}),
             f"{d}/sensitivity$info.csv")

        # doses on a 1e-6 grid, so two distinct doses never round to the
        # same 8 decimals; responses carry 10 decimals, which the
        # builders round to 8
        base = rng.integers(1000, 100000, n_exp)
        dose = base[:, None] * 3 ** np.arange(n_dose)[None, :] / 1e6
        resp = np.round(rng.uniform(0, 110, (n_exp, n_dose)), 10)
        dose[rng.random(dose.shape) < 0.05] = np.nan
        resp[rng.random(resp.shape) < 0.05] = np.nan
        # the unmatched experiment keeps one observation, so the
        # dose_response audit reports it
        dose[0, 0], resp[0, 0] = base[0] / 1e6, 50.0
        cols = [f"doses{j + 1}" for j in range(n_dose)]
        for mat, fname in ((dose, "raw.Dose"), (resp, "raw.Viability")):
            df = pd.DataFrame(mat, columns=cols)
            df.insert(0, ".exp_id", exp)
            _csv(df, f"{d}/sensitivity${fname}.csv")

        ic50 = 10 ** rng.uniform(-2, 2, n_exp)
        ic50[rng.integers(n_exp)] = 1e60 * (k + 1)
        _csv(pd.DataFrame({".rownames": exp,
                           "aac_recomputed": rng.uniform(0, 1, n_exp),
                           "ic50_recomputed": ic50,
                           "HS": rng.uniform(0.5, 3, n_exp),
                           "einf": rng.uniform(0, 100, n_exp),
                           "ec50": 10 ** rng.uniform(-2, 2, n_exp),
                           "DSS1": rng.uniform(0, 50, n_exp),
                           "DSS2": rng.uniform(0, 50, n_exp),
                           "DSS3": rng.uniform(0, 50, n_exp)}),
             f"{d}/sensitivity$profiles.csv")

        pg = set()
        for m in MDATA_TYPES:
            g = np.sort(rng.choice(genes, int(len(genes) * 0.5), replace=False))
            pg.update(g)
            feats = [f"{x}.{v}" for x, v in zip(g, rng.integers(1, 15, len(g)))]
            _csv(pd.DataFrame({".features": feats}), f"{d}/molecularProfiles${m}$rowData.csv")
            reps = rng.integers(0, 4, len(pc))
            _csv(pd.DataFrame({"cellid": np.repeat(pc, reps)}),
                 f"{d}/molecularProfiles${m}$colData.csv")
        with open(f"{d}/annotation.txt", "w") as f:
            f.write(f"{name} generated PSet export, seed {seed}\n")
        truth["psets"][name] = {"cells": len(pc), "tissues": len({cell_tissue[c] for c in pc}),
                                "compounds": len(pd_), "experiments": n_exp, "genes": len(pg)}
        for key, vals in (("cells", pc), ("tissues", [cell_tissue[c] for c in pc]),
                          ("compounds", pd_), ("genes", pg)):
            union[key].update(vals)
        if k == 0:
            truth["audit"] = {"experiment.compound": [UNLISTED],
                              "dose_response.experiment": [exp[0]],
                              "profile.experiment": [exp[0]]}

    # the consolidated tables: the union over PSets, less the experiment
    # of the unmatched compound
    truth["union"] = {k: len(v) for k, v in union.items()}
    truth["union"].update(datasets=len(names), experiments=len(names) * n_exp - 1,
                          planted_ic50=len(names))
    with open(os.path.join(out, "psets.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def gen_gate(out, seed):
    """Write the `documents` table the gate row reads, with the make-up
    of the repository's sf0.1 test table: 5,000 documents of 10-100
    words drawn uniformly from the same 30-word vocabulary, five
    languages and 20 sources."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = DOCUMENTS
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n)]
    langs = rng.choice(LANGS, n, p=LANG_SHARE)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}),
        os.path.join(out, "documents.parquet"))
    return {"documents": n}
