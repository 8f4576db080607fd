"""Output checks computed apart from the program, with DuckDB over the
generated raw files. Each check returns a list of error strings; an
empty list means the outputs are correct."""
import contextlib
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import local_verify  # noqa: E402  the repository's own oracle comparison

# the output is the raw value rounded to 8 decimals, ties either way;
# the slack covers binary representation error
HALF_ULP_8 = 0.5e-8 + 1e-13
# Tables whose `id` is a dense surrogate key.
ID_TABLES = ["tissue", "gene", "dataset", "compound", "cell", "mol_cell",
             "dataset_statistics", "experiment", "dose_response"]
# Foreign keys of the consolidated tables: (table, column, dimension).
FKS = [
    ("cell", "tissue_id", "tissue"),
    ("compound_annotation", "compound_id", "compound"),
    ("gene_annotation", "gene_id", "gene"),
    ("dataset_cell", "dataset_id", "dataset"), ("dataset_cell", "cell_id", "cell"),
    ("dataset_tissue", "dataset_id", "dataset"), ("dataset_tissue", "tissue_id", "tissue"),
    ("dataset_compound", "dataset_id", "dataset"), ("dataset_compound", "compound_id", "compound"),
    ("mol_cell", "cell_id", "cell"), ("mol_cell", "dataset_id", "dataset"),
    ("dataset_statistics", "dataset_id", "dataset"),
    ("experiment", "cell_id", "cell"), ("experiment", "compound_id", "compound"),
    ("experiment", "dataset_id", "dataset"), ("experiment", "tissue_id", "tissue"),
    ("dose_response", "experiment_id", "experiment"),
    ("profile", "experiment_id", "experiment"),
]


def _csv(path):
    return f"read_csv('{path}', header=true, all_varchar=true, nullstr='NA', quote='\"', delim=',')"


def _differ(q, a, b):
    """Rows in the multiset difference of two queries, both ways."""
    return q(f"SELECT count(*) FROM ((({a}) EXCEPT ALL ({b})) UNION ALL (({b}) EXCEPT ALL ({a})))")[0][0]


def check_etl(inp, final_dir, truth, audit):
    """Check the consolidated tables one `Pipeline.run` wrote under
    `final_dir`, and what its audit callback reported, against the raw
    exports of every PSet."""
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchall()
    errors = []
    psets = [p for p in open(os.path.join(inp, "psets.txt")).read().split() if p]
    for f in glob.glob(os.path.join(final_dir, "*.parquet")):
        con.execute(f"CREATE VIEW \"{os.path.basename(f)[:-8]}\" AS SELECT * FROM read_parquet('{f}/*.parquet')")

    # raw views over every PSet, each row tagged with its PSet
    def raw(f, p):
        return _csv(os.path.join(inp, "raw", f"{p}_PSet", f))

    def union(f, cols="*"):
        return " UNION ALL ".join(f"SELECT '{p}' AS pset, {cols} FROM {raw(f, p)}" for p in psets)
    for view, f in (("r_cell", "cell.csv"), ("r_drug", "drug.csv"), ("r_info", "sensitivity$info.csv")):
        con.execute(f"CREATE VIEW {view} AS {union(f)}")
    types = {p: sorted(os.path.basename(f).split("$")[1] for f in glob.glob(
        os.path.join(inp, "raw", f"{p}_PSet", "molecularProfiles$*$rowData.csv"))) for p in psets}
    con.execute("CREATE VIEW r_feat AS " + " UNION ALL ".join(
        f"SELECT \".features\" AS f FROM {raw(f'molecularProfiles${m}$rowData.csv', p)}"
        for p in psets for m in types[p]))
    # experiments that consolidation keeps: their compound is in their PSet's drug table
    con.execute("""CREATE VIEW r_exp AS SELECT i.pset, i.".rownames" AS exp, i.cellid, i.drugid, c.tissueid
        FROM r_info i JOIN r_cell c USING (pset, cellid) SEMI JOIN r_drug d USING (pset, drugid)""")

    # dimensions, by natural key; experiments through their dimensions
    expect = {
        "tissue": "SELECT DISTINCT tissueid FROM r_cell",
        "cell": "SELECT DISTINCT cellid, tissueid FROM r_cell",
        "compound": "SELECT DISTINCT drugid FROM r_drug",
        "gene": "SELECT DISTINCT regexp_replace(f, '\\.[0-9]*$', '') FROM r_feat",
        "dataset": " UNION ALL ".join(f"SELECT '{p}'" for p in psets),
        "experiment": "SELECT pset, cellid, drugid, tissueid FROM r_exp",
    }
    got = {
        "tissue": "SELECT name FROM tissue", "compound": "SELECT name FROM compound",
        "cell": "SELECT c.name, t.name FROM cell c JOIN tissue t ON c.tissue_id = t.id",
        "gene": "SELECT name FROM gene", "dataset": "SELECT name FROM dataset",
        "experiment": """SELECT d.name, c.name, m.name, t.name FROM experiment e
            JOIN dataset d ON e.dataset_id = d.id JOIN cell c ON e.cell_id = c.id
            JOIN compound m ON e.compound_id = m.id JOIN tissue t ON e.tissue_id = t.id""",
    }
    for t in expect:
        try:
            d = _differ(q, expect[t], got[t])
        except duckdb.Error as e:
            errors.append(f"{t}: {e}")
            continue
        if d:
            errors.append(f"{t}: {d} rows differ from the raw exports")
    u = truth["union"]
    counts = q("SELECT (SELECT count(*) FROM cell), (SELECT count(*) FROM tissue), "
               "(SELECT count(*) FROM compound), (SELECT count(*) FROM gene), "
               "(SELECT count(*) FROM dataset), (SELECT count(*) FROM experiment)")[0]
    want = tuple(u[k] for k in ("cells", "tissues", "compounds", "genes", "datasets", "experiments"))
    if counts != want:
        errors.append(f"table sizes {counts}, the generator's ground truth {want}")
    for p, t in truth["psets"].items():
        stats = q(f"""SELECT cell_lines, tissues, compounds, experiments, genes FROM dataset_statistics s
                      JOIN dataset d ON s.dataset_id = d.id WHERE d.name = '{p}'""")
        want = [tuple(t[k] for k in ("cells", "tissues", "compounds", "experiments", "genes"))]
        if stats != want:
            errors.append(f"dataset_statistics of {p}: {stats}, the generator's ground truth {want}")

    # every id is exactly 1..n, every foreign key is in its dimension
    for t in ID_TABLES:
        n, lo, hi, nd = q(f"SELECT count(*), min(id), max(id), count(DISTINCT id) FROM \"{t}\"")[0]
        if (lo, hi, nd) != (1, n, n):
            errors.append(f"{t}.id: {nd} distinct ids over [{lo}, {hi}] for {n} rows, not 1..{n}")
    for t, c, dim in FKS:
        n = q(f"SELECT count(*) FROM \"{t}\" WHERE {c} IS NULL OR {c} NOT IN (SELECT id FROM \"{dim}\")")[0][0]
        if n:
            errors.append(f"{t}.{c}: {n} values missing from {dim}")

    # dose-response after the NaN drop, mapped back through the dimension
    # tables; each output value is within half a unit of the 8th decimal
    # of its raw value
    con.execute("CREATE TEMP TABLE raw_dr AS " + " UNION ALL ".join(
        f"""SELECT '{p}' AS pset, d.".exp_id" AS exp, CAST(d.v AS DOUBLE) AS dose, CAST(r.v AS DOUBLE) AS response FROM
            (UNPIVOT {raw('sensitivity$raw.Dose.csv', p)} ON COLUMNS(* EXCLUDE (".exp_id"))
             INTO NAME col VALUE v) d JOIN
            (UNPIVOT {raw('sensitivity$raw.Viability.csv', p)} ON COLUMNS(* EXCLUDE (".exp_id"))
             INTO NAME col VALUE v) r USING (".exp_id", col)
            WHERE d.v IS NOT NULL AND r.v IS NOT NULL"""
        for p in psets))
    con.execute("""CREATE TEMP VIEW want_dr AS SELECT e.pset, e.cellid AS cell, e.drugid AS compound,
        r.dose, r.response FROM raw_dr r JOIN r_exp e ON r.pset = e.pset AND r.exp = e.exp""")
    con.execute("""CREATE TEMP VIEW got_dr AS SELECT d.name AS pset, c.name AS cell, m.name AS compound,
        x.dose, x.response FROM dose_response x JOIN experiment e ON x.experiment_id = e.id
        JOIN dataset d ON e.dataset_id = d.id JOIN cell c ON e.cell_id = c.id
        JOIN compound m ON e.compound_id = m.id""")
    n_want, n_got = q("SELECT (SELECT count(*) FROM want_dr), (SELECT count(*) FROM got_dr)")[0]
    if n_want != n_got:
        errors.append(f"dose_response: {n_got} rows, expected {n_want}")
    else:
        order = "ORDER BY pset, cell, compound, dose, response"
        bad = q(f"""SELECT count(*) FROM
            (SELECT *, row_number() OVER ({order}) AS rn FROM want_dr) a JOIN
            (SELECT *, row_number() OVER ({order}) AS rn FROM got_dr) b USING (rn)
            WHERE a.pset <> b.pset OR a.cell <> b.cell OR a.compound <> b.compound
               OR abs(a.dose - b.dose) > {HALF_ULP_8} OR abs(a.response - b.response) > {HALF_ULP_8}""")[0][0]
        if bad:
            errors.append(f"dose_response: {bad} of {n_want} observations differ from the raw matrices")

    # mol_cell: per (PSet, cell, mDataType), the number of colData profiles
    mol = " UNION ALL ".join(
        f"""SELECT '{p}', c.cellid, '{m}', CAST(count(x.cellid) AS INT) FROM {raw('cell.csv', p)} c
            LEFT JOIN {raw(f'molecularProfiles${m}$colData.csv', p)} x USING (cellid) GROUP BY ALL"""
        for p in psets for m in types[p])
    d = _differ(q, mol, """SELECT d.name, c.name, x."mDataType", x.num_prof FROM mol_cell x
        JOIN dataset d ON x.dataset_id = d.id JOIN cell c ON x.cell_id = c.id""")
    if d:
        errors.append(f"mol_cell: {d} rows differ from the colData counts")

    # IC50 is clamped to 1e54, the planted values with it
    hi, clamped, n_prof = q("SELECT max(IC50), count(*) FILTER (WHERE IC50 = 1e54), count(*) FROM profile")[0]
    if hi > 1e54 or clamped != u["planted_ic50"]:
        errors.append(f"profile: max IC50 {hi}, {clamped} at 1e54, expected {u['planted_ic50']} clamped")
    if n_prof != u["experiments"]:
        errors.append(f"profile: {n_prof} rows, expected {u['experiments']}")

    # the audit callback reports exactly the planted unmatched keys
    reported = {k: v for k, v in audit.items() if v}
    if reported != truth["audit"]:
        errors.append(f"audit reported {reported}, expected {truth['audit']}")
    con.close()
    return errors


def check_gate(inp, out_dir, oracle_sql):
    """Compare each row's last written output under `out_dir/{row}` with
    its DuckDB oracle over the tables in `inp`, order-insensitively and
    with exact values, with the repository's `tools/local_verify.py`."""
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    with contextlib.redirect_stdout(sys.stderr):
        code = local_verify.main(inp, out_dir)
    return [] if code == 0 else ["gate rows differ from their DuckDB oracle"]
