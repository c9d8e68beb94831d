"""Correctness checks, made outside the timed region.

Query workloads: every query's output (written once, in the first
set-up) is compared with its SparkEntry.oracleSql run by DuckDB over
the same generated tables: same columns, same DuckDB dtypes, and the
same rows exactly after sorting.

grid-scale: exact invariants of every timed pass (see check_grid).
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_queries(out_dir, data_dir):
    """Return {query name: reason} for every query whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    wrong, expected = {}, {}  # twin queries share one oracle: run it once
    for name, sql in sorted(oracle.items()):
        pdir = os.path.join(out_dir, "results", name)
        if not os.path.isdir(pdir):
            wrong[name] = "no output"
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{pdir}/*.parquet'")
            if sql not in expected:
                rel = con.sql(sql)
                expected[sql] = (dict(zip(rel.columns, map(str, rel.types))), rel.df())
            wt, want = expected[sql]
            gt = dict(zip(got_rel.columns, map(str, got_rel.types)))
            if sorted(gt) != sorted(wt):
                wrong[name] = f"columns {sorted(gt)} vs {sorted(wt)}"
                continue
            diverged = [c for c in wt if gt[c] != wt[c]]
            if diverged:
                wrong[name] = "dtype " + ", ".join(f"{c}: {gt[c]} vs {wt[c]}" for c in diverged)
                continue
            cols = sorted(gt)
            got = got_rel.df()[cols].sort_values(cols).reset_index(drop=True)
            want = want[cols].sort_values(cols).reset_index(drop=True)
        except Exception as e:  # a broken output or oracle is a wrong result
            wrong[name] = f"check failed: {e}"
            continue
        if len(got) != len(want):
            wrong[name] = f"rows {len(got)} vs {len(want)}"
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            wrong[name] = "values differ: " + str(e)[:300]
    return wrong


def check_grid(rec, data_dir):
    """Return {(pass index, op name): reason} for every grid-scale call
    whose pass broke an invariant:
      - the tile-build cell sum equals replicas x sum(l_quantity)
        (integral values, so the double sums are exact);
      - the catalog read returns every written tile, cell for cell;
      - cost-distance and flow-accumulation checksums agree across passes.
    """
    q = duckdb.sql(f"SELECT sum(l_quantity) FROM '{data_dir}/lineitem.parquet'").fetchone()[0]
    want_sum = rec["setup_checks"]["replicas"] * q
    passes = rec["passes"]

    def mode(key):
        vals = [p["checks"].get(key) for p in passes]
        return max(set(vals), key=vals.count)
    cost_ref, flow_ref = mode("cost_checksum"), mode("flow_checksum")
    wrong = {}
    for p in passes:
        c, i = p["checks"], p["index"]
        if c.get("cell_sum") != want_sum:
            wrong[(i, "raster.tile_build")] = f"cell sum {c.get('cell_sum')} != {want_sum}"
        if c.get("catalog_mismatch") != 0:
            wrong[(i, "catalog.read")] = f"catalog mismatch {c.get('catalog_mismatch')}"
        if c.get("cost_checksum") != cost_ref or str(cost_ref).startswith("error"):
            wrong[(i, "distance.cost")] = f"cost checksum {c.get('cost_checksum')}"
        if c.get("flow_checksum") != flow_ref or str(flow_ref).startswith("error"):
            wrong[(i, "hydrology.flow_accum")] = f"flow checksum {c.get('flow_checksum')}"
    return wrong
