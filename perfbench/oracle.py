"""Oracle check of gate results: each result the benchmark's cold pass
wrote is compared with the gate's DuckDB oracle SQL run on the same
generated inputs. The comparison is exact (sorted column names, column
types, row count, rows sorted after rendering every value as text), as
the engine's correctness gate requires; gates without oracle SQL must
return rows.
"""
import glob
import math
import os
import re
import time

import duckdb


def _canon(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def materialize(sql):
    """The same oracle SQL with every named CTE marked MATERIALIZED, so
    DuckDB computes a CTE that several joins read once instead of once
    per reference (the dedup oracles drop from ~20 s to ~2 s). Only the
    evaluation plan changes; `run.py --selftest` pins equal rows."""
    return re.sub(r"(WITH(?: RECURSIVE)?\s+|,\s*\n\s*)(\w+) AS \(",
                  r"\1\2 AS MATERIALIZED (", sql)


def views(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    # spills stay inside the run's work directory
    con.sql(f"SET temp_directory = '{os.path.dirname(data_dir)}/duckdb'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def check(data_dir, results_dir, gates, oracle_sql, perturb=None,
          rewrite=True):
    """Returns [(gate, ok, detail)]. `perturb` names a gate whose expected
    rows are altered, to show that a wrong reference fails the run;
    `rewrite=False` runs the oracle SQL exactly as stored."""
    con = views(data_dir)
    out = []
    for g in gates:
        t0 = time.time()
        got = con.sql(
            f"SELECT * FROM '{os.path.join(results_dir, g)}/*.parquet'")
        gnames, grows = got.columns, got.fetchall()
        if g not in oracle_sql:
            out.append((g, len(grows) > 0, f"rows-only: {len(grows)} rows"))
            continue
        try:
            # oracles that read another gate's result name its directory
            q = oracle_sql[g].replace("__OUTDIR__", results_dir)
            want = con.sql(materialize(q) if rewrite else q)
            wnames, wrows = want.columns, want.fetchall()
        except duckdb.Error as e:
            out.append((g, False, f"oracle SQL failed: {e}"))
            continue
        gtypes = {c.lower(): str(t) for c, t in zip(gnames, got.types)}
        wtypes = {c.lower(): str(t) for c, t in zip(wnames, want.types)}
        if sorted(gtypes) != sorted(wtypes):
            out.append((g, False, f"columns {sorted(gtypes)} != {sorted(wtypes)}"))
            continue
        if gtypes != wtypes:
            bad = {c: (gtypes[c], wtypes[c]) for c in gtypes
                   if gtypes[c] != wtypes[c]}
            out.append((g, False, f"types (engine, oracle) {bad}"))
            continue
        expect = _canon(wrows, [c.lower() for c in wnames])
        if g == perturb:
            expect = [("perturbed",) * len(wnames)] + expect[1:]
        have = _canon(grows, [c.lower() for c in gnames])
        if have == expect:
            out.append((g, True, f"{len(have)} rows ({time.time() - t0:.1f}s)"))
        elif len(have) != len(expect):
            out.append((g, False, f"{len(have)} rows, oracle {len(expect)}"))
        else:
            diff = [(a, b) for a, b in zip(have, expect) if a != b][:2]
            out.append((g, False, f"values differ, e.g. {diff}"))
    con.close()
    return out
