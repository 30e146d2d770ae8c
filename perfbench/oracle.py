"""Oracle check of registry_mix: each query's result (written once per run
as parquet under <verify>/<name>/) against its oracle SQL
(<verify>/oracle_sql.json) run by DuckDB over the same tables.

Results are compared as sets of rows after ordering columns by name and
rows by value; column names, column types and every value must agree
(floats exactly, the same rule as the engine's oracle gate)."""
import json
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    types = {c: str(t) for c, t in zip(cols, rel.types)}
    rows = sorted((tuple(r[i] for i in order) for r in rel.fetchall()),
                  key=lambda t: tuple(repr(x) for x in t))
    return [cols[i] for i in order], types, rows


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return str(a) == str(b)


def check(sf_dir, verify_dir):
    """Returns {query: reason} for every query whose result is missing or
    differs from its oracle."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf_dir, t))
    bad = {}
    for name, sql in sorted(oracles.items()):
        path = os.path.join(verify_dir, name)
        if not os.path.isdir(path):
            bad[name] = "no result was written"
            continue
        gcols, gtypes, grows = _canon(con.sql("SELECT * FROM '%s/*.parquet'" % path))
        try:
            ecols, etypes, erows = _canon(con.sql(sql))
        except Exception as e:
            bad[name] = "oracle error: %s" % e
            continue
        if gcols != ecols:
            bad[name] = "columns %s != %s" % (gcols, ecols)
        elif gtypes != etypes:
            bad[name] = "column types %s != %s" % (gtypes, etypes)
        elif len(grows) != len(erows):
            bad[name] = "%d rows != %d" % (len(grows), len(erows))
        elif not all(_same(x, y) for g, e in zip(grows, erows) for x, y in zip(g, e)):
            bad[name] = "values differ"
    return bad
