"""Output checks that need DuckDB: bm25 and phrase ops of kg_search, and the
registry entries of analytics_mix against their oracle SQL.

Each check returns the number of timed executions whose output is wrong,
plus a list of problems for the detail file.
"""
import glob
import json
import os
import re
import sys

import duckdb

# The registry's correctness gate: canonical form and cell equality.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import compare  # noqa: E402


def _tokens(s):
    return list(dict.fromkeys(re.findall(r"[a-z0-9]+", s.lower())))


def bm25_sql(query, limit):
    toks = ", ".join(f"'{t}'" for t in _tokens(query))
    return f"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lens),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
  WHERE tok IN ({toks}) GROUP BY doc_id, tok),
dfs AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
SELECT doc_id,
  ROUND(SUM(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
    (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))), 4) AS score,
  COUNT(*) AS matched
FROM tf JOIN dfs USING (tok) CROSS JOIN stats JOIN lens USING (doc_id)
GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {limit}"""


def phrase_sql(phrase):
    words = re.findall(r"[a-z0-9]+", phrase.lower())
    frag = "(.{0,24}" + "[^a-z0-9]+".join(words) + ".{0,24})"
    match = "(^|[^a-z0-9])" + "[^a-z0-9]+".join(words) + "($|[^a-z0-9])"
    return f"""SELECT doc_id, lang, regexp_extract(lower(text), '{frag}', 1) AS frag
FROM documents WHERE regexp_matches(lower(text), '{match}') ORDER BY doc_id"""


def search(doc_path, checks_path):
    """bm25 and phrase results, as first returned by Spark, against DuckDB."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{doc_path}'")
    wrong, problems = 0, []
    for c in json.load(open(checks_path)):
        f = c["op"].split("\t")
        sql = bm25_sql(f[1], int(f[2])) if f[0] == "bm25" else phrase_sql(f[1])
        want = [list(r) for r in con.sql(sql).fetchall()]
        if want != c["rows"]:
            wrong += c["runs"]
            problems.append({"op": c["op"], "spark_rows": len(c["rows"]), "oracle_rows": len(want)})
    return wrong, problems


def _diff(got, want):
    """First difference between two frames in tools/compare.py's canonical
    form, or None."""
    got, want = compare.canon(got), compare.canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for col in got.columns:
        for i, (a, b) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not compare.cells_equal(a, b):
                return f"col={col} row={i}: spark={a!r} oracle={b!r}"
    return None


def analytics(table_dir, checks_path):
    """Each entry's output against its oracle SQL, compared as the repo's
    correctness gate does: columns sorted by name, rows sorted, exact cells.
    An entry without an oracle must return rows."""
    con = duckdb.connect()
    for t in compare.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    wrong, problems = 0, []
    for c in json.load(open(checks_path)):
        files = glob.glob(f"{c['result']}/*.parquet")
        problem = c["error"]
        if problem is None and not files:
            problem = "no output"
        if problem is None:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            if c["oracle"] is None:
                problem = None if len(got) > 0 else "no rows"
            else:
                try:
                    problem = _diff(got, con.sql(c["oracle"]).df())
                except Exception as e:
                    problem = f"oracle: {e}"
        if problem is not None:
            wrong += c["runs"]
            problems.append({"entry": c["name"], "problem": problem})
    return wrong, problems
