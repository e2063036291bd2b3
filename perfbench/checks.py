"""Output checks run outside the JVM.

pipeline: the six results equal a DuckDB replay of the cleaning rules
and the five reference queries over the same raw JSON files, compared
with tools/check.py's canonical hash (columns sorted by name, rows
sorted, doubles rounded to 6 places).
"""
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import canon  # noqa: E402

SENTINELS = ["No Title Data Available",
             "No description available Story format", "User Info Error",
             "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e", "Image src error."]


def _null_if_sentinel(c):
    return f"CASE WHEN {c} IN ({', '.join(repr(s) for s in SENTINELS)}) THEN NULL ELSE {c} END"


def _views(con, raw):
    con.sql(f"""CREATE OR REPLACE VIEW pin AS
      SELECT CAST("index" AS INTEGER) AS ind, category,
        -- literal k/M substitution, then a truncating cast: "2.5k" -> 2
        CAST(trunc(TRY_CAST(replace(replace({_null_if_sentinel('follower_count')},
          'k', '000'), 'M', '000000') AS DOUBLE)) AS INTEGER) AS follower_count
      FROM read_json('{raw}/pin/*.json', format='newline_delimited',
        columns={{'index': 'BIGINT', 'category': 'VARCHAR', 'follower_count': 'VARCHAR'}})""")
    con.sql(f"""CREATE OR REPLACE VIEW geo AS
      SELECT CAST(ind AS INTEGER) AS ind, country,
        CAST("timestamp" AS TIMESTAMP) AS ts
      FROM read_json('{raw}/geo/*.json', format='newline_delimited',
        columns={{'ind': 'BIGINT', 'country': 'VARCHAR', 'timestamp': 'VARCHAR'}})""")
    con.sql(f"""CREATE OR REPLACE VIEW usr AS
      SELECT CAST(ind AS INTEGER) AS ind, first_name || last_name AS user_name,
        CAST(age AS INTEGER) AS age, CAST(date_joined AS TIMESTAMP) AS date_joined
      FROM read_json('{raw}/user/*.json', format='newline_delimited',
        columns={{'ind': 'BIGINT', 'first_name': 'VARCHAR', 'last_name': 'VARCHAR',
                 'age': 'BIGINT', 'date_joined': 'VARCHAR'}})""")


def _argmax(src, part, measure, tie):
    return f"""SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY {part}
        ORDER BY {measure} DESC NULLS LAST, {tie} ASC NULLS FIRST) AS rn
      FROM ({src})) WHERE rn = 1"""


def replay_sql():
    q3a = _argmax("""SELECT country, user_name, max(follower_count) AS follower_count
        FROM pin JOIN geo USING (ind) JOIN usr USING (ind)
        GROUP BY country, user_name""", "country", "follower_count", "user_name")
    q3a = f"SELECT country, user_name AS poster_name, follower_count FROM ({q3a})"
    return {
        "q1": _argmax("""SELECT country, category, count(*) AS category_count
            FROM pin JOIN geo USING (ind) GROUP BY country, category""",
                      "country", "category_count", "category"),
        "q2": _argmax("""SELECT year(ts) AS post_year, category, count(*) AS category_count
            FROM pin JOIN geo USING (ind) GROUP BY 1, 2""",
                      "post_year", "category_count", "category"),
        "q3a": q3a,
        "q3b": f"""SELECT * FROM ({q3a})
            ORDER BY follower_count DESC NULLS LAST, country ASC NULLS FIRST LIMIT 1""",
        "q4": _argmax("""SELECT CASE WHEN age < 25 THEN '18-24' WHEN age <= 35 THEN '25-35'
              WHEN age <= 50 THEN '36-50' ELSE '+50' END AS age_group,
              category, count(*) AS category_count
            FROM pin JOIN usr USING (ind) GROUP BY 1, 2""",
                      "age_group", "category_count", "category"),
        "q5": """SELECT year(date_joined) AS join_year, count(*) AS number_users_joined
            FROM usr GROUP BY 1""",
    }


def pipeline(work):
    """Returns one check per result: engine output vs the DuckDB replay."""
    out = os.path.join(work, "out")
    with open(os.path.join(out, "raw_dir")) as f:
        raw = f.read().strip()
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    _views(con, raw)
    checks = []
    for name, sql in replay_sql().items():
        try:
            got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                ok, detail = False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif len(got) != len(want):
                ok, detail = False, f"rows {len(got)} != {len(want)}"
            else:
                hg, hw = canon(got), canon(want)
                ok, detail = hg == hw, f"hash {hg} vs {hw}"
        except Exception as e:  # a failed replay is a failed check
            ok, detail = False, repr(e)
        checks.append({"name": f"pipeline {name} = duckdb replay", "ok": ok,
                       "detail": detail})
    return checks
