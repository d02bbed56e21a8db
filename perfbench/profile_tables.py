#!/usr/bin/env python3
"""Summary statistics of the ten catalog tables, the target that the
benchmark's catalog fixture is fitted to.

Usage:
    python3 perfbench/profile_tables.py <dir with <table>.parquet> > profile.json

`catalog_profile.json` is this script's output on the harness's
seed-42 test tables at sf0.01 (TESTDATA.md), the tables graft's
oracle gate runs on. `fixture.catalog` reproduces those statistics,
and `test_fixture.py` checks that it still does. Per table it records
the row count and, per column, the Arrow type of its parquet encoding,
distinct and NULL counts, and either the category shares (strings of
at most 25 values), the mean length (other strings, lists) or
quantiles (numbers; timestamps in epoch microseconds). `derived` holds the structure that
catalog ops iterate over: the documents' vocabulary, words per
document and near-duplicate share, whether event ids ascend with
time, and the co-occurrence graph that q356/q365 build from events.
"""
import json
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
QUANTILES = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
MAX_CATEGORIES = 25

# q365's graph: users linked when they share (event_type, hour) at
# least three times (graft.ops.Graph.cooccurEdges, minSupport = 3)
COOCCUR = """
WITH p AS (SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
           FROM {t}),
     e AS (SELECT a.user_id AS u, b.user_id AS v FROM p a JOIN p b
           ON a.event_type = b.event_type AND a.h = b.h AND a.user_id < b.user_id
           GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT (SELECT count(*) FROM p), count(*), count(DISTINCT u) FROM e"""


def _column(con, t, name, typ, arrow_type):
    c = f'"{name}"'
    s = {"type": arrow_type}
    if typ.endswith("[]"):
        s["nulls"], s["mean_length"] = con.execute(
            f"SELECT count(*) - count({c}), avg(len({c})) FROM {t}").fetchone()
        return s
    s["distinct"], s["nulls"] = con.execute(
        f"SELECT count(DISTINCT {c}), count(*) - count({c}) FROM {t}").fetchone()
    if typ == "VARCHAR":
        if s["distinct"] <= MAX_CATEGORIES:
            s["shares"] = dict(con.execute(
                f"SELECT {c}, count(*) / (SELECT count(*) FROM {t}) FROM {t} "
                f"GROUP BY 1 ORDER BY 1").fetchall())
        else:
            s["mean_length"] = con.execute(f"SELECT avg(length({c})) FROM {t}").fetchone()[0]
        return s
    v = f"epoch_us({c})" if typ.startswith("TIMESTAMP") else c
    s["quantiles"] = [[q, float(con.execute(
        f"SELECT quantile_disc({v}, {q}) FROM {t}").fetchone()[0])] for q in QUANTILES]
    return s


def profile(d):
    con = duckdb.connect()
    out = {}
    for name in TABLES:
        t = f"read_parquet('{d}/{name}.parquet')"
        cols = con.execute(f"DESCRIBE SELECT * FROM {t}").fetchall()
        schema = pq.read_schema(f"{d}/{name}.parquet")
        out[name] = {
            "rows": con.execute(f"SELECT count(*) FROM {t}").fetchone()[0],
            "columns": {c: _column(con, t, c, typ, str(schema.field(c).type))
                        for c, typ, *_ in cols}}
    docs = f"read_parquet('{d}/documents.parquet')"
    vocab = con.execute(f"SELECT count(DISTINCT w) FROM "
                        f"(SELECT unnest(string_split(text, ' ')) w FROM {docs})").fetchone()[0]
    per_doc = con.execute(f"SELECT avg(len(string_split(text, ' '))) FROM {docs}").fetchone()[0]
    dup = con.execute(f"SELECT avg(CAST(text LIKE '% dup' AS DOUBLE)) FROM {docs}").fetchone()[0]
    inversions = con.execute(
        f"SELECT count(*) FILTER (WHERE ts < prev) FROM (SELECT ts, lag(ts) OVER "
        f"(ORDER BY event_id) prev FROM read_parquet('{d}/events.parquet'))").fetchone()[0]
    nodes, edges, sources = con.execute(
        COOCCUR.format(t=f"read_parquet('{d}/events.parquet')")).fetchone()
    out["derived"] = {"text_vocabulary": vocab, "text_words_per_doc": per_doc,
                      "text_dup_share": dup, "events_ts_inversions": inversions,
                      "cooccur_keys": nodes,
                      "cooccur_edges": edges, "cooccur_sources": sources}
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    json.dump(profile(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    print()
