"""DuckDB oracle checks of a run's outputs (untimed, once per run).

The oracle SQL is the library's own (`SparkEntry.oracleSql`, handed over in
`result.json`); it runs here on the generated inputs, and outputs are
compared the way `tools/compare_oracle.py` does: columns sorted by name,
rows sorted, values hashed.
"""
import glob
import hashlib
import json
import math
import os

import duckdb


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(float(v))
    return str(v)


def _frame(rel, drop=()):
    df = rel.df()
    cols = sorted(c for c in df.columns if c not in drop)
    df = df[cols].sort_values(by=cols)
    rows = ["\x1f".join(_norm(v) for v in t) for t in df.itertuples(index=False)]
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest(), len(rows), cols


def _compare(name, con, got_sql, oracle_sql, drop=(), cache=None):
    """`cache`: optional (path) memo of the oracle's frame digest; the key
    folds in the input bytes and the SQL, so a hit is the same answer."""
    try:
        got = _frame(con.sql(got_sql), drop)
        exp = None
        if cache and os.path.exists(cache):
            with open(cache) as f:
                exp = tuple(json.load(f))
        if exp is None:
            exp = _frame(con.sql(oracle_sql), drop)
            if cache:
                with open(cache, "w") as f:
                    json.dump(exp, f)
    except Exception as e:  # an oracle that cannot run is a failed check
        return {"name": name, "ok": False, "error": str(e)[:300]}
    exp = (exp[0], exp[1], list(exp[2]))
    got = (got[0], got[1], list(got[2]))
    ok = got == exp
    out = {"name": name, "ok": ok, "rows": got[1], "oracle_rows": exp[1]}
    if not ok:
        out["error"] = ("columns differ" if got[2] != exp[2] else
                        "row count differs" if got[1] != exp[1] else "hash differs")
    return out


def _views(con, inp):
    for f in glob.glob(f"{inp}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{f}'")


def _key(files, sql):
    h = hashlib.sha256(sql.encode())
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:32]


def _connect(inp):
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    _views(con, inp)
    return con


def probe_checks(inp, out, c):
    """Traced runs: the capex job's outputs against their oracles on the
    capex input, and the stream's emitted sessions against the batch
    sessionization of every landed event. A stream emits a session only
    once the watermark closes it, so every emitted session must be an
    oracle session (user, start, end, event count); `sum_value` is left out
    because the stream sums doubles in arrival order."""
    checks = []
    if "capex_oracle_sql" in c:
        con = _connect(f"{inp}/capex")
        for name, sql in sorted(c["capex_oracle_sql"].items()):
            checks.append(_compare(f"capex:{name}", con,
                                   f"SELECT * FROM '{out}/check/{name}/*.parquet'", sql))
    if "stream_oracle_sql" in c:
        con = duckdb.connect()
        con.sql("SET enable_progress_bar = false")
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{inp}/events/*.parquet'")
        key = "user_id, epoch_us(t_start) AS s, epoch_us(t_end) AS e, n_events"
        try:
            con.sql(f"CREATE VIEW oracle AS SELECT {key} FROM ({c['stream_oracle_sql']})")
            con.sql(f"CREATE VIEW emitted AS SELECT {key} "
                    f"FROM '{out}/check/stream_sessions/*.parquet'")
            emitted = con.sql("SELECT count(*) FROM emitted").fetchone()[0]
            stray = con.sql("SELECT count(*) FROM (SELECT * FROM emitted "
                            "EXCEPT ALL SELECT * FROM oracle)").fetchone()[0]
            oracle_n = con.sql("SELECT count(*) FROM oracle").fetchone()[0]
            checks.append({"name": "stream_sessions", "ok": emitted > 0 and stray == 0,
                           "emitted": emitted, "not_in_oracle": stray,
                           "oracle_sessions": oracle_n})
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"name": "stream_sessions", "ok": False, "error": str(e)[:300]})
    return checks


def check(workload, inp, out, res, cache_dir):
    con = _connect(inp)
    sql = res["checks"]["oracle_sql"]
    if workload == "corpus_etl":
        manifest = res["checks"]["manifest"]
        # the export re-keys `shard` by md5(doc_id); every other column is
        # the pipeline's and must equal the oracle's
        checks = [_compare("corpus_pipeline", con,
                           f"SELECT * FROM read_parquet('{manifest}/*/*.parquet', "
                           "hive_partitioning = false)",
                           sql["corpus_pipeline"], drop=("shard",),
                           cache=f"{cache_dir}/corpus_pipeline-" + _key(
                               [f"{inp}/documents.parquet"], sql["corpus_pipeline"]))]
        rows = {o["rows"] for o in res["ops"] if o["kind"] == "job"}
        oracle_rows = checks[0].get("oracle_rows")
        checks.append({"name": "job_row_counts", "ok": rows == {oracle_rows},
                       "rows": sorted(rows), "oracle_rows": oracle_rows})
        return checks + probe_checks(inp, out, res["checks"])

    c = res["checks"]
    checks = [
        _compare("ann_index_probe@base", con,
                 f"SELECT * FROM '{out}/check/ann_probe_base/*.parquet'",
                 sql["ann_index_probe"]),
        _compare("lexical_index_probe@base", con,
                 f"SELECT * FROM '{out}/check/lex_probe_base/*.parquet'",
                 sql["lexical_index_probe"]),
    ]
    # final corpus = base + every applied arrival - every takedown
    appended = [i for o in res["ops"] if o["kind"] == "append" and o["ok"]
                for i in o["meta"]["vec_ids"]]
    deleted = c["deleted"]
    con.sql(f"""CREATE OR REPLACE VIEW embeddings AS
        SELECT * FROM (
          SELECT vec_id, embedding, label FROM '{inp}/embeddings.parquet'
          UNION ALL
          SELECT vec_id, embedding, label FROM '{inp}/arrivals/embeddings.parquet'
          WHERE list_contains({appended or [-1]}, vec_id))
        WHERE NOT list_contains({deleted or [-1]}, vec_id)""")
    checks.append(_compare("ann_index_probe@final", con,
                           f"SELECT * FROM '{out}/check/ann_probe_final/*.parquet'",
                           sql["ann_index_probe"]))
    checks.append({"name": "ann_serving_parity", "ok": bool(c.get("ann_parity")),
                   "queries": c.get("parity_queries", {}).get("ann")})
    checks.append({"name": "lexical_serving_parity", "ok": bool(c.get("lex_parity")),
                   "queries": c.get("parity_queries", {}).get("lex")})
    return checks + probe_checks(inp, out, c)
