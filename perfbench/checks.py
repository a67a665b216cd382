"""Independent correctness checks and user-data sizes of the lake benchmark.

Every expected value here comes from DuckDB or from arithmetic on the
seeded inputs, never from a saved copy of the engine's output. Each check
returns the names of the operations whose output was wrong; a wrong output
counts that operation as failed.
"""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

DML_AGGS = ("count(*) AS n, CAST(coalesce(sum(l_quantity), 0) AS BIGINT) AS qty, "
            "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) AS cents, "
            "coalesce(sum(l_orderkey), 0) AS okeys")


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _nbytes(con, sql):
    return con.sql(sql).arrow().nbytes


# ---- vdt_jobs ---------------------------------------------------------------

def _vdt_con(inputs):
    con = _con()
    for t in ("customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    return con


def _frames_equal(spark_df, duck_df):
    s = spark_df[sorted(spark_df.columns)]
    o = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False
    for c in s.columns:
        if (s[c].dtype.kind in "iufb" or o[c].dtype.kind in "iufb") and s[c].dtype.kind != o[c].dtype.kind:
            return False
    cols = list(s.columns)
    s = s.sort_values(cols, kind="mergesort").reset_index(drop=True)
    o = o.sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = s[c], o[c]
        if not ((a.isna() & b.isna()) | (a.astype(object) == b.astype(object))).all():
            return False
    return True


def check_vdt_jobs(inputs, out, obs, params, perturb=None):
    """Each job's committed result, read back from the repo, against DuckDB
    running the job's registered oracle SQL over the same parquet inputs."""
    con = _vdt_con(inputs)
    bad = []
    for q, sql in sorted(obs["oracle_sql"].items()):
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        spark_df = pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else pd.DataFrame()
        if perturb == "result_row" and q == "q_vdt1" and len(spark_df):
            spark_df = spark_df.copy()
            spark_df.iloc[0, spark_df.columns.get_loc("o_totalprice")] += 0.01
        if not _frames_equal(spark_df, con.sql(sql).df()):
            bad.append(f"ops.{q}")
    return bad


# q_vdt4's own versioned table keeps v0 (these casts of lineitem) and v1
# (the job's result) after its vacuum.
VDT4_V0 = ("SELECT " + ", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in (
    "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    + " FROM lineitem")


def user_bytes_vdt_jobs(inputs, obs, params):
    """Per round: the four results committed to the repo, plus q_vdt4's v0 and
    v1 in its own table. Live: those and the raw zone."""
    con = _vdt_con(inputs)
    sql = obs["oracle_sql"]
    written = sum(_nbytes(con, q) for q in sql.values()) + \
        _nbytes(con, VDT4_V0) + _nbytes(con, sql["q_vdt4"])
    raw = sum(_nbytes(con, f"SELECT * FROM {t}") for t in ("customer", "orders", "lineitem"))
    return written, raw + written


# ---- row_dml ----------------------------------------------------------------

def _dml_replay(inputs, params, perturb=None):
    """Apply the round's statements to the base rows in DuckDB, in the order
    the benchmark issues them. Returns (connection, bytes of rows written or
    changed, facts about the intermediate states)."""
    con = _con()
    for t in ("base", "cdc_upserts", "cdc_deletes", "merge_src"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    if perturb == "dml_batch":  # one upsert row lost from the batch
        con.execute("DELETE FROM cdc_upserts WHERE rowid = (SELECT min(rowid) FROM cdc_upserts)")
    con.execute("CREATE TABLE t AS SELECT * FROM base")
    changed = _nbytes(con, "SELECT * FROM cdc_upserts") + _nbytes(
        con, "SELECT t.* FROM t SEMI JOIN cdc_deletes d USING (l_orderkey, l_linenumber)")
    con.execute("""DELETE FROM t USING (SELECT l_orderkey, l_linenumber FROM cdc_upserts
                                        UNION SELECT l_orderkey, l_linenumber FROM cdc_deletes) k
                   WHERE t.l_orderkey = k.l_orderkey AND t.l_linenumber = k.l_linenumber""")
    con.execute("INSERT INTO t SELECT * FROM cdc_upserts")
    facts = {"after_upsert": _aggs(con), "commits": 3}  # base, upsert, merge
    changed += _nbytes(con, "SELECT * FROM merge_src")
    con.execute("CREATE TABLE new_keys AS SELECT * FROM merge_src WHERE l_key NOT IN (SELECT l_key FROM t)")
    con.execute("""UPDATE t SET l_quantity = s.l_quantity, l_discount = s.l_discount
                   FROM merge_src s WHERE t.l_key = s.l_key""")
    con.execute("INSERT INTO t SELECT * FROM new_keys")
    # a delete or update that matches no row commits nothing
    facts["cow_deleted"] = _aggs(con, params["delete_where"])["n"]
    for where in (params["delete_where"], params["dv_where"]):
        changed += _nbytes(con, f"SELECT * FROM t WHERE {where}")
        facts["commits"] += _aggs(con, where)["n"] > 0
        con.execute(f"DELETE FROM t WHERE {where}")
    sets = ", ".join(f"{c} = {e}" for c, e in params["update_set"].items())
    facts["commits"] += _aggs(con, params["update_where"])["n"] > 0
    con.execute(f"UPDATE t SET {sets} WHERE {params['update_where']}")
    changed += _nbytes(con, f"SELECT * FROM t WHERE {params['update_where']}")
    return con, changed, facts


def _aggs(con, where="TRUE"):
    row = con.sql(f"SELECT {DML_AGGS} FROM t WHERE {where}").fetchone()
    return dict(zip(("n", "qty", "cents", "okeys"), (int(v) for v in row)))


def check_row_dml(inputs, out, obs, params, perturb=None):
    con, _, facts = _dml_replay(inputs, params, perturb)
    lo, hi = params["band"]
    want_band = _aggs(con, f"l_orderkey BETWEEN {lo} AND {hi}")
    want_all = _aggs(con)
    bad = []
    for r in obs["rounds"]:
        if r.get("band") != want_band:
            bad.append("vt.read_where")
        if r.get("mor") != want_all:
            bad.append("vt.read_mor")
        if r.get("count_rows") != want_all["n"]:
            bad.append("vt.count_rows")
        # time travel: the upsert's version (main holds the base as v0)
        if r.get("upsert_version") != 1 or r.get("after_upsert") != facts["after_upsert"]:
            bad.append("vt.read_version")
        # the branch's own files are new this round, and a copy-on-write
        # delete that matched rows must have dropped at least one of main's
        if not r.get("diff_added") or r.get("diff_added_preexisting") != 0 or \
                (facts["cow_deleted"] > 0 and not r.get("diff_removed")):
            bad.append("vt.diff")
        if r.get("history") != facts["commits"]:
            bad.append("vt.history")
    return bad


def user_bytes_row_dml(inputs, obs, params):
    con, changed, _ = _dml_replay(inputs, params)
    base = _nbytes(con, "SELECT * FROM base")
    # live at the end: main (the base) and the last round's branch
    return changed, base + _nbytes(con, "SELECT * FROM t")


# ---- lake_history -----------------------------------------------------------

def history_rows(lo, hi):
    """The rows the JVM appends for ids [lo, hi), by the same expressions."""
    return (f"SELECT range AS id, CAST(range % 16 AS INTEGER) AS grp, (range * 7) % 1000 AS val, "
            f"'p' || CAST(range % 97 AS VARCHAR) AS payload FROM range({lo}, {hi})")


def _sum_ids(m):
    return m * (m - 1) // 2


def check_lake_history(inputs, out, obs, params, perturb=None):
    """Properties the versioning verbs must have, from the append plan."""
    H, R = params["commits"], params["rows_per_commit"]
    A, rr = params["appends_per_round"], params["round_rows"]
    ts = obs["commit_ts"]
    want_history = H + A + 2  # main's commits, the round's appends, the diverging append, the merge
    if perturb == "version_count":
        want_history += 1
    bad = []
    for r in obs["rounds"]:
        for rd in r["reads"]:
            v = rd["asked"]
            want_v = max(u for u in range(H) if ts[u] <= ts[v]) if rd["by_ts"] else v
            m = (want_v + 1) * R
            if (rd.get("version"), rd.get("n"), rd.get("sum_id")) != (want_v, m, _sum_ids(m)):
                bad.append("vt.read_version")
            if (rd.get("point_n"), rd.get("point_sum")) != (1, rd["point"]):
                bad.append("vt.read_where")
        if (r.get("diff_added"), r.get("diff_removed")) != (r["mb_new"], r["wb_new"]) or \
                len(r["mb_new"]) != 1 or len(r["wb_new"]) != 1:
            bad.append("vt.diff")
        if r.get("merged_rows") != H * R + (A + 2) * rr:
            bad.append("vt.merge")
        if r.get("history") != want_history:
            bad.append("vt.history")
    versions = obs["versions"]
    if [x["version"] for x in versions] != list(range(H)):
        bad.append("vt.vacuum")
    for x in versions:
        m = (x["version"] + 1) * R
        if x["files_missing"] or x["logged_rows"] != m or x.get("rows_read", m) != m:
            bad.append("vt.vacuum")
    return bad


def user_bytes_lake_history(inputs, obs, params):
    con = _con()
    rr = params["round_rows"]
    per_round = (params["appends_per_round"] + 2) * _nbytes(con, history_rows(0, rr))
    live = _nbytes(con, history_rows(0, params["commits"] * params["rows_per_commit"]))
    return per_round, live


CHECKS = {"vdt_jobs": check_vdt_jobs, "row_dml": check_row_dml, "lake_history": check_lake_history}
USER_BYTES = {"vdt_jobs": user_bytes_vdt_jobs, "row_dml": user_bytes_row_dml,
              "lake_history": user_bytes_lake_history}
