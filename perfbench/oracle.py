"""Oracle and output checker, in DuckDB, independent of the program.

Expected values are computed once per seed from the raw inputs:
  * the observation store is a DuckDB replica of LOTJU ingestion
    (parse, Europe/Helsinki -> UTC, LOTJU id remap, NULL filter,
    natural-key dedup, join), FIXTURES.md sections 2-3;
  * each condition is evaluated in the reference formulation that
    `TsaQueries.condEvalSql` states: per-block islands over readings
    (lead, 30-minute truncation, drop-last, 3VL encode, islands on value
    change), a boundary grid, an overlap LEFT JOIN per block, and the
    master expression under SQL three-valued logic.

The checks then read the program's output files with DuckDB.
"""

import csv
import hashlib
import io
import os
import zipfile

import duckdb

MAX_MINUTES = 30


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET temp_directory = '.bench_build/duckdb_tmp'")
    return con


def _q(path):
    return "'" + path.replace("'", "''") + "'"


# ---------------------------------------------------------------- ingest

def load_obs(con, inputs):
    """Create table `obs(tfrom, statid, seid, seval)` from the raw dumps."""
    meta = os.path.join(inputs, "meta")
    cols_meta = "{'id': 'INTEGER', 'lotjuid': 'INTEGER', 'name': 'VARCHAR'}"
    con.execute(f"""
      CREATE OR REPLACE TABLE obs AS
      WITH stations AS (SELECT * FROM read_csv({_q(os.path.join(meta, 'stations.csv'))},
             delim='|', header=false, columns={cols_meta}, quote='"')),
      sensors AS (SELECT * FROM read_csv({_q(os.path.join(meta, 'sensors.csv'))},
             delim='|', header=false, columns={cols_meta}, quote='"')),
      mitta AS (SELECT * FROM read_csv({_q(os.path.join(inputs, 'mitta', '*.csv'))},
             delim='|', header=true,
             columns={{'ID': 'BIGINT', 'AIKA': 'VARCHAR', 'ASEMA_ID': 'INTEGER'}})),
      anturi AS (SELECT * FROM read_csv({_q(os.path.join(inputs, 'anturi', '*.csv'))},
             delim='|', header=true,
             columns={{'ID': 'BIGINT', 'ANTURI_ID': 'INTEGER', 'ARVO': 'FLOAT',
                       'MITTATIETO_ID': 'BIGINT', 'TIEDOSTO_ID': 'VARCHAR'}})),
      statobs AS (
        SELECT m.ID AS id,
               timezone('UTC', timezone('Europe/Helsinki',
                 strptime(split_part(m.AIKA, ',', 1), '%d.%m.%Y %H:%M:%S'))) AS tfrom,
               s.id AS statid
        FROM mitta m JOIN stations s ON m.ASEMA_ID = s.lotjuid
        WHERE m.ID IS NOT NULL AND m.AIKA IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY tfrom, statid ORDER BY m.ID) = 1),
      seobs AS (
        SELECT a.ID AS id, a.MITTATIETO_ID AS obsid, s.id AS seid, a.ARVO AS seval
        FROM anturi a JOIN sensors s ON a.ANTURI_ID = s.lotjuid
        WHERE a.ID IS NOT NULL AND a.MITTATIETO_ID IS NOT NULL AND a.ARVO IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY obsid, seid ORDER BY a.ID) = 1)
      SELECT so.tfrom, so.statid, se.seid, se.seval
      FROM statobs so JOIN seobs se ON so.id = se.obsid""")


DIGEST_SQL = """SELECT count(*)::BIGINT,
  coalesce(sum(hash(epoch(tfrom)::BIGINT, statid::BIGINT, seid::BIGINT,
                    (seval * 4)::BIGINT)), 0)::VARCHAR FROM {src}"""


def store_digest(con, src):
    n, h = con.execute(DIGEST_SQL.format(src=src)).fetchone()
    return int(n), h


# ---------------------------------------------------------------- tsa

def _pred(b):
    lit = lambda v: f"CAST({float(v)!r} AS DOUBLE)"
    x = "CAST(seval AS DOUBLE)"
    if b["op"] == "in":
        return f"{x} IN ({', '.join(lit(v) for v in b['values'])})"
    op = {"=": "=", "<>": "<>", "<": "<", ">": ">", "<=": "<=", ">=": ">="}[b["op"]]
    return f"{x} {op} {lit(b['values'][0])}"


def _expr_sql(ast):
    k = ast[0]
    if k == "ref":
        return f"b{ast[1]}"
    if k == "not":
        return f"(NOT {_expr_sql(ast[1])})"
    return f"({_expr_sql(ast[1])} {'AND' if k == 'and' else 'OR'} {_expr_sql(ast[2])})"


def _table(cid):
    return "cond_" + cid


def eval_condition(con, c, t_from, t_until):
    """Evaluate one condition into table cond_<id>; return its summary."""
    parts = []
    for i, b in enumerate(c["blocks"]):
        if b["kind"] == "pri":
            parts.append(f"""SELECT {i} AS block_id, tfrom, ({_pred(b)}) AS istrue
              FROM obs WHERE statid = {b['statid']} AND seid = {b['seid']}
                AND tfrom BETWEEN TIMESTAMP '{t_from}' AND TIMESTAMP '{t_until}'""")
    sec = [f"SELECT {i} AS block_id, vfrom, vuntil, master AS istrue FROM {_table(b['ref'])}"
           for i, b in enumerate(c["blocks"]) if b["kind"] == "sec"]
    packed = []
    if parts:
        packed.append(f"""
          WITH tagged AS ({' UNION ALL '.join(parts)}),
          lead_tb AS (
            SELECT block_id, tfrom,
              lead(tfrom) OVER (PARTITION BY block_id ORDER BY tfrom) AS tuntil_raw, istrue
            FROM tagged),
          trunc_tb AS (
            SELECT block_id, tfrom,
              least(tuntil_raw, tfrom + INTERVAL {MAX_MINUTES} MINUTE) AS tuntil,
              coalesce(CAST(istrue AS INT), -1) AS enc
            FROM lead_tb WHERE tuntil_raw IS NOT NULL),
          chg_tb AS (
            SELECT *, CASE WHEN enc = lag(enc) OVER (PARTITION BY block_id ORDER BY tfrom)
              THEN 0 ELSE 1 END AS chg
            FROM trunc_tb),
          grp_tb AS (
            SELECT *, sum(chg) OVER (PARTITION BY block_id ORDER BY tfrom
              ROWS UNBOUNDED PRECEDING) AS grp
            FROM chg_tb)
          SELECT block_id, min(tfrom) AS vfrom, max(tuntil) AS vuntil,
            CASE max(enc) WHEN 1 THEN true WHEN 0 THEN false ELSE NULL END AS istrue
          FROM grp_tb GROUP BY block_id, grp""")
    con.execute("CREATE OR REPLACE TEMP TABLE rng AS " + " UNION ALL ".join(packed + sec))
    n = len(c["blocks"])
    master = _expr_sql(c["ast"])
    if n == 1:
        # single block: the block's own ranges are the result rows
        cond = f"""SELECT vfrom, vuntil, date_diff('second', vfrom, vuntil) AS vdiff_s,
                     istrue AS b0, {master} AS master FROM rng"""
    else:
        joins = "\n".join(
            f"""LEFT JOIN (SELECT * FROM rng WHERE block_id = {i}) j{i}
                ON mr2.vfrom < j{i}.vuntil AND j{i}.vfrom < mr2.vuntil"""
            for i in range(n))
        cols = ", ".join(f"j{i}.istrue AS b{i}" for i in range(n))
        cond = f"""
          WITH bounds AS (SELECT vfrom AS vt FROM rng UNION SELECT vuntil FROM rng),
          mr AS (SELECT vt AS vfrom, lead(vt) OVER (ORDER BY vt) AS vuntil FROM bounds),
          mr2 AS (SELECT vfrom, vuntil FROM mr WHERE vuntil IS NOT NULL),
          grid AS (
            SELECT mr2.vfrom, mr2.vuntil,
              date_diff('second', mr2.vfrom, mr2.vuntil) AS vdiff_s, {cols}
            FROM mr2 {joins})
          SELECT *, {master} AS master FROM grid"""
    con.execute(f"CREATE OR REPLACE TABLE {_table(c['id'])} AS {cond}")
    row = con.execute(f"""
      SELECT strftime(min(vfrom), '%Y-%m-%d %H:%M:%S'),
             strftime(max(vuntil), '%Y-%m-%d %H:%M:%S'),
             coalesce(sum(vdiff_s) FILTER (WHERE master), 0)::BIGINT,
             coalesce(sum(vdiff_s) FILTER (WHERE NOT master), 0)::BIGINT,
             coalesce(date_diff('second', min(vfrom), max(vuntil)), 0)::BIGINT,
             count(*)::BIGINT
      FROM {_table(c['id'])}""").fetchone()
    data_from, data_until, valid, notvalid, tot, nrows = row
    return dict(data_from=data_from, data_until=data_until, valid_s=valid,
                notvalid_s=notvalid, nodata_s=tot - valid - notvalid, tottime_s=tot,
                n_rows=nrows)


def expected(plan, inputs):
    """The oracle's expectations for one generated input set."""
    if plan["workload"] != "tsa_workbook":
        return {}
    con = _con()
    load_obs(con, inputs)
    n, h = store_digest(con, "obs")
    conds = {}
    for sh in plan["sheets"]:
        for c in sh["conditions"]:
            conds[c["id"]] = eval_condition(con, c, sh["time_from"], sh["time_until"])
    con.close()
    return dict(rows=n, digest=h, conditions=conds)


# ---------------------------------------------------------------- checks

def _norm_ts(s):
    if s in ("", "null"):
        return None
    return s[:-2] if s.endswith(".0") else s


def check_tsa(exp, out):
    """Per-condition verdicts {id: problem or None} and counts."""
    verdict = {cid: "missing from summary" for cid in exp["conditions"]}
    counts = dict(result_ranges=0)
    path = os.path.join(out, "bench_summary.csv")
    if not os.path.exists(path):
        return verdict, counts, None
    with open(path, newline="") as f:
        text = f.read()
    rows = list(csv.DictReader(io.StringIO(text)))
    con = _con()
    for r in rows:
        cid = f"{r['site']}_{r['master_alias']}"
        e = exp["conditions"].get(cid)
        if e is None:
            continue
        got = dict(data_from=_norm_ts(r["data_from"]), data_until=_norm_ts(r["data_until"]),
                   **{k: int(r[k]) for k in ("valid_s", "notvalid_s", "nodata_s",
                                              "tottime_s", "n_rows")})
        bad = [k for k in e if e[k] != got[k]]
        if bad:
            verdict[cid] = "summary differs from oracle: " + ", ".join(
                f"{k} {got[k]} != {e[k]}" for k in bad)
            continue
        if got["valid_s"] + got["notvalid_s"] + got["nodata_s"] != got["tottime_s"]:
            verdict[cid] = "valid + notvalid + nodata != tottime"
            continue
        pq = os.path.join(out, "conditions", cid, "*.parquet")
        try:
            n, unsorted, overlap, baddiff, valid = con.execute(f"""
              WITH r AS (SELECT vfrom, vuntil, vdiff_s, master,
                           lag(vfrom) OVER () AS pfrom, lag(vuntil) OVER () AS puntil
                         FROM read_parquet({_q(pq)}))
              SELECT count(*), count(*) FILTER (WHERE vfrom < pfrom),
                     count(*) FILTER (WHERE vfrom < puntil),
                     count(*) FILTER (WHERE vdiff_s <> date_diff('second', vfrom, vuntil)),
                     coalesce(sum(vdiff_s) FILTER (WHERE master), 0)
              FROM r""").fetchone()
        except duckdb.Error as ex:
            verdict[cid] = f"condition parquet unreadable: {ex}"
            continue
        if n != got["n_rows"] or unsorted or overlap or baddiff or valid != got["valid_s"]:
            verdict[cid] = (f"ranges invalid: rows {n}/{got['n_rows']}, unsorted {unsorted}, "
                            f"overlapping {overlap}, bad vdiff {baddiff}, valid {valid}")
            continue
        verdict[cid] = None
        counts["result_ranges"] += n
    con.close()
    if os.path.exists(os.path.join(out, "bench_ERRORS.json")):
        verdict = {k: v or "error tree written" for k, v in verdict.items()}
    # the report sinks: both documents, one timeline plot per condition
    # that has data
    n_plot = sum(1 for e in exp["conditions"].values() if e["n_rows"] > 0)
    for f in ("bench.xlsx", "bench.pptx"):
        p = os.path.join(out, f)
        if not (os.path.exists(p) and zipfile.is_zipfile(p)):
            verdict = {k: v or f"{f} missing or not a zip" for k, v in verdict.items()}
    plots = os.path.join(out, "plots")
    pngs = os.listdir(plots) if os.path.isdir(plots) else []
    if len(pngs) != n_plot:
        verdict = {k: v or f"{len(pngs)} timeline plots for {n_plot} conditions with data"
                   for k, v in verdict.items()}
    return verdict, counts, hashlib.sha256(text.encode()).hexdigest()


def check_store(exp, store):
    """(problem or None, counts) for the observation store built by
    LotjuIngest.ingest: row count and content digest against the oracle's
    own ingest of the raw dumps, plus the store's file layout."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs
             if f.endswith(".parquet")]
    if not files:
        return "no parquet files in the store", {}
    con = _con()
    n, h = store_digest(con, f"read_parquet({_q(os.path.join(store, '*', '*.parquet'))}, "
                             "hive_partitioning=false)")
    con.close()
    nbytes = sum(os.path.getsize(f) for f in files)
    counts = dict(rows_out=n, files_written=len(files), bytes_written=nbytes,
                  bytes_per_row=nbytes / max(n, 1))
    if (n, h) != (exp["rows"], exp["digest"]):
        return (f"store has {n} rows, digest {h}; oracle {exp['rows']}, {exp['digest']}",
                counts)
    return None, counts


def check_curation(plan, out):
    """(problem or None, counts, digest) for one curation output."""
    path = os.path.join(out, "survivors.txt")
    if not os.path.exists(path):
        return "survivors.txt missing", {}, None
    with open(path) as f:
        ids = [int(x) for x in f.read().split()]
    got = set(ids)
    problems = []
    if len(got) != len(ids):
        problems.append("duplicate ids in store")
    kept_exact = [i for i in plan["exact"] if i in got]
    lost_unique = [i for i in plan["uniques"] if i not in got]
    kept_lowq = [i for i in plan["lowq"] if i in got]
    if kept_exact:
        problems.append(f"{len(kept_exact)} planted exact duplicates kept")
    if lost_unique:
        problems.append(f"{len(lost_unique)} planted unique docs removed")
    if kept_lowq:
        problems.append(f"{len(kept_lowq)} low-quality docs kept")
    removed_near = sum(1 for i in plan["near"] if i not in got)
    counts = dict(near_dup_recall=removed_near / max(len(plan["near"]), 1))
    digest = hashlib.sha256(",".join(map(str, sorted(got))).encode()).hexdigest()
    return ("; ".join(problems) or None), counts, digest
