"""Per-cycle correctness checks of a benchmark run against DuckDB.

Every expectation is computed by DuckDB from the same snapshot the cycle
read, never by Spark. Where the repository's catalog carries an oracle
query for the same result (`SparkEntry.oracleSql`, written by the run to
oracle.json), it is replayed as is or with its scope literal bound:

  app-sync    store tables vs Regions/Clubs/Users SQL below, mbr3 (members)
              and ldr1 (leadership); extract keys unique; upserted and
              deleted counts vs the snapshot-to-snapshot key diff.
  mail-sync   each job's audience ids vs md5(lower(email)) of its members
              (mbr1 / mbr2 with the job's club or region bound, mbr3 for
              all), cleaned members spared; upserted, deleted, tag counts.
  corpus-prep corpus-prep receipt vs dp3 without its PII suffix, and the
              pretrain-prep receipt vs dp5.

check(workload, result, work) -> list of (cycle, name, ok, detail).
The two per-layer ratios that need DuckDB reads of a run's outputs,
rewrite_ratio (app-sync) and keep_ratio (corpus-prep), live here too.
"""
import json
import math
import os

import duckdb

SYNC_TABLES = ["region", "nation", "customer", "orders"]

REGIONS_SQL = ("SELECT CAST(r_regionkey AS BIGINT) AS uid, r_name AS name, "
               "CAST(r_regionkey + 10 AS BIGINT) AS number FROM region")
CLUBS_SQL = ("SELECT CAST(n_nationkey AS BIGINT) AS uid, n_name AS name, "
             "CAST(n_nationkey + 100 AS BIGINT) AS number, "
             "CAST(n_regionkey AS BIGINT) AS region_uid FROM nation")
USERS_SQL = ("SELECT c_custkey AS uid, replace(lower(c_name), '#', '.') || "
             "CASE WHEN c_custkey % 10 = 0 THEN '@example.com' ELSE '@acme.org' END AS email, "
             "substr(c_name, 1, 8) AS first_name, substr(c_name, 10, 18) AS last_name, "
             "c_custkey % 13 <> 0 AS active, "
             "CAST(to_timestamp(915148800 + c_custkey * 3600) AS DATE) AS last_login "
             "FROM customer")
ORDER = " ORDER BY ALL NULLS FIRST"
TABLE_KEYS = {"regions": ["uid"], "clubs": ["uid"], "users": ["uid"], "members": ["uid"],
              "leadership": ["entity_uid", "role_uid", "uid", "start_date"]}


def _bind(sql, old, new):
    """Replace the one occurrence of `old` in an oracle query."""
    if sql.count(old) != 1:
        raise ValueError(f"oracle query no longer has exactly one {old!r}")
    return sql.replace(old, new)


def _strip_order(sql):
    return sql[:-len(ORDER)] if sql.endswith(ORDER) else sql


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _rows(rel):
    out = [tuple(_canon(x) for x in r) for r in rel.fetchall()]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _connect(snapshot, tables):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{snapshot}/{t}.parquet')")
    return con


def _same(con, expected_sql, actual_sql):
    e = con.sql(expected_sql)
    a = con.sql(actual_sql)
    if sorted(e.columns) != sorted(a.columns):
        return False, f"columns {a.columns} vs expected {e.columns}"
    cols = ", ".join(f'"{c}"' for c in e.columns)
    er, ar = _rows(con.sql(f"SELECT {cols} FROM ({expected_sql})")), \
        _rows(con.sql(f"SELECT {cols} FROM ({actual_sql})"))
    if er != ar:
        diff = len(set(er) ^ set(ar))
        return False, f"{len(ar)} rows vs {len(er)} expected, {diff} differ"
    return True, f"{len(ar)} rows"


def _app_expected(oracle):
    members = _strip_order(oracle["mbr3_members_all"])
    leaders = _strip_order(oracle["ldr1_leadership_asof"])
    return {
        "regions": REGIONS_SQL,
        "clubs": f"SELECT * FROM ({CLUBS_SQL}) WHERE region_uid IN (SELECT uid FROM ({REGIONS_SQL}))",
        "users": USERS_SQL,
        "members": f"SELECT * FROM ({members}) WHERE uid IN (SELECT uid FROM ({USERS_SQL}))",
        "leadership": f"SELECT * FROM ({leaders}) WHERE uid IN (SELECT uid FROM ({USERS_SQL})) "
                      f"AND entity_uid IN (SELECT uid FROM ({CLUBS_SQL}))",
    }


def check_app(result, oracle):
    out = []
    expected = _app_expected(oracle)
    prev_keys = {}
    for c in result["cycles"]:
        k, tables = c["cycle"], c["record"]["tables"]
        con = _connect(c["dir"], SYNC_TABLES)
        for name, sql in expected.items():
            keys = ", ".join(TABLE_KEYS[name])
            t = tables[name]
            try:
                n, nk = con.sql(f"SELECT count(*), count(DISTINCT ({keys})) FROM ({sql})").fetchone()
                ok, detail = _same(con, sql, f"SELECT * FROM read_parquet('{t['path']}/*.parquet')")
                cur = set(con.sql(f"SELECT {keys} FROM ({sql})").fetchall())
                deleted = len(prev_keys.get(name, set()) - cur)
                prev_keys[name] = cur
                if n != nk:
                    ok, detail = False, f"extract keys not unique: {n} rows, {nk} keys"
                elif t["upserted"] != n or t["deleted"] != deleted:
                    ok, detail = False, (f"upserted/deleted {t['upserted']}/{t['deleted']} "
                                         f"vs expected {n}/{deleted}")
            except Exception as e:  # a failed check is a failed operation
                ok, detail = False, f"error: {e}"
            out.append((k, f"store {name}", ok, detail))
        con.close()
    return out


def _members_sql(oracle, job):
    if job["club"] is not None:
        return _bind(oracle["mbr1_members_by_club"], "CAST(7 AS BIGINT) AS club_nid",
                     f"CAST({int(job['club'])} AS BIGINT) AS club_nid")
    if job["region"] is not None:
        return _bind(oracle["mbr2_members_by_region"], "= CAST(2 AS BIGINT))",
                     f"= CAST({int(job['region'])} AS BIGINT))")
    return oracle["mbr3_members_all"]


def _audience_ids(con, members_sql):
    """md5(lower(email)) of every valid primary and partner e-mail."""
    m = _strip_order(members_sql)
    rows = con.sql(
        f"WITH m AS ({m}), e AS (SELECT email FROM m UNION ALL "
        f"SELECT partner_email FROM m WHERE partner_email IS NOT NULL) "
        f"SELECT DISTINCT md5(lower(email)) FROM e WHERE lower(coalesce(email, '')) <> '' "
        f"AND NOT suffix(lower(email), 'noemail.com') AND NOT suffix(lower(email), 'example.com')"
    ).fetchall()
    return {r[0] for r in rows}


def check_mail(result, oracle):
    out = []
    prev = {}
    for c in result["cycles"]:
        k, rec = c["cycle"], c["record"]
        con = _connect(c["dir"], SYNC_TABLES)
        state = {}
        for line in open(rec["sinks_file"]):
            job, mid, status = line.rstrip("\n").split("\t")
            state.setdefault(int(job), {})[mid] = status
        for job in rec["jobs"]:
            try:
                keep = _audience_ids(con, _members_sql(oracle, job))
                before = prev.get(job["id"], {})
                # cleaned before this cycle: marked now, or spared earlier
                cleaned = (set(job["cleaned"]) & set(before)) | \
                    {i for i, s in before.items() if s == "cleaned"}
                spared = cleaned - keep
                want = {i: "subscribed" for i in keep}
                want.update({i: "cleaned" for i in spared})
                got = state.get(job["id"], {})
                deleted = len(set(before) - keep - cleaned)
                if got != want:
                    ok, detail = False, (f"{len(got)} audience entries vs {len(want)} expected, "
                                         f"{len(set(got.items()) ^ set(want.items()))} differ")
                elif (job["upserted"], job["deleted"], job["tag_ops"]) != (len(keep), deleted, 3 * len(keep)):
                    ok, detail = False, (f"upserted/deleted/tag_ops {job['upserted']}/{job['deleted']}/"
                                         f"{job['tag_ops']} vs {len(keep)}/{deleted}/{3 * len(keep)}")
                else:
                    ok, detail = True, f"{len(got)} audience entries, {len(spared)} cleaned spared"
                prev[job["id"]] = got
            except Exception as e:
                ok, detail = False, f"error: {e}"
            out.append((k, f"audience job {job['id']}", ok, detail))
        con.close()
    return out


PII_SUFFIX = ("c.text || ' contact user' || c.doc_id || '@mail.example.com or 555-123-4567 ref 9' "
              "|| lpad(c.doc_id::VARCHAR, 9, '0')")


def check_corpus(result, oracle):
    out = []
    # CorpusPrep.run is dp3's composition without the PII suffix dp3 appends
    prep_sql = _bind(oracle["dp3_corpus_prep"], PII_SUFFIX, "c.text")
    for c in result["cycles"]:
        k, rec = c["cycle"], c["record"]
        con = _connect(c["dir"], ["documents"])
        for name, sql, got in [("corpus-prep receipt", prep_sql, rec["prep"]),
                               ("pretrain-prep receipt", oracle["dp5_pretrain_prep"], rec["pretrain"])]:
            try:
                want = _rows(con.sql(sql))
                have = sorted((tuple(_canon(x) for x in r) for r in got),
                              key=lambda t: tuple((x is None, str(x)) for x in t))
                ok = want == have and len(want) > 0
                detail = f"{len(have)} packs" if ok else f"{len(have)} packs vs {len(want)} expected"
            except Exception as e:
                ok, detail = False, f"error: {e}"
            out.append((k, name, ok, detail))
        con.close()
    return out


def check(workload, result, work):
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    return {"app-sync": check_app, "mail-sync": check_mail,
            "corpus-prep": check_corpus}[workload](result, oracle)


def keep_ratio(result):
    """Curated documents / input documents, per cycle: documents with at
    least one chunk in the corpus-prep export over the snapshot's count."""
    out = []
    con = duckdb.connect()
    for c in result["cycles"]:
        exp = c["record"]["out_prep"]
        kept = con.sql(f"SELECT count(DISTINCT doc_id) FROM "
                       f"read_parquet('{exp}/data/*/*.parquet', hive_partitioning = true)").fetchone()[0]
        docs = con.sql(f"SELECT count(*) FROM read_parquet('{c['dir']}/documents.parquet')").fetchone()[0]
        out.append(kept / docs)
    con.close()
    return out


def rewrite_ratio(result, spans):
    """Rows that changed / rows rewritten, per app-sync cycle. Rewritten
    rows are every row of every version a write-swap produced in the
    cycle; changed rows are the final table's rows absent (as whole rows)
    from the previous cycle's final table, plus the rows GC deleted."""
    out = []
    con = duckdb.connect()
    n = lambda sql: con.sql(sql).fetchone()[0]
    prev = {}
    for c in result["cycles"]:
        cyc = next(s for s in spans if s["name"] == "cycle" and s["attrs"]["cycle"] == c["cycle"])
        writes = [s for s in spans if s["name"] == "sources.write_swap"
                  and cyc["start"] <= s["start"] < cyc["end"]]
        rewritten = sum(n(f"SELECT count(*) FROM read_parquet('{w['attrs']['path']}/*.parquet')")
                        for w in writes)
        changed = 0
        for name, t in c["record"]["tables"].items():
            new = f"read_parquet('{t['path']}/*.parquet')"
            old = prev.get(name)
            changed += t["deleted"] + (n(f"SELECT count(*) FROM {new}") if old is None else
                                       n(f"SELECT count(*) FROM (SELECT * FROM {new} "
                                         f"EXCEPT ALL SELECT * FROM {old})"))
            prev[name] = new
        out.append(changed / rewritten if rewritten else 0.0)
    con.close()
    return out
