"""Output checks, run after the timed phase has ended.

Registry ops are compared with their DuckDB oracle (`SparkEntry.oracleSql`)
run over the exact inputs the op read, with the canonicalization of
tools/verify_local.py; entries without an oracle get a rows-and-schema
check. cdc_ingest's reader ops are compared with a DuckDB replay of the
envelopes their table version had applied, and its end state with the
replay of everything landed.
"""
import os
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from verify_local import canon  # noqa: E402

# parallel oracle checks: nproc connections of one DuckDB thread each, so the
# slowest single oracle, not their sum, bounds the check
WORKERS = os.cpu_count() or 1
THREADS = 1
INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
CORPUS = ("documents", "embeddings")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _family(t):
    return "int" if t in INT_TYPES else t


def compare(got, exp):
    """None when the DuckDB relations `got` (our output) and `exp` (the
    oracle) agree as verify_local.py judges them, else the reason."""
    g_cols, g_rows = canon(got.fetchall(), got.columns)
    e_cols, e_rows = canon(exp.fetchall(), exp.columns)
    if g_cols != e_cols:
        return f"columns {g_cols} != oracle {e_cols}"
    g_t = dict(zip(got.columns, (_family(str(t)) for t in got.types)))
    e_t = dict(zip(exp.columns, (_family(str(t)) for t in exp.types)))
    bad_t = {c: (g_t[c], e_t[c]) for c in g_t if g_t[c] != e_t[c]}
    if bad_t:
        return f"column types differ (ours, oracle): {bad_t}"
    if len(g_rows) != len(e_rows):
        return f"{len(g_rows)} rows, oracle {len(e_rows)}"
    bad = sum(1 for a, b in zip(g_rows, e_rows) if a != b)
    return f"{bad}/{len(g_rows)} rows differ" if bad else None


def check_registry(res, static, versions=None):
    """{output group id: None or failure reason}. `static` holds the
    tables; `versions`, if given, the corpus versions v<k>/ the ops read.
    Groups are checked in parallel."""
    oracles = res["oracles"]
    static = Path(static)

    def one(g):
        vdir = Path(versions) / f"v{g['version']}" if versions else static
        con = duckdb.connect(config={"threads": THREADS})
        con.execute("SET enable_progress_bar = false")
        try:
            for t in TABLES:
                src = vdir if t in CORPUS else static
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src / t}.parquet'")
            got = con.sql(f"SELECT * FROM '{g['path']}/*.parquet'")
            if g["name"] in oracles:
                return compare(got, con.sql(oracles[g["name"]])), None
            if g["rows"] == 0:
                return "no rows", None
            return None, list(zip(got.columns, map(str, got.types)))
        except Exception as e:  # the oracle or the read failed
            return f"check error: {e}", None
        finally:
            con.close()

    groups = res["outputs"]
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        results = list(pool.map(one, groups))
    verdicts = {}
    first_schema = {}
    # an entry with no oracle must keep the schema its first op had
    for g, (verdict, schema) in zip(groups, results):
        if schema is not None:
            first = first_schema.setdefault(g["name"], schema)
            verdict = None if schema == first else f"schema {schema} != first {first}"
        verdicts[g["id"]] = verdict
    return verdicts


REPLAY = """
CREATE TABLE env AS SELECT * FROM read_json('{path}',
    columns = {{'offset': 'BIGINT', 'value': 'VARCHAR'}}, format = 'newline_delimited');
CREATE TABLE good AS
  SELECT "offset", json_extract_string(value, '$.payload.op') AS op,
         coalesce(json_extract(value, '$.payload.after'),
                  json_extract(value, '$.payload.before')) AS r
  FROM env
  WHERE json_valid(value) AND json_extract(value, '$.payload') IS NOT NULL
    AND json_type(json_extract(value, '$.payload')) = 'OBJECT';
CREATE TABLE hist AS
  SELECT "offset", op, CAST(r->>'id' AS BIGINT) AS id, r->>'name' AS name,
         r->>'position' AS position, CAST(r->>'salary' AS DOUBLE) AS salary
  FROM good;
"""

STATE = """
  SELECT id, name, position, salary FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY "offset" DESC) AS rn
    FROM hist WHERE "offset" <= {bound}) WHERE rn = 1 AND op <> 'd'
"""


def _rows_equal(got_rows, got_cols, exp):
    g = canon([tuple(r) for r in got_rows], got_cols)
    e = canon(exp.fetchall(), exp.columns)
    return g == e


def check_cdc(res):
    """(per-op verdicts {op id: None or reason}, end-state failures list)."""
    c = res["cdc"]
    con = duckdb.connect()
    con.execute(REPLAY.format(path=c["envelopes"]))
    n_keys = c["n_keys"]
    # the last envelope offset each version of the current-state table
    # has applied: the snapshot load, then each batch's source end offset
    chunk_last = {ch[5]: ch[2] for ch in c["chunks"]}
    end_of_batch = {p["id"]: p["end"] for p in c["progress"]}
    bound = {c["snapshot_version"]: n_keys - 1}
    for b in c["batches"]:
        e = end_of_batch.get(b["id"])
        if b["error"] is None and e is not None and e in chunk_last:
            bound[b["version"]] = max(bound.get(b["version"], -1), n_keys + chunk_last[e] - 1)
    verdicts = {}
    for v in sorted({o["version"] for o in res["ops"]}):
        if v not in bound:
            for o in res["ops"]:
                if o["version"] == v:
                    verdicts[o["id"]] = f"version {v} has no known applied offset"
            continue
        con.execute(f"CREATE OR REPLACE TABLE st AS {STATE.format(bound=bound[v])}")
        for o in res["ops"]:
            if o["version"] != v or o["error"]:
                continue
            if o["name"] == "reader_agg":
                exp = con.sql("SELECT position, count(*) AS n, sum(salary) AS total FROM st GROUP BY position")
            else:
                exp = con.sql(f"SELECT * FROM st WHERE id = {int(o['key'])}")
            verdicts[o["id"]] = None if _rows_equal(o["data"], o["cols"], exp) else "rows differ from replay"
    # end state
    problems = []
    reason = compare(con.sql(f"SELECT id, name, position, salary FROM '{c['cur_final']}/*.parquet'"),
                     con.sql(STATE.format(bound=n_keys + c["landed"])))
    if reason:
        problems.append(f"current-state table != replay of the landed envelopes: {reason}")
    dup = con.sql(f"""
        SELECT (SELECT count(*) FROM '{c['log_final']}/*.parquet'),
               (SELECT count(DISTINCT "offset") FROM '{c['log_final']}/*.parquet'),
               (SELECT count(*) FROM hist),
               (SELECT count(*) FROM hist h WHERE h."offset" IN
                   (SELECT "offset" FROM '{c['log_final']}/*.parquet'))""").fetchone()
    if not (dup[0] == dup[1] == dup[2] == dup[3]):
        problems.append(f"log holds {dup[0]} rows ({dup[1]} distinct offsets) for {dup[2]} good events")
    n_bad = con.sql("SELECT count(*) FROM env").fetchone()[0] - dup[2]
    if not (c["dlq_rows"] == c["malformed_planted"] == n_bad):
        problems.append(f"DLQ holds {c['dlq_rows']} rows; {c['malformed_planted']} malformed planted, "
                        f"{n_bad} unparseable in the replay")
    failed_batches = [b["id"] for b in c["batches"] if b["error"]]
    if failed_batches:
        problems.append(f"batches failed: {failed_batches}")
    con.close()
    return verdicts, problems
