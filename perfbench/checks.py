"""Output checks for the graft benchmark (untimed; run after the JVM exits).

Every op of a run is checked once against an independent DuckDB answer
over the same generated files:

  oracle   operators run through `SparkEntry.queries`: the Spark result
           (parquet) against the operator's own `SparkEntry.oracleSql`,
           compared as an order-free multiset of canonicalised rows
           (count + sum of row hashes, the `tools/check.py --bighash`
           method).
  lookup   every point-in-time answer the client received against a DuckDB
           point query with the same semantics.
  capture  the exactly-once row count must equal the slice's rows, the
           windowed rollup must equal a DuckDB rollup of the slice, and an
           overwrite of the live sink must be refused.

`run_checks` returns (passed, failed, problems).
"""
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq

# AuditModel.operationSql / AuditQueries' oracle CTE: the feed's operation
# class and the sparse payload the reconstructions read
OPERATION = """CASE event_type WHEN 'signup' THEN 'I'
      WHEN 'error' THEN (CASE WHEN event_id % 50 = 0 THEN 'T' ELSE 'D' END)
      ELSE 'U' END"""
AUDIT = f"""SELECT event_id AS audit_id, user_id AS entity_id, ts, event_type, value,
    {OPERATION} AS operation,
    CASE WHEN event_type NOT IN ('signup', 'error')
      THEN CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT) END AS k,
    CASE WHEN event_type = 'purchase' THEN value END AS val
  FROM events"""


def _family(t):
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t == "HUGEINT" or t.startswith("DECIMAL") or t in ("FLOAT", "DOUBLE"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    return "str"


def _canon(col, fam):
    q = '"' + col + '"'
    if fam == "int":
        return f"CAST({q} AS BIGINT)"
    if fam == "float":
        return f"(CAST({q} AS DOUBLE) + 0)"  # +0 folds -0.0 into 0.0
    if fam == "bool":
        return f"CAST({q} AS BOOLEAN)"
    return f"CAST({q} AS VARCHAR)"


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracle(con, c):
    name, spark_dir, sql = c["name"], c["spark"], c["sql"]
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    if not files:
        return f"{name}: no Spark output"
    flist = ", ".join(f"'{f}'" for f in files)
    sdesc = con.execute(f"DESCRIBE SELECT * FROM read_parquet([{flist}])").fetchall()
    odesc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) q").fetchall()
    sfam = {r[0]: _family(r[1]) for r in sdesc}
    ofam = {r[0]: _family(r[1]) for r in odesc}
    if sorted(sfam) != sorted(ofam):
        return f"{name}: columns spark={sorted(sfam)} oracle={sorted(ofam)}"
    bad = [c for c in sfam if sfam[c] != ofam[c]]
    if bad:
        return f"{name}: type families differ on {bad}"
    cols = sorted(sfam)
    agg = "count(*), sum(CAST(hash({}) AS HUGEINT))"
    s = con.execute("SELECT " + agg.format(", ".join(_canon(c, sfam[c]) for c in cols))
                    + f" FROM read_parquet([{flist}])").fetchone()
    o = con.execute("SELECT " + agg.format(", ".join(_canon(c, ofam[c]) for c in cols))
                    + f" FROM ({sql}) q").fetchone()
    if s != o:
        return f"{name}: spark (rows, hash)={s} oracle={o}"
    return None


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _lookups(con, c):
    con.execute(f"CREATE TABLE audit AS {AUDIT}")
    state = """SELECT entity_id, audit_id, operation,
        last_value(k IGNORE NULLS) OVER w AS state_k,
        last_value(val IGNORE NULLS) OVER w AS state_val
      FROM audit WHERE entity_id = $e AND audit_id <= $s
      WINDOW w AS (ORDER BY audit_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      QUALIFY row_number() OVER (ORDER BY audit_id DESC) = 1"""
    join = """WITH l AS (SELECT audit_id, entity_id, ts FROM audit
                         WHERE entity_id = $e AND event_type = 'error'),
                   r AS (SELECT entity_id AS r_entity, ts AS r_ts, value AS r_value
                         FROM audit WHERE entity_id = $e AND event_type = 'purchase')
      SELECT l.audit_id, r.r_value, epoch_us(r.r_ts)
      FROM l ASOF LEFT JOIN r ON l.entity_id = r.r_entity AND l.ts >= r.r_ts
      ORDER BY l.audit_id"""
    problems, seen = [], set()
    for a in c["answers"]:
        key = (a["kind"], a["entity"], a["seq"] if a["kind"] == "asof" else None)
        if key in seen:
            continue
        seen.add(key)
        if a["kind"] == "asof_join":
            want = con.execute(join, {"e": a["entity"]}).fetchall()
        else:
            seq = a["seq"] if a["kind"] == "asof" else 2 ** 62
            want = con.execute(state, {"e": a["entity"], "s": seq}).fetchall()
        if not _same_rows([tuple(r) for r in a["rows"]], [tuple(r) for r in want]):
            problems.append(f"lookup {key}: got {a['rows'][:3]} want {want[:3]}")
    return problems, len(seen)


def _capture(con, c):
    problems = []
    for op in c["ops"]:
        f = os.path.join(op["slice"], "events.parquet")
        n = pq.ParquetFile(f).metadata.num_rows
        if op["exactly_once_rows"] != n:
            problems.append(f"capture {op['slice']}: exactly-once rows "
                            f"{op['exactly_once_rows']} != slice rows {n}")
        want = con.execute(f"""
            SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S'),
              {OPERATION}, count(*),
              CAST(round(sum(CAST(value AS DECIMAL(38, 6))), 2) AS DOUBLE)
            FROM read_parquet('{f}') GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
        got = sorted(tuple(r) for r in op["rollup"])
        if not _same_rows(got, sorted(want)):
            problems.append(f"capture {op['slice']}: rollup differs "
                            f"({len(got)} vs {len(want)} rows)")
    if c["overwrite_guard"] != "refused":
        problems.append(f"capture: overwrite of the live sink was not refused "
                        f"({c['overwrite_guard']})")
    return problems, len(c["ops"]) + 1


def run_checks(result, data):
    """(passed, failed, problems) over every check the run's manifest lists."""
    con = _connect(data)
    passed, failed, problems = 0, 0, []
    for c in result.get("checks", []):
        kind = c.get("kind")
        try:
            if kind == "oracle":
                p = _oracle(con, c)
                ps, n = ([p] if p else []), 1
            elif kind == "lookup":
                ps, n = _lookups(con, c)
            elif kind == "capture":
                ps, n = _capture(con, c)
            else:
                ps, n = [f"check error: {c.get('error')}"], 1
        except Exception as e:  # a check that cannot run is a failed check
            ps, n = [f"{kind} {c.get('name', '')}: {e}"], 1
        failed += min(len(ps), n)
        passed += n - min(len(ps), n)
        problems += ps
    return passed, failed, problems
