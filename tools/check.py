#!/usr/bin/env python3
"""Local replica of the driver's correctness gate — strictly harsher.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [only names...]

Reads oracle_sql.json written by graft.Verify, runs each oracle in DuckDB
against the sfDir parquet tables, and compares with the Spark-written
parquet in <verifyOutDir>/<name>/.

Two compare layers, both must pass:
1. pandas layer (what the driver does): load the Spark parquet via
   pandas/pyarrow and the oracle via DuckDB .df(); hard-fail on any
   array-typed cell (ndarray/list — the driver's hasher crashes on these),
   and fail on any column whose pandas dtype differs between the sides
   (the driver's hash is dtype-sensitive: DuckDB HUGEINT → float64 vs
   Spark int64 hash-mismatches even when values are equal).
2. value layer: exact Python-value compare, column-sorted, for diagnosis.
"""
import sys, json, glob, math
import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # date/datetime
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.replace("+00:00", "")
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def load_spark(outdir, name):
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not files:
        return None, None, None
    t = pq.read_table(f"{outdir}/{name}")
    cols = sorted(t.column_names)
    rows = [tuple(norm(r[c]) for c in cols) for r in t.to_pylist()]
    return cols, rows, t.to_pandas()

def dtype_tag(df, col):
    """Canonical dtype tag for the driver-equivalence compare.

    The driver's pandas hash is sensitive to the numeric FAMILY, not the
    width: int64 5 and int32 5 hash equal, but float64 5.0 vs int64 5 do
    not (the r02 HUGEINT→float64 killer). Likewise datetime64 resolution
    and date-object-vs-datetime64 are loader artifacts the driver's own
    green queries (q_running_totals, token_count) prove it tolerates.
    So: collapse to {int, float, bool, datetime, object:<pytype>}.
    """
    dt = df[col].dtype
    if dt.kind in "iu":
        return "int"
    if dt.kind == "f":
        return "float"
    if dt.kind == "b":
        return "bool"
    if dt.kind == "M":
        return "datetime"
    if dt.kind == "O":
        nn = df[col].dropna()
        if len(nn) == 0:
            return "object:empty"
        t = type(nn.iloc[0]).__name__
        if t in ("date", "datetime", "Timestamp"):
            return "datetime"
        return f"object:{t}"
    return str(dt)

def array_cells(df):
    """Columns containing ndarray/list cells — these crash the driver."""
    bad = []
    for c in df.columns:
        if df[c].dtype.kind != "O":
            continue
        nn = df[c].dropna()
        if len(nn) and isinstance(nn.iloc[0], (np.ndarray, list, tuple)):
            bad.append(c)
    return bad

DUCK_INT = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def duck_family(t):
    t = t.upper()
    if t in DUCK_INT:
        return "int"
    if t == "HUGEINT" or t.startswith("DECIMAL") or t in ("FLOAT", "DOUBLE"):
        return "float"   # .df() renders all of these float64 driver-side
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "datetime"
    return "str"


def pa_family(t):
    import pyarrow as pa
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_temporal(t):
        return "datetime"
    return "str"


def canon_expr(col, family):
    q = '"' + col + '"'
    if family == "int":
        return f"CAST({q} AS BIGINT)"
    if family == "float":
        # +0 folds -0.0 to 0.0 (the r-series hash killer); DECIMAL/HUGEINT
        # land on the same DOUBLE the driver's .df() would produce
        return f"(CAST({q} AS DOUBLE) + 0)"
    if family == "bool":
        return f"CAST({q} AS BOOLEAN)"
    if family == "datetime":
        return f"CAST({q} AS VARCHAR)"
    return f"CAST({q} AS VARCHAR)"


def bighash_compare(con, name, outdir, osql, record, counters):
    """Order-free multiset compare for outputs too large for the pandas
    path: both sides reduce inside DuckDB to (count, Σ hash(canonical
    row)) — the spark side streamed from its parquet, the oracle from its
    SQL — so a 300M-row contract is checkable in bounded memory. Schema +
    dtype-family checks still run (via parquet footer / DESCRIBE); only
    the ROW-ORDER guarantee of the pandas path is given up."""
    import pyarrow.parquet as paq
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    schema = paq.read_schema(files[0])
    scols = sorted(schema.names)
    sfam = {c: pa_family(schema.field(c).type) for c in scols}
    try:
        desc = con.execute(f"DESCRIBE SELECT * FROM ({osql}) q").fetchall()
    except Exception as ex:
        print(f"FAIL {name}: oracle error: {ex}")
        record(name, err=f"oracle: {ex}");  counters[1] += 1;  return
    ocols = sorted(r[0] for r in desc)
    ofam = {r[0]: duck_family(r[1]) for r in desc}
    if scols != ocols:
        print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
        record(name, err="columns");  counters[1] += 1;  return
    dmis = [f"{c}: spark={sfam[c]} oracle={ofam[c]}"
            for c in scols if sfam[c] != ofam[c]]
    if dmis:
        print(f"FAIL {name}: dtype mismatch: {'; '.join(dmis)}")
        record(name, err="dtype");  counters[1] += 1;  return
    sexprs = ", ".join(canon_expr(c, sfam[c]) for c in scols)
    oexprs = ", ".join(canon_expr(c, ofam[c]) for c in scols)
    flist = ", ".join(f"'{f}'" for f in files)
    agg = "count(*) AS n, sum(CAST(hash({e}) AS HUGEINT)) AS h"
    try:
        sn, sh = con.execute(
            f"SELECT {agg.format(e=sexprs)} FROM read_parquet([{flist}])"
        ).fetchone()
        on_, oh = con.execute(
            f"SELECT {agg.format(e=oexprs)} FROM ({osql}) q").fetchone()
    except Exception as ex:
        print(f"FAIL {name}: bighash error: {ex}")
        record(name, err=f"oracle: {ex}");  counters[1] += 1;  return
    if sn == on_ and sh == oh:
        print(f"PASS {name} ({sn} rows, bighash multiset)")
        report_rows(record, name, sn, on_, ok=True);  counters[0] += 1
    else:
        print(f"FAIL {name}: bighash spark=({sn},{sh}) oracle=({on_},{oh})")
        report_rows(record, name, sn, on_, err="values");  counters[1] += 1


def report_rows(record, name, sn, on_, ok=False, err=None):
    # mode marks the order-free multiset compare in the committed
    # artifact (the pandas path is additionally order-checked)
    record(name, srows=range(sn), orows=range(on_), ok=ok, err=err,
           mode="bighash")


def main():
    # --json <path>: also emit a driver-format artifact
    # ({name: {rows_match, schema_match, hash_match, spark_rows,
    #   oracle_rows, err}}) so scale-gate runs can be committed as
    # scale-gate evidence (CORRECTNESS_sf100.json has this format).
    # --scale-oracles: overlay oracle_sql_scale.json (collapsed twins for
    #   the replicated scale gates) over oracle_sql.json.
    # --bighash N: for ops whose spark output exceeds N rows (parquet
    #   metadata, nothing loaded), compare via the DuckDB multiset hash
    #   instead of the in-memory pandas path.
    args = sys.argv[1:]
    # --sf100-gate: a speed figure without a correctness figure is not
    # evidence — every op carrying a BENCH_sf100 row must also carry a
    # CORRECTNESS_sf100 hash row, except the two documented output-sized / one-box-disk carries.
    # Fails the round loudly when a new bench row enters without its
    # correctness twin.
    if args and args[0] == "--sf100-gate":
        import os.path
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        carries = {"dedup_embedding", "q_part_pagerank"}
        bq = set(json.load(open(f"{root}/BENCH_sf100.json"))["queries"])
        cq = {k for k in json.load(open(f"{root}/CORRECTNESS_sf100.json"))
              if k != "note"}
        extra = bq - cq - carries
        if extra:
            print(f"FAIL sf100 gate: bench rows without a correctness row "
                  f"(and not documented carries): {sorted(extra)}")
            sys.exit(1)
        print(f"PASS sf100 gate: {len(bq & cq)} bench rows hash-gated, "
              f"carries = {sorted(bq - cq)}")
        sys.exit(0)
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    scale_oracles = False
    if "--scale-oracles" in args:
        args.remove("--scale-oracles")
        scale_oracles = True
    bighash_n = None
    if "--bighash" in args:
        i = args.index("--bighash")
        bighash_n = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    sfdir, outdir = args[0], args[1]
    con = duckdb.connect()
    # cap DuckDB's thread pool (default = all cores) so a check lane can
    # overlap a timing-sensitive Spark bench without polluting it
    import os
    nthreads = os.environ.get("GRAFT_DUCK_THREADS")
    if nthreads:
        con.execute(f"SET threads={int(nthreads)}")
    # cap DuckDB's memory (default = 80% of RAM per PROCESS) so several
    # check_subset lanes can run in parallel without a fleet-wide OOM;
    # spill goes to the lane's scratch cwd
    duck_mem = os.environ.get("GRAFT_DUCK_MEM")
    if duck_mem:
        con.execute(f"SET memory_limit='{duck_mem}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    if scale_oracles:
        try:
            oracles.update(json.load(open(f"{outdir}/oracle_sql_scale.json")))
        except FileNotFoundError:
            print("WARN: --scale-oracles but no oracle_sql_scale.json; "
                  "using primary oracles")
    counters = [0, 0]   # [n_pass, n_fail] shared with bighash_compare
    only = set(args[2:])
    report = {}

    def record(name, srows=None, orows=None, err=None, ok=False, mode=None):
        report[name] = {
            "rows_match": bool(ok or (srows is not None and orows is not None
                                      and len(srows) == len(orows))),
            "schema_match": bool(ok or err not in ("columns", "dtype")),
            "hash_match": bool(ok),
            "spark_rows": None if srows is None else len(srows),
            "oracle_rows": None if orows is None else len(orows),
            "err": err,
        }
        if mode is not None:
            report[name]["mode"] = mode

    for name, osql in sorted(oracles.items()):
        if only and name not in only:
            continue
        pfiles = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not pfiles:
            print(f"FAIL {name}: no spark output")
            record(name, err="no_output");  counters[1] += 1;  continue
        if bighash_n is not None:
            meta_rows = sum(pq.ParquetFile(f).metadata.num_rows
                            for f in pfiles)
            if meta_rows > bighash_n:
                bighash_compare(con, name, outdir, osql, record, counters)
                continue
        scols, srows, sdf = load_spark(outdir, name)
        if scols is None:
            print(f"FAIL {name}: no spark output")
            record(name, err="no_output");  counters[1] += 1;  continue
        try:
            res = con.execute(osql)
            ocols_raw = [d[0] for d in res.description]
            orows_raw = res.fetchall()
            odf = con.execute(osql).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            record(name, srows=srows, err=f"oracle: {ex}");  counters[1] += 1;  continue
        order = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
        ocols = [ocols_raw[i] for i in order]
        orows = [tuple(norm(r[i]) for i in order) for r in orows_raw]
        if scols != ocols:
            print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            record(name, srows, orows, err="columns");  counters[1] += 1;  continue

        # --- driver-equivalence layer: array cells + dtypes ---
        bad = sorted(set(array_cells(sdf)) | set(array_cells(odf)))
        if bad:
            print(f"FAIL {name}: array-typed column(s) {bad} — "
                  "driver hasher crashes on ndarray cells; serialize them")
            record(name, srows, orows, err="array_cells");  counters[1] += 1;  continue
        dmis = []
        for c in scols:
            st, ot = dtype_tag(sdf, c), dtype_tag(odf, c)
            if st != ot:
                dmis.append(f"{c}: spark={st} oracle={ot}")
        if dmis:
            print(f"FAIL {name}: dtype mismatch (driver hash is dtype-"
                  f"sensitive): {'; '.join(dmis)} "
                  f"spark_rows={len(srows)} oracle_rows={len(orows)}")
            record(name, srows, orows, err="dtype");  counters[1] += 1;  continue

        # --- value layer ---
        if srows == orows:
            print(f"PASS {name} ({len(srows)} rows)")
            record(name, srows, orows, ok=True);  counters[0] += 1;  continue
        counters[1] += 1
        print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}")
        record(name, srows, orows, err="values")
        for i, (a, b) in enumerate(zip(srows, orows)):
            if a != b:
                print(f"  first diff at row {i}:\n    spark : {a}\n    oracle: {b}")
                break
    # rows-only ops (dumped, but no oracle SQL): the driver records a
    # weaker rows>0 check with err="no_oracle" — mirror that, and attach
    # the verifying ScalaTest suite from spec_refs.json (written by
    # graft.Verify) so the entry is self-describing instead of reading
    # as an unchecked row count
    import os
    try:
        spec_refs = json.load(open(f"{outdir}/spec_refs.json"))
    except (FileNotFoundError, json.JSONDecodeError):
        spec_refs = {}
    for name in sorted(os.listdir(outdir)):
        if name in oracles or not os.path.isdir(f"{outdir}/{name}"):
            continue
        if only and name not in only:
            continue
        scols, srows, _ = load_spark(outdir, name)
        ok = srows is not None and len(srows) > 0
        # driver convention: match fields are null for no-oracle entries;
        # the check is rows > 0
        report[name] = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None if srows is None else len(srows),
            "oracle_rows": None, "err": "no_oracle",
            "spec": spec_refs.get(name)}
        spec = spec_refs.get(name)
        print(f"{'ROWS' if ok else 'FAIL'} {name} "
              f"({0 if srows is None else len(srows)} rows, no oracle"
              f"{'; verified by ' + spec if spec else ''})")
        if not ok:
            counters[1] += 1
    print(f"\n{counters[0]} pass / {counters[1]} fail")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=2, sort_keys=True)
    sys.exit(1 if counters[1] else 0)

if __name__ == "__main__":
    main()
