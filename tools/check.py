#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only; the
shipped library is pure Scala/Spark).

Usage:
  python3 tools/check.py [sfDir] [outDir] [--skip-verify]

1. sbt runMain graft.Verify <sfDir> <outDir>   (unless --skip-verify)
2. for each query dir in outDir: read its parquet, run the matching
   oracle_sql.json entry in DuckDB over the sfDir tables,
   sort columns by name + rows by all columns, compare cell-by-cell.
Reports exact mismatches and float near-misses separately.
"""
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Queries allowed to have no DuckDB oracle (non-SQL-expressible state
# machines). Anything else without an oracle entry is a wiring bug —
# a mistyped key silently skipping the gate — and counts red.
# Empty since round 3: q20 has a closed-form oracle.
NO_ORACLE_EXEMPT = set()


def type_class(t):
    """Arrow type -> comparison class. The driver's hash distinguishes
    value TYPES the python to_pylist() round-trip erases (round-2 bite:
    DuckDB sum(BIGINT) -> HUGEINT -> decimal128, Spark -> int64; values
    equal as python ints, hash differs). Int/float widths and the
    decimal class must match; tz/unit noise on timestamps is ignored.
    """
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    return str(t)


def schema_classes(tbl):
    return {c: type_class(tbl.schema.field(c).type) for c in tbl.column_names}


# the checkout this script lives in (tools/..): Verify dumps that tree
REPO = Path(__file__).resolve().parent.parent


def run_verify(sf_dir, out_dir):
    cmd = ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}']
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-4000:])
        sys.exit(f"Verify failed rc={r.returncode}")
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def table_rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(norm(col[i]) for col in data) for i in range(tbl.num_rows)]
    return cols, rows


def pandas_dtype_class(d):
    """pandas dtype -> comparison class; datetime64 unit noise (ns vs
    us) is representation-neutral through repr, so collapse it."""
    s = str(d)
    return "datetime64" if s.startswith("datetime64") else s


def pandas_repr_rows(df):
    df = df[sorted(df.columns)]
    try:
        df = df.sort_values(list(df.columns)).reset_index(drop=True)
    except Exception as e:
        return None, f"row-sort failed: {e}"
    rows = [tuple(repr(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return rows, None


def pandas_parity(spark_tbl, con, sql):
    """Return an error string if the driver's pandas-path hash would
    diverge despite arrow-level exact equality, else None."""
    sdf = spark_tbl.to_pandas()
    ddf = con.execute(sql).df()
    sdt = {c: pandas_dtype_class(sdf.dtypes[c]) for c in sdf.columns}
    ddt = {c: pandas_dtype_class(ddf.dtypes[c]) for c in ddf.columns}
    bad = {c: (sdt[c], ddt.get(c)) for c in sdt if sdt[c] != ddt.get(c)}
    if bad:
        return (f"PANDAS-DTYPE-MISMATCH {bad} (values equal; driver "
                f"hash WILL fail — e.g. DuckDB HUGEINT degrades to "
                f"float64: CAST the oracle output to BIGINT)")
    srows, serr = pandas_repr_rows(sdf)
    drows, derr = pandas_repr_rows(ddf)
    if serr or derr:
        return f"PANDAS-SORT-ERROR spark={serr} duck={derr}"
    if srows != drows:
        diff = next(((i, a, b) for i, (a, b)
                     in enumerate(zip(srows, drows)) if a != b),
                    ("len", len(srows), len(drows)))
        return (f"PANDAS-REPR-MISMATCH first diff {diff} (values equal "
                f"at arrow level; representation drift)")
    return None


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    if "--skip-verify" not in sys.argv:
        run_verify(sf_dir, out_dir)

    def fresh_con():
        # replica gates run sf1/sf10-equivalent tables: without a
        # limit + spill dir the in-memory connection OOM-kills itself
        # (and, worse, whatever Spark JVM shares the box) on the first
        # blocking join
        c = duckdb.connect()
        # default to min(60GB, 60% of physical RAM): an unconditional
        # 60GB would RAISE the limit above DuckDB's 80%-of-RAM default
        # on smaller hosts, making the OOM it exists to prevent more
        # likely. GRAFT_DUCK_MEM stays the override.
        try:
            phys_gb = (os.sysconf("SC_PHYS_PAGES")
                       * os.sysconf("SC_PAGE_SIZE")) / 2**30
            default_mem = f"{min(60, max(1, int(phys_gb * 0.6)))}GB"
        except (ValueError, OSError, AttributeError):
            default_mem = "60GB"
        c.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCK_MEM', default_mem)}'")
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in TABLES:
            p = Path(sf_dir) / f"{t}.parquet"
            if p.is_dir():
                # Spark-written table (scaled replicas): a directory
                # of part files rather than the driver's single file
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
            elif p.exists():
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = fresh_con()

    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    # incremental progress: replica-gate runs grind for an hour before
    # the batch summary — print each verdict the moment it lands
    class _Progress(dict):
        def __setitem__(self, k, v):
            super().__setitem__(k, v)
            print(f"[check] {k}: {v}", flush=True)
    results = _Progress()
    # a query that threw during Verify has no output dir — surface it
    present = {d.name for d in Path(out_dir).iterdir() if d.is_dir()}
    for name in oracle:
        if name not in present:
            results[name] = "VERIFY-FAILED (no output dir)"
    for qdir in sorted(Path(out_dir).iterdir()):
        if not qdir.is_dir():
            continue
        name = qdir.name
        spark_tbl = pq.read_table(qdir)
        # Driver-parity guard: the driver canonicalizes row order with
        # pandas sort_values over ALL columns; list cells arrive as
        # numpy ndarrays (unhashable) and the sort throws -> the query
        # is recorded `err` no matter how right the values are (round-6
        # bite: q66/q69 passed here via sorted(key=repr) but erred at
        # the driver). Reject nested output types loudly BEFORE
        # comparing, so local-green implies driver-green.
        nested = {c: t for c, t in schema_classes(spark_tbl).items()
                  if t.startswith(("list", "struct", "map"))}
        if nested:
            results[name] = (f"DRIVER-INCOMPAT nested output columns "
                             f"{nested} would crash the driver's pandas "
                             f"row-sort (unhashable ndarray) -> err; "
                             f"serialize to scalars")
            continue
        scols, srows = table_rows(spark_tbl)
        if name not in oracle:
            if name in NO_ORACLE_EXEMPT:
                results[name] = f"NO-ORACLE (exempt) rows={len(srows)}"
            else:
                results[name] = f"NO-ORACLE-UNEXPECTED rows={len(srows)} (oracle key missing/mistyped?)"
            continue
        try:
            dtbl = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            results[name] = f"ORACLE-ERROR {e}"
            # an OOM'd oracle leaves the buffer pool saturated — the
            # NEXT query (or even pyarrow's own reads) then dies on
            # malloc; start clean so one oracle's limit can't cascade
            try:
                con.close()
            except Exception:
                pass
            con = fresh_con()
            continue
        dcols, drows = table_rows(dtbl)
        if scols != dcols:
            results[name] = f"SCHEMA-MISMATCH spark={scols} duck={dcols}"
            continue
        stypes, dtypes = schema_classes(spark_tbl), schema_classes(dtbl)
        badtypes = {c: (stypes[c], dtypes[c]) for c in scols
                    if stypes[c] != dtypes[c]}
        if badtypes:
            results[name] = f"TYPE-MISMATCH {badtypes} (values may still be equal — driver hash WILL fail)"
            continue
        srows_s, drows_s = sorted(srows, key=repr), sorted(drows, key=repr)
        if len(srows_s) != len(drows_s):
            results[name] = f"ROWCOUNT spark={len(srows_s)} duck={len(drows_s)}"
            continue
        exact = srows_s == drows_s
        if exact:
            # Driver-hash parity: the driver compares through a PANDAS
            # round-trip (duckdb .df(), spark parquet -> to_pandas),
            # where representation survives python equality: DuckDB
            # HUGEINT -> float64 while Spark decimal(38,0) -> object
            # (Decimal) — values equal as python numbers (1222425.0 ==
            # 1222425) but the driver's value hash differs (round-10
            # bite: q111 was the only red, caught by the driver alone).
            # Replicate that path and compare per-cell reprs.
            # the parity probe re-runs the oracle through pandas; an
            # OOM there must record THIS query and move on, not kill
            # the whole replica sweep
            try:
                perr = pandas_parity(spark_tbl, con, oracle[name])
            except Exception as e:
                perr = f"PARITY-ERROR {e}"
                try:
                    con.close()
                except Exception:
                    pass
                con = fresh_con()
            if perr:
                results[name] = perr
            else:
                results[name] = f"OK rows={len(srows)} (exact)"
            continue
        # find first differing cell
        diff = None
        near = True
        for i, (a, b) in enumerate(zip(srows_s, drows_s)):
            if a != b:
                for j, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        if isinstance(x, float) and isinstance(y, float) \
                                and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                            continue
                        near = False
                        if diff is None:
                            diff = (i, scols[j], x, y)
        if near:
            results[name] = f"FLOAT-NEAR rows={len(srows)} (within 1e-9; may still hash-mismatch!)"
        else:
            results[name] = f"MISMATCH first diff row={diff[0]} col={diff[1]} spark={diff[2]!r} duck={diff[3]!r}"

    width = max(len(k) for k in results)
    n_ok = 0
    for k in sorted(results):
        print(f"{k:<{width}}  {results[k]}")
        if results[k].startswith(("OK", "NO-ORACLE (exempt)")):
            n_ok += 1
    print(f"\n{n_ok}/{len(results)} green")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
