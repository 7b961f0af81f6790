#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read Verify output
parquet + oracle_sql.json, run each oracle in DuckDB over the same sf
dir, and compare (columns sorted by name, row-sorted, value-compare).

Verdicts STREAM to <verifyOutDir>/check_results.jsonl as each query is
judged (one {"name","ok","oracle_sec","detail"} row per line), so a run
killed at minute N still leaves N honest red/green rows instead of
nothing — the r11/r12 rounds both zeroed because the gate artifact was
all-or-nothing. At the end a per-oracle cost table (slowest first) is
printed so expensive oracle SQL is visible and can be rewritten.

DuckDB may use half of physical RAM (its default is 80%) and spills to
a fresh temporary directory outside the checkout, removed on exit.

Usage: check.py <sfDir> <verifyOutDir> [onlyName1,onlyName2,...]
"""
import sys, os, json, math, time, shutil, tempfile
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

MEMORY_LIMIT_MB = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                   // 2 // 2**20)

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return round(v, 9)
    return v

def family(dtype):
    """Collapse dtypes to families so int32 vs int64 (benign width) passes
    but int vs float FAILS — the DuckDB sum(BIGINT)->HUGEINT->float64
    class that shipped red in r4 (q70) and r5 (q83) while the value
    compare stayed green (5 == 5.0 in Python)."""
    s = str(dtype)
    if "int" in s: return "int"
    if "float" in s or "double" in s: return "float"
    if "bool" in s: return "bool"
    return s

def check(con):
    """Judge every output dir against its oracle; returns the failures."""
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    stream = open(os.path.join(outdir, "check_results.jsonl"), "w")
    def emit(name, ok, oracle_sec, detail=""):
        stream.write(json.dumps({"name": name, "ok": ok,
                                 "oracle_sec": round(oracle_sec, 3),
                                 "detail": detail}) + "\n")
        stream.flush()

    fails = []
    costs = []   # (oracle_sec, name)
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d): continue
        if only and name not in only: continue
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
        if name not in oracle:
            status = f"rows-only: {len(got)} rows"
            ok = len(got) > 0
            if not ok:
                fails.append(name); status += "  << EMPTY"
            emit(name, ok, 0.0, "rows-only")
            print(f"{name:28s} {status}")
            continue
        t0 = time.monotonic()
        exp = con.execute(oracle[name]).fetchdf()
        osec = time.monotonic() - t0
        costs.append((osec, name))
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        ok = True
        detail = ""
        if list(got.columns) != list(exp.columns):
            ok = False
            detail = f"SCHEMA MISMATCH spark={list(got.columns)} oracle={list(exp.columns)}"
        elif [family(t) for t in got.dtypes] != [family(t) for t in exp.dtypes]:
            ok = False
            bad = [(c, str(a), str(b)) for c, a, b in
                   zip(got.columns, got.dtypes, exp.dtypes)
                   if family(a) != family(b)]
            detail = f"TYPE MISMATCH (col, spark, oracle): {bad}"
        elif len(got) != len(exp):
            ok = False
            detail = f"ROWCOUNT spark={len(got)} oracle={len(exp)}"
        else:
            gs = sorted([tuple(norm(v) for v in r) for r in got.itertuples(index=False)], key=str)
            es = sorted([tuple(norm(v) for v in r) for r in exp.itertuples(index=False)], key=str)
            if gs != es:
                ok = False
                bad = [(a, b) for a, b in zip(gs, es) if a != b][:3]
                detail = f"VALUE MISMATCH e.g. {bad}"
        emit(name, ok, osec, detail)
        if ok:
            print(f"{name:28s} OK ({len(got)} rows) [{osec:.2f}s oracle]")
        else:
            print(f"{name:28s} {detail}")
            fails.append(name)

    # an oracle with no output dir means the query ERRORED inside Verify
    # (it logs and continues) — that must be a red row, not a silent skip
    have = {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}
    for name in sorted(set(oracle) - have):
        if only and name not in only: continue
        print(f"{name:28s} MISSING OUTPUT (query errored in Verify?)")
        emit(name, False, 0.0, "MISSING OUTPUT")
        fails.append(name)
    stream.close()

    print()
    print("slowest oracles:")
    for osec, name in sorted(costs, reverse=True)[:25]:
        print(f"  {osec:8.2f}s  {name}")
    print(f"total oracle time: {sum(c for c, _ in costs):.1f}s over {len(costs)} oracles")
    print()
    print(f"FAILED: {fails}" if fails else "ALL GREEN")
    return fails

spill = tempfile.mkdtemp(prefix="check-duckdb-")
con = duckdb.connect(config={"memory_limit": f"{MEMORY_LIMIT_MB}MB",
                             "temp_directory": spill})
try:
    fails = check(con)
finally:
    con.close()
    shutil.rmtree(spill, ignore_errors=True)
sys.exit(1 if fails else 0)
