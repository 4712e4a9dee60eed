#!/usr/bin/env python3
"""Dev-only self-check: replay the driver's DuckDB-oracle comparison locally.

Usage: python3 scripts/selfcheck.py /root/testdata/sf0.01 /tmp/vout

For each query dumped by `graft.Verify` into OUTDIR/<name>/ (parquet) with its
oracle in OUTDIR/oracle_sql.json, runs the oracle in DuckDB over the same
fixture tables and compares: column names (sorted), row count, and exact cell
values (floats compared bit-for-bit, then with 1e-9 tolerance reported
separately). This mirrors the driver's hash-match gate so mismatches surface
before the round's CORRECTNESS run. After the summary it prints the five
slowest oracles with their DuckDB seconds. Not part of the engine; dev
tooling only.
"""
import json, math, sys, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v

def cell_level(a, b):
    """0 = equal, 1 = floats within 1e-9 but not bit-exact, 2 = different."""
    a, b = norm(a), norm(b)
    if a == b or (a is None and b is None):
        return 0
    if isinstance(a, float) and isinstance(b, float) and \
            abs(a - b) <= 1e-9 * max(1.0, abs(a)):
        return 1
    return 2

def first_diffs(exp, got, cols):
    """Scan the rows both frames have, in order. Returns (hard, soft): the
    lowest row index with a cell that differs, and the lowest with a cell not
    bit-exact, each as (row, [(col, got, oracle), ...]) naming every such
    column at that row, or None."""
    evs = [exp[c].tolist() for c in cols]
    gvs = [got[c].tolist() for c in cols]
    hard = soft = None
    for i in range(min(len(exp), len(got))):
        levels = [cell_level(ev[i], gv[i]) for ev, gv in zip(evs, gvs)]
        if not any(levels):
            continue
        def at(ok):
            return (i, [(c, gv[i], ev[i]) for c, ev, gv, lv
                        in zip(cols, evs, gvs, levels) if ok(lv)])
        if soft is None:
            soft = at(lambda lv: lv > 0)
        if 2 in levels:
            hard = at(lambda lv: lv == 2)
            break
    return hard, soft

def describe(diff):
    i, cells = diff
    return f"row={i}: " + "; ".join(
        f"col={c} got {g!r} != oracle {e!r}" for c, g, e in cells)

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracle_s = {}
    for name in sorted(oracles):
        sql = oracles[name]
        t0 = time.perf_counter()
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        finally:
            oracle_s[name] = time.perf_counter() - t0
        try:
            got = con.execute(
                f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        # Type gate: DuckDB widens sum(BIGINT) to HUGEINT (plain and windowed);
        # pandas silently coerces it back so value-compare can't see it, but the
        # driver's typed hash does (q135, round 8). Flag any widened column so
        # the oracle gets an explicit CAST before the round boundary.
        rel = con.sql(sql)
        wide = [c for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()]
        if wide:
            print(f"FAIL {name}: oracle column(s) {wide} typed HUGEINT/UINT — "
                  f"add CAST(... AS BIGINT) in the oracle SQL")
            n_fail += 1
            continue
        ecols, gcols = sorted(exp.columns), sorted(got.columns)
        if ecols != gcols:
            print(f"FAIL {name}: columns {gcols} != oracle {ecols}")
            n_fail += 1
            continue
        exp, got = exp[ecols], got[ecols]
        hard, soft = first_diffs(exp, got, ecols)
        if len(exp) != len(got):
            if hard is None:  # every shared row agrees: the first extra row differs
                i = min(len(exp), len(got))
                side, extra = ("got", got) if len(got) > len(exp) else ("oracle", exp)
                row = {c: extra[c].iloc[i:i + 1].tolist()[0] for c in ecols}
                where = f"row={i}: only {side} has {row!r}"
            else:
                where = describe(hard)
            print(f"FAIL {name}: rows {len(got)} != oracle {len(exp)}; "
                  f"first positional diff {where}")
            n_fail += 1
        elif hard is not None:
            print(f"FAIL {name}: first diff {describe(hard)}")
            n_fail += 1
        elif soft is not None:
            print(f"WARN {name}: values within 1e-9 but not bit-exact "
                  f"({len(got)} rows), first at {describe(soft)} "
                  f"— may still fail a strict hash gate")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"\n{n_pass} exact-pass / {n_pass + n_fail} oracled queries")
    print("slowest oracles:")
    for name, secs in sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]:
        print(f"  {secs:8.2f} s  {name}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
