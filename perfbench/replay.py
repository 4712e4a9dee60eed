"""Expected versioned_writes layer states, replayed in DuckDB.

The replay shares no code with `VersionedLayer`: it applies the plan's ops
to the base parquet with plain SQL (a merge replaces every row whose key is
in the delta, a delete drops every row whose first key is in the key set)
and writes the state each read should see as parquet. The runner
fingerprints those files with the same per-row hash and totals it uses for
the reads, all files of one table in one Spark job.
"""
import os

import duckdb

from plan import VW_BUMPED, VW_TABLES


def _pred(p, key):
    if p.get("mod"):
        return f"{key} % {int(p['mod'])} = {int(p['rem'])}"
    return f"{key} BETWEEN {int(p['lo'])} AND {int(p['hi'])}"


def expected_states(plan, data, out_dir):
    """[{"key": op id, "path": parquet, "table": t}] for every versioned read in the plan's
    timed, spare and traced passes."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in VW_TABLES:
        con.execute(f"CREATE VIEW base_{t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = []
    for p in plan["passes"] + plan["spare_passes"] + plan["traced_passes"]:
        for op in p:
            kind, t = op["kind"], op.get("table")
            if kind == "vw_write":
                con.execute(f"CREATE OR REPLACE TABLE state_{t} AS SELECT * FROM base_{t}")
                con.execute(f"CREATE OR REPLACE TABLE v{op['id']} AS SELECT * FROM base_{t}")
            elif kind == "vw_merge":
                keys = VW_TABLES[t]
                k0, b = keys[0], VW_BUMPED[t]
                con.execute(
                    f"CREATE OR REPLACE TABLE delta AS SELECT * REPLACE "
                    f"({k0} + {int(op['shift'])} AS {k0}, "
                    f"{b} + CAST({float(op['tag'])!r} AS DOUBLE) AS {b}) "
                    f"FROM base_{t} WHERE {_pred(op['pred'], k0)}")
                on = " AND ".join(f"s.{k} = d.{k}" for k in keys)
                con.execute(
                    f"CREATE OR REPLACE TABLE state_{t} AS SELECT * FROM delta UNION ALL "
                    f"SELECT * FROM state_{t} s WHERE NOT EXISTS "
                    f"(SELECT 1 FROM delta d WHERE {on})")
            elif kind == "vw_delete":
                k0 = VW_TABLES[t][0]
                con.execute(
                    f"CREATE OR REPLACE TABLE state_{t} AS SELECT * FROM state_{t} "
                    f"WHERE {k0} NOT IN (SELECT {k0} FROM base_{t} "
                    f"WHERE {_pred(op['pred'], k0)})")
            elif kind == "vw_read":
                src = f"v{op['version_of']}" if op.get("version_of") else f"state_{t}"
                path = os.path.join(out_dir, f"{op['id']}.parquet")
                con.execute(f"COPY (SELECT * FROM {src}) TO '{path}' (FORMAT PARQUET)")
                out.append({"key": str(op["id"]), "path": path, "table": t})
    con.close()
    return out
