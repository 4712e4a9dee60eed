"""Workloads and the seeded plan of one run.

The seed fixes the op order of every pass and the versioned_writes key
ranges and commit order; the engine sees only the generated inputs. Each
workload runs a fixed subset of its modules' queries (see the README's
"Query subsets"), so the work per pass is the same for every seed.
"""
import random

WORKLOADS = ("llm_curation", "versioned_writes")

SF = 0.01
# (module, query) run by each pass. llm_curation: one query per module and
# a second from Cluster, chosen so that the pass's layer shares, job and
# shuffle rates and split of time between cheap, middling and costly queries
# match those of a timed, traced pass over all 157 queries of the eight
# modules (README, "Query subsets").
LLM_QUERIES = [
    ("TextAnalytics", "q306_fleiss_kappa"), ("Dedup", "q252_minhash_k_curve"),
    ("Similarity", "q216_label_noise"), ("Scrub", "q66_pattern_scrub"),
    ("Curation", "q299_degree_assortativity"), ("Cluster", "q114_triangle_census"),
    ("Cluster", "q146_dedup_impact"), ("Retrieval", "q79_bm25_search"),
    ("Tokenizer", "q255_term_burstiness"),
]
# versioned_writes: the StreamParity query whose layer shares, job rate and
# eager-job share are nearest those of all 12.
STREAM_QUERIES = [("StreamParity", "q199_stream_session_equiv")]
# A run makes round(--seconds / PASS_S) timed passes (at least one), so
# parent and change always measure the same work; a pass takes about PASS_S
# seconds on a 4-core host.
PASS_S = {"llm_curation": 7, "versioned_writes": 10}
# An untraced run also plans one spare pass. The runner makes it only when
# the host took CPU time from the last timed pass (steal time above
# STEAL_LIMIT of the busy time) and the spare can end within
# SPARE_DEADLINE_S of the JVM's start, which bounds a run's length.
STEAL_LIMIT = 0.05
SPARE_DEADLINE_S = 62

VW_TABLES = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
VW_BUMPED = {"orders": "o_totalprice", "lineitem": "l_quantity"}
VW_FILES = 8
# Commit shapes per table: (kind, share of the keys, layout). Between the two
# tables every merge size meets every layout, and deletes meet both layouts.
# The small key-local orders merge is an append of keys past the last one.
VW_COMMITS = {
    "orders": [("append", 0.001, "local"), ("merge", 0.1, "interleaved"),
               ("delete", 0.001, "interleaved")],
    "lineitem": [("merge", 0.1, "local"), ("merge", 0.001, "interleaved"),
                 ("delete", 0.001, "local")],
}


def query_ops(pairs):
    return [{"kind": "query", "module": m, "name": n, "slot": n} for m, n in pairs]


def vw_pass(rng, root, n):
    """One seeded versioned_writes pass over both tables.

    Per table: a write into VW_FILES key-ranged files, the VW_COMMITS
    commits in seeded order with seeded key ranges and residues, each
    followed by a snapshot read that checks it, a time-travel read to the
    written version, compact and vacuum. A key-local delta is a key range,
    which the manifest stats envelope can prune to a file or two; an
    interleaved one is a residue class, which every file's key range
    overlaps. Each op's `slot` names the same work in every pass (the
    table, and for a commit and the read after it the commit's shape), so
    run.py can match an op across passes. Both tables are keyed by order
    key first, so `n`, the number of orders, is the key domain of both. The
    two tables' sequences interleave in seeded order.
    """
    per_table = []
    for t, shapes in VW_COMMITS.items():
        r = f"{root}/{t}"
        commits = []
        for i, (kind, share, layout) in enumerate(shapes):
            if layout == "local":
                width = max(1, int(n * share))
                lo = rng.randrange(0, n - width)
                pred = {"lo": lo, "hi": lo + width - 1}
            else:
                mod = round(1 / share)
                pred = {"mod": mod, "rem": rng.randrange(mod)}
            op = {"kind": "vw_delete" if kind == "delete" else "vw_merge",
                  "table": t, "root": r, "pred": pred, "slot": f"{t}:{kind}{i}"}
            if kind != "delete":
                op["shift"] = n if kind == "append" else 0
                op["tag"] = rng.randrange(1, 100) / 4
            commits.append(op)
        rng.shuffle(commits)
        checked = [o for c in commits for o in
                   (c, {"kind": "vw_read", "table": t, "root": r, "slot": c["slot"] + ":read"})]
        per_table.append(
            [{"kind": "vw_write", "table": t, "root": r, "files": VW_FILES,
              "slot": f"{t}:write"}] + checked +
            [{"kind": "vw_read", "table": t, "root": r, "version_of": "write",
              "slot": f"{t}:travel"},
             {"kind": "vw_compact", "table": t, "root": r, "files": 2, "slot": f"{t}:compact"},
             {"kind": "vw_vacuum", "table": t, "root": r, "slot": f"{t}:vacuum"}])
    out = []
    while any(per_table):
        out.append(rng.choice([s for s in per_table if s]).pop(0))
    return out


def make(workload, seed, trace, passes, n_orders, work, data, cpus):
    """The plan for one run; ops get ids unique within the run."""
    rng = random.Random(f"{workload}:{seed}")
    ids = iter(range(1, 1 << 30))

    def pass_ops(k):
        if workload == "llm_curation":
            ops = query_ops(LLM_QUERIES)
            rng.shuffle(ops)
        else:
            ops = vw_pass(rng, f"{work}/vw/{k}", n_orders)
            for s in query_ops(STREAM_QUERIES):
                ops.insert(rng.randrange(len(ops) + 1), s)
        for op in ops:
            op["id"] = next(ids)
        writes = {o["table"]: o["id"] for o in ops if o["kind"] == "vw_write"}
        for o in ops:
            if o.get("version_of") == "write":
                o["version_of"] = writes[o["table"]]
        return ops

    return {
        "workload": workload, "seed": seed, "trace": trace, "data": data, "cpus": cpus,
        "op_timeout_s": 60,
        "steal_limit": STEAL_LIMIT, "spare_deadline_s": SPARE_DEADLINE_S,
        "warmup": [pass_ops("warm")],
        "passes": [pass_ops(k) for k in range(passes)],
        "spare_passes": [] if trace else [pass_ops("spare")],
        "traced_passes": [pass_ops(passes + k) for k in range(passes)] if trace else [],
    }

