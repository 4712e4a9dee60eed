"""Layer-attributed benchmark of the graft engine.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 16 --trace 0

Run from the repository root. It builds the engine and the harness
(build.py), generates the input tables (gen_data.py), writes the seeded plan
(plan.py), replays the expected versioned states in DuckDB (replay.py), runs
one JVM (perfbench.Runner) and prints, as its last line, one JSON object:
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). A traced run also writes
the per-op layer split and spans to `.bench_build/traces/`.

`python3 perfbench/run.py --record` re-records perfbench/expected.json: it
runs graft.Verify and scripts/selfcheck.py (the DuckDB oracle) on the
generated tables first and stores their pass count, and the queries that did
not pass, beside the fingerprints. Those queries count as failed ops.
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import plan as planlib  # noqa: E402
import replay  # noqa: E402
import stats  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")
RUN_LIMIT_S = 170
# Driver heap. graft.Bench runs with build.sbt's 8g; the benchmark's tables
# are sf0.01 and it runs on hosts whose memory other jobs share, so 3g.
HEAP = "3g"
MB = 1048576.0

END_TO_END = [
    ("setup_s", "s"), ("batch_s", "s"), ("op_p50_s", "s"),
    ("queries_per_s", "1/s"), ("ok_frac", "fraction"), ("heap_retained_mb", "MB"),
]
PER_LAYER_UNITS = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "jobs.count": "count", "jobs.stages": "count", "jobs.tasks": "count", "jobs.wall_s": "s",
    "jobs.task_run_s": "s", "jobs.task_cpu_s": "s", "jobs.gc_s": "s",
    "jobs.shuffle_write_mb": "MB", "jobs.shuffle_read_mb": "MB", "jobs.spill_mb": "MB",
    "jobs.input_mb": "MB", "jobs.busy_frac": "fraction", "jobs.task_skew": "ratio",
    "jobs.failed_tasks": "count",
    "driver.gap_s": "s", "driver.codegen_s": "s", "driver.codegen_count": "count",
    "driver.unnamed_s": "s",
    "sources.files_read": "count", "sources.scan_s": "s", "sources.metadata_s": "s",
    "versioned.merge_s": "s", "versioned.delete_s": "s", "versioned.read_s": "s",
    "versioned.compact_s": "s", "versioned.vacuum_s": "s", "versioned.commit_p50_s": "s",
    "versioned.read_p50_s": "s", "versioned.store_mb": "MB",
    "versioned.jobs_per_commit": "count", "versioned.files": "count",
    "versioned.bytes_written_mb": "MB", "versioned.write_amp": "ratio",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.wal_s": "s",
    "streaming.planning_s": "s", "streaming.addbatch_s": "s", "streaming.state_mb": "MB",
    "cache.persisted_rdds": "count", "cache.persisted_mb": "MB", "cache.first_pass_s": "s",
    "trace.overhead_frac": "fraction",
}
COMMITS = ("vw_merge", "vw_delete")
READS = ("vw_read", "vw_travel")


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def java(classes, main, args, cwd, log, timeout):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + build.java_opts() +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", build.classpath([classes]), main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "local"))
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=3000):
    with open(path, errors="replace") as f:
        return f.read()[-n:]


def prepare():
    """Builds, generates the tables; returns (classes, data dir, build dir)."""
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala is missing")
    classes = build.build()
    data = os.path.join(build.build_dir(), "data", f"sf{planlib.SF}")
    gen_data.generate(data, planlib.SF)
    return classes, data, build.build_dir()


def n_orders(data):
    return pq.ParquetFile(os.path.join(data, "orders.parquet")).metadata.num_rows


def check(samples, expected, expected_fp):
    """Marks each sample ok: no error, and the expected fingerprint. A query
    that failed the oracle when expected.json was recorded is never ok."""
    fingerprints, failing = expected["fingerprints"], set(expected["oracle"]["failing"])
    for s in samples:
        if s["error"]:
            s["ok"] = False
        elif s["label"].startswith(READS):
            s["ok"] = s["fp"] == expected_fp.get(str(s["op"]))
        elif s["fp"] is not None:
            mod = s["module"]
            s["ok"] = (s["label"] not in failing and
                       s["fp"] == fingerprints.get(mod, {}).get(s["label"]))
        else:
            s["ok"] = True
        if not s["ok"]:
            sys.stderr.write(f"perfbench: op {s['op']} {s['label']} failed: "
                             f"{s['error'] or 'fingerprint ' + str(s['fp'])}\n")


def best_of_passes(passes):
    """Each op slot's fastest wall time over the passes: a pass's ops at
    their best, so a burst of load from outside the run that slows one
    repetition of an op does not count."""
    best = {}
    for p in passes:
        for s in p["samples"]:
            best[s["slot"]] = min(best.get(s["slot"], math.inf), s["wall_s"])
    return list(best.values())


def end_to_end(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    samples = [s for p in passes for s in p["samples"]]
    best = best_of_passes(passes)
    batch = sum(best)
    ok = sum(s["ok"] for s in samples)
    return {
        "setup_s": res["setup_s"],
        "batch_s": batch,
        "op_p50_s": stats.hd_median(best),
        "queries_per_s": ok / len(passes) / batch,
        "ok_frac": ok / len(samples),
        "heap_retained_mb": res["heap_retained_mb"],
    }


def split(o):
    """Adds the derived wall-time splits to a traced op's record:
    `wall = construct_s + action_s` and
    `wall = jobs_wall_s + catalyst + codegen_s + unnamed_s`, where
    `gap_s = wall - jobs_wall_s`. Layers the op never touched count 0."""
    catalyst = sum(o.get(k, 0) for k in ("analysis_s", "optimization_s", "planning_s"))
    o["action_s"] = o["wall_s"] - o["construct_s"]
    o["gap_s"] = o["wall_s"] - o.get("jobs_wall_s", 0)
    o["unnamed_s"] = o["gap_s"] - catalyst - o["codegen_s"]
    return o


def per_layer(res, cpus):
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    ops = [split(o) for o in res["traced_ops"]]
    n = len(traced)

    def total(k, prefix=""):
        return sum(o.get(k, 0) for o in ops if o["label"].startswith(prefix)) / n

    plain = [s for p in untraced for s in p["samples"]]
    commits = [o for o in ops if o["label"].startswith(COMMITS)]
    merges = [o for o in ops if o["label"].startswith("vw_merge")]
    compacts = [o for o in ops if o["label"].startswith("vw_compact")]
    writes = [o for o in ops if o["label"].startswith("vw_") and not o["label"].startswith(READS)]
    jobs_wall = total("jobs_wall_s")
    untraced_wall = stats.median([p["wall_s"] for p in untraced])

    def med(xs):
        return stats.median(xs) if xs else 0.0

    m = {
        "operators.construct_s": total("construct_s"),
        "operators.construct_jobs": total("construct_jobs"),
        "catalyst.analysis_s": total("analysis_s"),
        "catalyst.optimization_s": total("optimization_s"),
        "catalyst.planning_s": total("planning_s"),
        "jobs.count": total("jobs"), "jobs.stages": total("stages"), "jobs.tasks": total("tasks"),
        "jobs.wall_s": jobs_wall, "jobs.task_run_s": total("task_run_s"),
        "jobs.task_cpu_s": total("task_cpu_s"), "jobs.gc_s": total("gc_s"),
        "jobs.shuffle_write_mb": total("shuffle_write_bytes") / MB,
        "jobs.shuffle_read_mb": total("shuffle_read_bytes") / MB,
        "jobs.spill_mb": total("spill_bytes") / MB, "jobs.input_mb": total("input_bytes") / MB,
        "jobs.busy_frac": total("task_run_s") / (jobs_wall * cpus) if jobs_wall else 0.0,
        "jobs.task_skew": med([o["task_skew"] for o in ops if o.get("stages")]),
        "jobs.failed_tasks": total("failed_tasks"),
        "driver.gap_s": total("gap_s"), "driver.codegen_s": total("codegen_s"),
        "driver.codegen_count": total("codegen_count"), "driver.unnamed_s": total("unnamed_s"),
        "sources.files_read": total("files_read"), "sources.scan_s": total("scan_s"),
        "sources.metadata_s": total("metadata_s"),
        "versioned.merge_s": total("wall_s", "vw_merge"),
        "versioned.delete_s": total("wall_s", "vw_delete"),
        "versioned.read_s": total("wall_s", "vw_read") + total("wall_s", "vw_travel"),
        "versioned.compact_s": total("wall_s", "vw_compact"),
        "versioned.vacuum_s": total("wall_s", "vw_vacuum"),
        "versioned.commit_p50_s": med([s["wall_s"] for s in plain
                                       if s["label"].startswith(COMMITS)]),
        "versioned.read_p50_s": med([s["wall_s"] for s in plain if s["label"].startswith(READS)]),
        "versioned.store_mb": med([p["store_bytes"] for p in untraced]) / MB,
        "versioned.jobs_per_commit": (sum(o.get("jobs", 0) for o in commits) / len(commits)
                                      if commits else 0.0),
        "versioned.files": med([o["layer_files"] for o in compacts]),
        "versioned.bytes_written_mb": sum(o.get("output_bytes", 0) for o in writes) / n / MB,
        "versioned.write_amp": (sum(o.get("output_bytes", 0) for o in merges) / res["delta_bytes"]
                                if res.get("delta_bytes") else 0.0),
        "streaming.batches": total("stream_batches"), "streaming.trigger_s": total("trigger_s"),
        "streaming.wal_s": total("wal_s"), "streaming.planning_s": total("stream_planning_s"),
        "streaming.addbatch_s": total("addbatch_s"),
        "streaming.state_mb": max([o.get("state_bytes", 0) for o in ops] or [0]) / MB,
        "cache.persisted_rdds": res["persisted_rdds"], "cache.persisted_mb": res["persisted_mb"],
        "cache.first_pass_s": res["warm_s"] - untraced_wall,
        "trace.overhead_frac": stats.median([p["wall_s"] for p in traced]) / untraced_wall - 1,
    }
    return m


def spans(ops):
    """Op, construct/action and job spans (ms) with self times: a span's
    duration minus the part of it its children cover."""
    def covered(lo, hi, kids):
        total, end = 0, lo
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in kids):
            if b > end:
                total += b - max(a, end)
                end = b
        return total

    out = []
    for o in ops:
        start, cend = o["start_ms"], o["construct_end_ms"]
        end = start + round(o["wall_s"] * 1000)
        jobs = [tuple(j) for j in o.get("job_spans", [])]
        steps = [("construct", start, cend), ("action", cend, end)]
        out.append({"op": o["op"], "span": "op", "label": o["label"], "start": start, "end": end,
                    "self_ms": end - start - covered(start, end, [(a, b) for _, a, b in steps])})
        for name, a, b in steps:
            mine = [j for j in jobs if a <= j[0] < b or (name == "action" and j[0] >= b)]
            out.append({"op": o["op"], "span": name, "parent": "op", "start": a, "end": b,
                        "self_ms": b - a - covered(a, b, mine)})
            out += [{"op": o["op"], "span": "job", "parent": name, "start": j[0], "end": j[1],
                     "self_ms": j[1] - j[0]} for j in mine]
    return out


def write_trace(path, res, layers):
    ops = res["traced_ops"]
    keys = ("op", "label", "pass", "ok", "wall_s", "construct_s", "action_s", "jobs_wall_s",
            "analysis_s", "optimization_s", "planning_s", "codegen_s", "unnamed_s", "jobs",
            "construct_jobs")
    split = [{k: o.get(k, 0) for k in keys} for o in ops]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"host": res["host"], "per_layer": layers, "ops": split, "spans": spans(ops)},
                  f, indent=1)


def oracle_failing(rc, output):
    """The queries scripts/selfcheck.py did not pass bit-exactly (its FAIL
    and WARN lines), and its pass and checked counts. Refuses output that
    is not a finished check: no summary line, counts that do not add up, or
    an exit code that does not match them."""
    m = re.search(r"^(\d+) exact-pass / (\d+) oracled queries$", output, re.M)
    if not m:
        raise ValueError(f"the oracle check did not finish (exit {rc})")
    passed, total = int(m.group(1)), int(m.group(2))
    lines = output.splitlines()
    failing = sorted(line.split()[1].rstrip(":") for line in lines
                     if line.startswith(("FAIL ", "WARN ")))
    if sum(line.startswith("PASS ") for line in lines) != passed or \
            passed + len(failing) != total or rc != (1 if failing else 0):
        raise ValueError(f"the oracle check's output does not add up (exit {rc}, "
                         f"{passed} passed, {len(failing)} failing, {total} checked)")
    return failing, passed, total


def record(classes, data, bdir):
    """Runs the oracle check, then fingerprints every query once."""
    work = os.path.join(bdir, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    vout = os.path.join(work, "verify")
    if java(classes, "graft.Verify", [data, vout], work, os.path.join(work, "verify.log"),
            3000) != 0:
        fail("graft.Verify failed:\n" + tail(os.path.join(work, "verify.log")))
    r = subprocess.run([sys.executable, "scripts/selfcheck.py", data, vout],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    print(r.stdout[-3000:])
    try:
        failing, passed, checked = oracle_failing(r.returncode, r.stdout)
    except ValueError as e:
        fail(str(e))
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump({"record": 1, "data": data, "cpus": os.cpu_count()}, f)
    out = os.path.join(work, "fingerprints.json")
    if java(classes, "perfbench.Runner", [os.path.join(work, "plan.json"), out], work,
            os.path.join(work, "record.log"), 3000) != 0:
        fail("recording failed:\n" + tail(os.path.join(work, "record.log")))
    with open(out) as f:
        fps = json.load(f)
    doc = {"sf": planlib.SF, "data_seed": gen_data.DATA_SEED,
           "oracle": {"checked_by": "graft.Verify + scripts/selfcheck.py",
                      "passed": passed, "total": checked, "failing": failing},
           "fingerprints": fps}
    with open(EXPECTED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {sum(len(v) for v in fps.values())} fingerprints; "
          f"oracle passed {passed}/{checked}")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(planlib.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(EXPECTED) and not a.record:
        fail("perfbench/expected.json is missing")
    classes, data, bdir = prepare()
    if a.record:
        return record(classes, data, bdir)
    if not a.workload:
        fail("--workload is required")
    with open(EXPECTED) as f:
        expected = json.load(f)

    cpus = os.cpu_count()
    passes = max(1, round(a.seconds / planlib.PASS_S[a.workload]))
    if a.trace:
        # each untraced pass gets a traced twin; half as many pairs keep a
        # traced run about as long as an untraced one
        passes = (passes + 1) // 2
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan = planlib.make(a.workload, a.seed, a.trace, passes, n_orders(data), work, data,
                            cpus)
        plan["expected_states"] = replay.expected_states(plan, data,
                                                         os.path.join(work, "expected"))
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        out = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        rc = java(classes, "perfbench.Runner", [plan_path, out], work, log,
                  RUN_LIMIT_S - (time.time() - t_start))
        if rc != 0 or not os.path.exists(out):
            fail(f"runner exited with {rc}:\n" + tail(log))
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = {op["id"]: op for k in ("passes", "spare_passes", "traced_passes")
           for p in plan[k] for op in p}
    for p in res["passes"]:
        for s in p["samples"]:
            s["module"], s["slot"] = ops[s["op"]].get("module"), ops[s["op"]]["slot"]
    samples = [s for p in res["passes"] for s in p["samples"]]
    check(samples, expected, res["expected_fp"])
    slow = sorted(samples, key=lambda s: -s["wall_s"])[:8]
    sys.stderr.write(f"perfbench: set-up {res['setup_s']:.2f}s = session {res['session_s']:.2f}s"
                     f" + fixture check {res['fixture_s']:.2f}s + warm-up pass {res['warm_s']:.2f}s;"
                     f" timed passes " + " ".join(f"{p['wall_s']:.2f}s" for p in res["passes"]) +
                     " (steal " + " ".join(f"{p['steal_frac']:.3f}" for p in res["passes"]) +
                     ")\n")
    sys.stderr.write("perfbench: slowest ops: " +
                     ", ".join(f"{s['label']} {s['wall_s']:.2f}s" for s in slow) + "\n")
    failed = sum(not s["ok"] for s in samples)
    if a.trace:
        ok = {s["op"]: s["ok"] for s in samples}
        for o in res["traced_ops"]:
            o["ok"] = ok[o["op"]]
        values = per_layer(res, cpus)
        path = os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}.json")
        write_trace(path, res, values)
        sys.stderr.write(f"perfbench: per-op layer split in {path}\n")
        metrics = {k: {"value": values[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
    else:
        values = end_to_end(res)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"host": res["host"]}))
    print(json.dumps({"correct": failed == 0, "attempted": len(samples), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
