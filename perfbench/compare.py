"""Compare two sets of benchmark runs: parent against change.

Collect both sets in one window, alternating which side runs first:

    python3 perfbench/compare.py run PARENT_DIR CHANGE_DIR OUT_DIR [--seeds 1-10]

Each side runs its own checkout's perfbench/run.py from that checkout's root,
on the change's BENCHMARK.json workloads and run_seconds;
the last stdout line of every run is appended to OUT_DIR/parent.jsonl or
OUT_DIR/change.jsonl with its workload and seed. Then, or later:

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

prints, for every workload and end-to-end metric, each side's median and
quartiles, the pairs (same workload and seed) the change won, the change's
median as a factor of the parent's, and a verdict by these rules:

- improved: the change wins at least 9 in 10 pairs (ties count for neither)
  and the medians differ, in its favour, by more than the parent's
  interquartile distance;
- unresolved: the parent's spread (interquartile distance over median) is
  wider than the metric's bound, unless every change run beats every
  parent run;
- worse: the change's median is worse than the parent's by more than the
  bound, as a share of the parent's median;
- unchanged: otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def load_runs(path):
    """{(workload, seed): {metric: value}} of the runs in a JSONL file."""
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out[(r["workload"], r["seed"])] = {k: v["value"] for k, v in
                                               r["result"]["metrics"].items()}
    return out


def verdict(parent, change, pairs, better, bound):
    """(verdict, pairs won) for one metric of one workload."""
    sign = 1 if better == "higher" else -1
    won = sum(1 for p, c in pairs if sign * (c - p) > 0)
    q1, pm, q3 = stats.quartiles(parent)
    cm = stats.median(change)
    all_better = (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent))
    if pairs and won >= 0.9 * len(pairs) and sign * (cm - pm) > (q3 - q1):
        return "improved", won
    if stats.spread(parent) > bound and not all_better:
        return "unresolved", won
    if pm and -sign * (cm - pm) > bound * abs(pm):
        return "worse", won
    return "unchanged", won


def compare(parent_path, change_path, spec):
    parent, change = load_runs(parent_path), load_runs(change_path)
    rows = []
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            keys = sorted(k for k in parent if k[0] == w and m["name"] in parent[k])
            pv = [parent[k][m["name"]] for k in keys]
            cv = [change[k][m["name"]] for k in sorted(change)
                  if k[0] == w and m["name"] in change[k]]
            if not pv or not cv:
                continue
            pairs = [(parent[k][m["name"]], change[k][m["name"]]) for k in keys if k in change]
            v, won = verdict(pv, cv, pairs, m["better"], m["bound"])
            rows.append((w, m, stats.quartiles(pv), stats.quartiles(cv), won, len(pairs), v))
    print(f"{'workload':<17}{'metric':<18}{'unit':<9}{'parent q1/med/q3':<30}"
          f"{'change q1/med/q3':<30}{'won':>7}{'factor':>8}  verdict")
    for w, m, pq, cq, won, n, v in rows:
        fmt = "/".join(f"{x:.4g}" for x in pq), "/".join(f"{x:.4g}" for x in cq)
        factor = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"{w:<17}{m['name']:<18}{m['unit']:<9}{fmt[0]:<30}{fmt[1]:<30}"
              f"{f'{won}/{n}':>7}{factor:>8.3f}  {v}")
    return rows


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(parent_dir, change_dir, out_dir, spec, seed_list):
    os.makedirs(out_dir, exist_ok=True)
    sides = [("parent", parent_dir), ("change", change_dir)]
    for i, seed in enumerate(seed_list):
        for w in [x["name"] for x in spec["workloads"]]:
            for name, root in (sides if i % 2 == 0 else sides[::-1]):
                cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                       "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                if r.returncode != 0 or not lines:
                    sys.exit(f"{name} {w} seed {seed} failed with {r.returncode}")
                with open(os.path.join(out_dir, f"{name}.jsonl"), "a") as f:
                    host = json.loads(lines[-2])["host"] if len(lines) > 1 else None
                    f.write(json.dumps({"workload": w, "seed": seed, "host": host,
                                        "result": json.loads(lines[-1])}) + "\n")
                print(f"{name} {w} seed {seed}: {lines[-1]}", flush=True)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        ap = argparse.ArgumentParser()
        ap.add_argument("cmd")
        ap.add_argument("parent_dir")
        ap.add_argument("change_dir")
        ap.add_argument("out_dir")
        ap.add_argument("--seeds", default="1-10")
        a = ap.parse_args()
        spec = load_spec(a.change_dir)
        collect(a.parent_dir, a.change_dir, a.out_dir, spec, seeds(a.seeds))
        compare(os.path.join(a.out_dir, "parent.jsonl"), os.path.join(a.out_dir, "change.jsonl"),
                spec)
    else:
        ap = argparse.ArgumentParser()
        ap.add_argument("parent")
        ap.add_argument("change")
        ap.add_argument("--spec", default=".")
        a = ap.parse_args()
        compare(a.parent, a.change, load_spec(a.spec))


if __name__ == "__main__":
    main()
