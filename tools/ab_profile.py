"""Interleaved per-query A/B between this tree and another worktree,
or between two core counts on the SAME tree.

Runs ``tools/profile_queries.py --passes 2 <queries>`` alternately on
both sides (fresh JVM per run, both orderings) and reports per-query
medians of t_total/t_construct/t_execute from the warm pass.  The
machine drifts (shared host), so ONLY interleaved pairs are
attribution-bearing — sequential whole-profile runs measured 91 s vs
109 s for the SAME workload twenty minutes apart (r12).

Usage::

    # tree A/B (side = worktree):
    python tools/ab_profile.py /tmp/r12base 3 ann_probe_curve dedup_semantic ...

    # core-count A/B on this tree (side = $SPARK_GRAFT_CPUS) — the
    # interleaved scaling table VERDICT r12 next #8 asked for:
    python tools/ab_profile.py --cpus 32,8 3 dedup_minhash_lsh ...
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_profile(tree: str, queries: list[str], env_extra: dict | None = None) -> dict[str, dict]:
    env = dict(os.environ)
    if env_extra:
        env.update(env_extra)
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(tree, "tools", "profile_queries.py"),
            "--passes",
            "2",
            *queries,
        ],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=1800,
        env=env,
    )
    rows = {}
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"query"' in line:
            r = json.loads(line)
            # warm numbers only: the 2nd pass in the same JVM — the
            # cold pass carries multi-second JIT/footer noise that
            # swamps sub-second deltas
            r["t_construct"] = r["construct_all"][-1]
            r["t_execute"] = r["execute_all"][-1]
            r["t_total"] = round(r["t_construct"] + r["t_execute"], 3)
            rows[r["query"]] = r
    if not rows:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:] + "\n")
        raise RuntimeError(f"no results from {tree}")
    return rows


def main() -> None:
    args = sys.argv[1:]
    cpus_mode = None
    if args and args[0] == "--cpus":
        cpus_mode = args[1].split(",")
        assert len(cpus_mode) == 2, "--cpus A,B"
        args = args[2:]
        sides_cfg = {
            "head": {"SPARK_GRAFT_CPUS": cpus_mode[0]},
            "other": {"SPARK_GRAFT_CPUS": cpus_mode[1]},
        }
        trees = {"head": REPO, "other": REPO}
        labels = {"head": f"cpus={cpus_mode[0]}", "other": f"cpus={cpus_mode[1]}"}
    else:
        other_tree = args[0]
        args = args[1:]
        sides_cfg = {"head": None, "other": None}
        trees = {"head": REPO, "other": other_tree}
        labels = {"head": "head", "other": "other"}
    n_pairs = int(args[0])
    queries = args[1:]

    sides: dict[str, list[dict]] = {"head": [], "other": []}
    for i in range(n_pairs):
        order = ("head", "other") if i % 2 == 0 else ("other", "head")
        for side in order:
            rows = run_profile(trees[side], queries, sides_cfg[side])
            sides[side].append(rows)
            tot = round(sum(r["t_total"] for r in rows.values()), 2)
            print(f"pair {i + 1} {labels[side]}: total {tot}s  loadavg={os.getloadavg()[0]:.2f}", flush=True)

    def med(side, q, key):
        return round(
            statistics.median(r[q][key] for r in sides[side]), 3
        )

    report = {}
    for q in queries:
        report[q] = {
            "head": [med("head", q, "t_total"), med("head", q, "t_construct"), med("head", q, "t_execute")],
            "other": [med("other", q, "t_total"), med("other", q, "t_construct"), med("other", q, "t_execute")],
        }
        if cpus_mode:
            h, o = report[q]["head"][0], report[q]["other"][0]
            report[q]["ratio_other_over_head"] = round(o / h, 3) if h else None
    if cpus_mode:
        report["__sides__"] = labels
    print(json.dumps(report, indent=1))
    ht = round(sum(report[q]["head"][0] for q in queries), 2)
    ot = round(sum(report[q]["other"][0] for q in queries), 2)
    print(json.dumps({"head_total_median_sum": ht, "other_total_median_sum": ot}))


if __name__ == "__main__":
    main()
