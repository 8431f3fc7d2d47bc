#!/usr/bin/env python3
"""ABBA bench protocol: ctrl and new binaries back-to-back in BOTH orders.

r16 verdict #2: a single ctrl/new pair leaves the code axis entangled
with monotone host drift — the r16 clean pair's cal drifted 1.21x
between its two same-day runs, so raw said 1.051x while cal-norm said
0.866x and the truth was only bracketed. Running A(ctrl) B(new) B A
bounds first-order drift symmetrically: drift that inflates B1/A1
deflates B2/A2 by the same factor, so the GEOMEAN of the two per-order
code ratios cancels it (any linear-in-time host speed change drops out
exactly; curvature remains, which the two orders' disagreement then
MEASURES instead of hiding).

Usage:
  python3 tools/bench_abba.py CTRL_REV OUT_PREFIX [SF_DIR]

  CTRL_REV    git rev of the control binary (e.g. the last round tag)
  OUT_PREFIX  artifacts land at {OUT_PREFIX}_{a1,b1,b2,a2}.json plus a
              combined {OUT_PREFIX}_abba.json
  SF_DIR      default /root/testdata/sf0.1

Environment is forwarded: SPARK_GRAFT_CPUS (default os.cpu_count()),
SPARK_GRAFT_SHUFFLE_PARTITIONS (default cpus), SPARK_GRAFT_BENCH_ALL=1
(default on — the headline is the full registry), SPARK_GRAFT_BENCH_REPS.

The ctrl tree is a pristine `git worktree` of CTRL_REV under /tmp (reused
across invocations of the same rev); both trees are compiled BEFORE the
first timed run so compilation cost never lands inside the protocol.

Summary math (per-query warm medians, shared queries only):
  code_ab = sum(B1)/sum(A1)      code in the A->B order
  code_ba = sum(B2)/sum(A2)      code in the B->A order
  code    = sqrt(code_ab * code_ba)   <- the headline, drift-cancelled
  order_disagreement = code_ab / code_ba  (1.0 = no curvature; the
      r16-style ambiguity is now a printed number, not a hidden bias)
Done-criterion from the verdict: code_ab and code_ba agree within ~5%.
"""
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd, **kw):
    print(f"+ {' '.join(cmd)}", flush=True)
    subprocess.run(cmd, check=True, **kw)


def ensure_ctrl_tree(rev: str) -> str:
    short = subprocess.run(["git", "-C", REPO, "rev-parse", "--short", rev],
                           check=True, capture_output=True,
                           text=True).stdout.strip()
    tree = f"/tmp/graft_ctrl_{short}"
    if not os.path.isdir(tree):
        run(["git", "-C", REPO, "worktree", "add", "--detach", tree, rev])
    return tree


def bench_once(tree: str, out: str, sf_dir: str, env_extra: dict) -> dict:
    # absolute: the bench JVM runs with cwd=tree, so a relative OUT lands
    # in the ctrl worktree while the reader below opens it from the repo
    # (bit the r18 run; the r17 invocation happened to use the repo tree
    # first and masked it)
    out = os.path.abspath(out)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    env.setdefault("SPARK_GRAFT_BENCH_ALL", "1")
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_OUT"] = out
    env.update(env_extra)
    with open(out + ".log", "w") as log:
        run(["sbt", "-batch", "runMain graft.Bench"], cwd=tree,
            env=env, stdout=log, stderr=subprocess.STDOUT)
    return json.load(open(out))


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    ctrl_rev, prefix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    ctrl_tree = ensure_ctrl_tree(ctrl_rev)
    # compile both trees up front so run 1 is not a compile+run composite
    for tree in (ctrl_tree, REPO):
        run(["sbt", "-batch", "compile"], cwd=tree,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    order = [("a1", ctrl_tree), ("b1", REPO), ("b2", REPO), ("a2", ctrl_tree)]
    resume = os.environ.get("SPARK_GRAFT_ABBA_RESUME") == "1"
    arts = {}
    for tag, tree in order:
        leg_out = os.path.abspath(f"{prefix}_{tag}.json")
        if resume and os.path.isfile(leg_out):
            # reuse a completed leg from an interrupted protocol run; only
            # valid when src/ is unchanged since that leg was measured —
            # the caller asserts that, we just honor the flag
            print(f"  {tag}: reusing existing {leg_out}", flush=True)
            arts[tag] = json.load(open(leg_out))
            continue
        arts[tag] = bench_once(tree, f"{prefix}_{tag}.json", sf_dir, {})
        print(f"  {tag}: total {arts[tag].get('value')}s "
              f"cal {arts[tag].get('cal_start_sec')} "
              f"contended {arts[tag].get('contended')}", flush=True)

    med = {t: a.get("queries_median") or a["queries"] for t, a in arts.items()}
    shared = sorted(set(med["a1"]) & set(med["b1"]) & set(med["b2"])
                    & set(med["a2"]))
    shared = [q for q in shared if all(med[t][q] > 0 for t in med)]
    tot = {t: sum(med[t][q] for q in shared) for t in med}
    code_ab = tot["b1"] / tot["a1"]
    code_ba = tot["b2"] / tot["a2"]
    code = math.sqrt(code_ab * code_ba)
    per_q = {q: math.sqrt((med["b1"][q] / med["a1"][q]) *
                          (med["b2"][q] / med["a2"][q])) for q in shared}
    summary = {
        "protocol": "ABBA",
        "ctrl_rev": ctrl_rev,
        "sf": sf_dir,
        "artifacts": {t: f"{prefix}_{t}.json" for t, _ in order},
        "shared_queries": len(shared),
        "totals_sec": tot,
        "cals": {t: arts[t].get("cal_start_sec") for t in arts},
        "contended": {t: arts[t].get("contended") for t in arts},
        "code_ab": code_ab,
        "code_ba": code_ba,
        "code_geomean": code,
        "order_disagreement": code_ab / code_ba,
        "queries_code_geomean": per_q,
    }
    with open(f"{prefix}_abba.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nABBA summary ({len(shared)} shared queries, warm medians):")
    print(f"  totals  A1 {tot['a1']:.1f}s  B1 {tot['b1']:.1f}s  "
          f"B2 {tot['b2']:.1f}s  A2 {tot['a2']:.1f}s")
    print(f"  code A->B {code_ab:.3f}x   code B->A {code_ba:.3f}x   "
          f"geomean {code:.3f}x")
    print(f"  order disagreement {code_ab / code_ba:.3f} "
          f"(1.0 = drift fully cancelled; >1.05 = re-run, host curving)")
    movers = sorted(((r, q) for q, r in per_q.items()
                     if r >= 1.2 or r <= 1 / 1.2), reverse=True)
    for r, q in movers[:15]:
        print(f"  mover {q}: paired code {r:.2f}x "
              f"({med['a1'][q]:.2f}/{med['b1'][q]:.2f}/"
              f"{med['b2'][q]:.2f}/{med['a2'][q]:.2f})")
    if not movers:
        print("  no paired mover past 1.2x in either direction")


if __name__ == "__main__":
    main()
