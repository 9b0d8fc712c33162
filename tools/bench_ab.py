"""Same-day interleaved A/B of named bench queries between two code
trees — the box-weather arbitration protocol (SCALE.md "Round-12
close"). Absolute seconds on this host drift ±25 % with hypervisor
weather, so cross-round comparisons of committed artifacts conflate
code with host state; this tool removes the host term by alternating
the two trees under the SAME weather, with full-demand steal probes
between phases.

Usage:
    python tools/bench_ab.py TREE_A TREE_B QUERY [QUERY ...]
        [--reps N | --reps=N (default 3)]

Per phase (tree × rep): a FRESH interpreter/session in that tree,
sf0.001 warm of each query, then best-of-3 at $SPARK_GRAFT_SF_DIR with
no release between the 3 reps — bench.py's exact per-query regime, so
the numbers are bench-comparable. Trees alternate A,B,A,B,… so drift
hits both arms. Include an UNTOUCHED query as a control: if the
control moves as much as the touched queries, the box — not the code —
is talking.

TREE_A is typically a `git worktree add <dir> <prev-close-sha>` of the
baseline; both trees must contain tensei_agent_spark + testdata paths
resolve via the usual env contract.

The last stdout line is one JSON object whose ``queries`` maps arm
(``A``/``B``) → query → one best-of-3 per rep. The tool exits non-zero,
printing the twin's stderr, if any phase fails or any arm ends with
fewer than N samples for a query — never with partial data.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_TWIN = r"""
import os, sys, time
sys.path.insert(0, ".")
from tensei_agent_spark.cache import release_all
from tensei_agent_spark.queries import REGISTRY
from tensei_agent_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
spark = get_spark("bench-ab-twin")
spark.sparkContext.setLogLevel("ERROR")
for name in sys.argv[1:]:
    REGISTRY[name].build(spark, warm_dir).count()
    release_all(); spark.catalog.clearCache()
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        REGISTRY[name].build(spark, sf_dir).count()
        reps.append(round(time.perf_counter() - t0, 3))
    print("RESULT %s best=%.4f reps=%s" % (name, min(reps), reps), flush=True)
    release_all(); spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
"""


def probe() -> str:
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "steal_probe.py")],
        capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    return lines[-1] if lines else "{}"


def run_twin(tree: str, queries: list[str]) -> dict[str, float]:
    """One phase: a fresh interpreter in *tree*; best seconds per query.

    Fails loudly: a twin that exits non-zero, or that reports fewer
    queries than asked for, stops the whole A/B with its stderr.
    """
    out = subprocess.run(
        [sys.executable, "-c", _TWIN, *queries],
        cwd=tree, capture_output=True, text=True,
    )
    best = {}
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            print(line, flush=True)
            _, name, b, _ = line.split(None, 3)
            best[name] = float(b.split("=")[1])
    if out.returncode != 0 or set(best) != set(queries):
        sys.stderr.write(out.stderr)
        sys.exit(
            f"bench_ab: twin in {tree} exited {out.returncode} with results "
            f"for {sorted(best)} of {sorted(queries)}"
        )
    return best


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description="Same-weather interleaved A/B of bench queries."
    )
    parser.add_argument("tree_a")
    parser.add_argument("tree_b")
    parser.add_argument("queries", nargs="+")
    parser.add_argument("--reps", type=int, default=3)
    args = parser.parse_args(argv)
    if args.reps < 1:
        parser.error("--reps must be at least 1")
    arms = {"A": args.tree_a, "B": args.tree_b}
    for tree in arms.values():
        if not os.path.isdir(os.path.join(tree, "tensei_agent_spark")):
            parser.error(f"{tree}: not a tree containing tensei_agent_spark/")
    # Keyed by arm, not path: an A/A run keeps two separate lists.
    results = {arm: {q: [] for q in args.queries} for arm in arms}
    probes = []
    for i in range(args.reps):
        for arm, tree in arms.items():
            p = probe()
            probes.append(p)
            print(f"=== rep {i + 1} arm {arm} tree {tree}\n{p}", flush=True)
            # run_twin returns every query or exits, so each arm ends
            # with exactly --reps samples per query.
            for name, best in run_twin(tree, args.queries).items():
                results[arm][name].append(best)
    print(json.dumps({"trees": arms, "queries": results, "steal_probes": probes}))


if __name__ == "__main__":
    main()
