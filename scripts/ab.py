#!/usr/bin/env python
"""A/B of git revisions, per query, on the benchmark's own worker.

Usage, from anywhere in a checkout:

    python3 scripts/ab.py REV [REV ...] QUERY [QUERY ...] [--sf F] [--seed N]

Each REV (anything ``git rev-parse`` accepts) is extracted with ``git
archive`` into a temporary tree, which is removed on exit. Every arm
is measured by this checkout's ``perfbench/worker.py``, started
through ``perfbench/run.py``'s ``_worker`` with the arm's tree as its
working directory and ``PYTHONPATH``: a fresh JVM per run with its own
``TMPDIR`` and Spark local directory, a cold pass, then the traced
benchmark spec's warm passes, untraced and traced in turn. The inputs
are the benchmark's seeded fixture at ``--sf``, cached under
``.perfbench/fixtures``.

There are ``ROUNDS`` rounds. In each, every arm runs once, and the arm
that goes first rotates from round to round.

Equality gate: a query is timed only if its DuckDB oracle SQL text is
byte-identical in every arm and its result passes that oracle in every
run of every arm. Equal oracles plus passing checks mean equal
results. Rows-only queries (no oracle) therefore cannot be A/B'd. If
any query fails the gate, it is printed as unverified, no verdict is
printed for any query, and the exit code is 1; so it is if a worker
fails.

Output: one JSON line per query. For each arm, the untraced warm
wall-time samples of all rounds with their min, quartiles and median,
and the median over rounds of each per-layer metric of the traced
passes (``run.layer_metrics``). With two or more arms,
``last_won_rounds`` counts the rounds in which the last arm's median
sample beat the first arm's. With a single REV the run is a plain
fresh-JVM measurement; one run per ``--sf`` gives a scale ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import fixture  # noqa: E402
import run  # noqa: E402

# The fewest pairs of runs from which a gain may be claimed: the
# later arm must win at least 9 of them.
ROUNDS = 10

_ORACLE_SQL = (
    "import json\n"
    "from infofarmsparkml_spark import registry\n"
    "print(json.dumps(registry.oracle_sql()))\n"
)


def main(argv: list[str] | None = None, root: str = ROOT) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="REV|QUERY", help="revisions first, then queries")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    revs: list[tuple[str, str]] = []
    for name in args.names:
        commit = _commit(root, name)
        if commit is None:
            break
        revs.append((name, commit))
    queries = args.names[len(revs):]
    if not revs or not queries:
        ap.error("give one or more revisions, then one or more queries")

    fx = fixture.ensure(os.path.join(root, ".perfbench", "fixtures"), args.sf, args.seed)
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        trees = [
            _extract(root, commit, os.path.join(tmp, f"arm{i}"))
            for i, (_, commit) in enumerate(revs)
        ]
        rounds: list[list[dict]] = []
        unverified = _oracle_gate(trees, queries)
        if not unverified:
            measured = _measure(trees, queries, fx, args.seed, tmp)
            if measured is None:
                return 1
            rounds, unverified = measured
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if unverified:
        for q, why in unverified.items():
            print(json.dumps({"query": q, "unverified": why}))
        return 1
    for q in queries:
        print(json.dumps(_verdict(q, revs, rounds, args)))
    return 0


def _commit(root: str, name: str) -> str | None:
    out = subprocess.run(
        ["git", "rev-parse", "--verify", "--quiet", f"{name}^{{commit}}"],
        cwd=root, capture_output=True, text=True,
    )
    return out.stdout.strip() if out.returncode == 0 else None


def _extract(root: str, commit: str, dest: str) -> str:
    tar = subprocess.run(["git", "archive", commit], cwd=root, capture_output=True, check=True)
    os.makedirs(dest)
    subprocess.run(["tar", "-x", "-C", dest], input=tar.stdout, check=True)
    return dest


def _oracle_gate(trees: list[str], queries: list[str]) -> dict[str, str]:
    """Queries whose oracle SQL is missing from an arm or differs
    between arms, each with the reason."""
    oracles = [_oracle_sql(t) for t in trees]
    bad = {}
    for q in queries:
        texts = [o.get(q) for o in oracles]
        if None in texts:
            bad[q] = f"no oracle SQL in arm {texts.index(None)}: rows-only or unknown"
        elif len(set(texts)) > 1:
            bad[q] = "oracle SQL differs between arms"
    return bad


def _oracle_sql(tree: str) -> dict[str, str]:
    """``registry.oracle_sql()`` as the revision in ``tree`` defines it."""
    out = subprocess.run(
        [sys.executable, "-c", _ORACLE_SQL],
        cwd=tree, env=dict(os.environ, PYTHONPATH=tree), capture_output=True, text=True,
    )
    if out.returncode != 0:
        raise RuntimeError(f"reading oracle SQL in {tree} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.splitlines()[-1])


def _measure(trees, queries, fx, seed, tmp) -> tuple[list[list[dict]], dict[str, str]] | None:
    """Run the rounds. Returns ``rounds[round][arm][query]``, that
    run's samples and layers, and the queries that failed a check,
    each with the reason; the rounds stop after the first such
    failure. None if a worker failed."""
    rounds = []
    unverified: dict[str, str] = {}
    for rnd in range(ROUNDS):
        first = rnd % len(trees)
        per_arm: list[dict] = [{} for _ in trees]
        for i in [*range(first, len(trees)), *range(first)]:
            print(f"ab: round {rnd + 1}/{ROUNDS} arm {i}", file=sys.stderr, flush=True)
            res = _run_arm(trees[i], queries, fx, seed, tmp)
            if res is None:
                return None
            per_arm[i], failed = res
            for q, why in failed.items():
                unverified.setdefault(q, f"arm {i}, round {rnd + 1}: {why}")
        rounds.append(per_arm)
        if unverified:
            break
    return rounds, unverified


def _run_arm(tree, queries, fx, seed, tmp) -> tuple[dict, dict[str, str]] | None:
    """One fresh worker on ``tree``. Returns, per query that passed its
    check, its untraced warm samples and the per-layer metrics of its
    traced passes, and, per query that did not, the reason; None if
    the worker failed."""
    run_dir = tempfile.mkdtemp(dir=tmp)
    events = os.path.join(run_dir, "events")
    spec = {
        "mode": "measure",
        "trace": True,
        "events_dir": events,
        "queries": queries,
        "fixture": fx,
        "seed": seed,
        # No time-based passes: exactly the traced spec's warm passes.
        "seconds": 0,
        "min_warm_passes": run.MIN_WARM_PASSES_TRACED,
    }
    try:
        out = run._worker(tree, run_dir, "arm", time.monotonic() + run.RUN_DEADLINE_S, spec)
        if out is None:
            return None
        passed, failed = {}, {}
        for q in queries:
            ok, why = out["checks"].get(q, (False, "not checked"))
            errors = [e["error"] for e in out["errors"] if e["query"] == q]
            if not ok or errors:
                failed[q] = (why if not ok else errors[0])[:500]
                continue
            runs = [r for r in out["runs"] if r["query"] == q]
            metrics, _ = run.layer_metrics(dict(out, runs=runs), events)
            passed[q] = {
                "warm_s": [r["s"] for r in run._warm(runs) if not r["traced"]],
                "layers": {k: v["value"] for k, v in metrics.items()},
            }
        return passed, failed
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _verdict(q: str, revs: list[tuple[str, str]], rounds: list[list[dict]], args) -> dict:
    arms = []
    for i, (rev, commit) in enumerate(revs):
        samples = [s for r in rounds for s in r[i][q]["warm_s"]]
        q1, median, q3 = statistics.quantiles(samples, n=4, method="inclusive")
        layers = rounds[0][i][q]["layers"]
        arms.append({
            "rev": rev,
            "commit": commit,
            "warm_s": [round(s, 4) for s in samples],
            "min_s": min(samples),
            "q1_s": q1,
            "median_s": median,
            "q3_s": q3,
            "layers": {k: statistics.median(r[i][q]["layers"][k] for r in rounds) for k in layers},
        })
    out = {"query": q, "sf": args.sf, "seed": args.seed, "rounds": len(rounds), "arms": arms}
    if len(revs) > 1:
        out["last_won_rounds"] = sum(
            statistics.median(r[-1][q]["warm_s"]) < statistics.median(r[0][q]["warm_s"])
            for r in rounds
        )
    return out


if __name__ == "__main__":
    sys.exit(main())
