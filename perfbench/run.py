"""Benchmark of the engine's public surface, end to end and per layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME|all --seed N --seconds S --trace 0|1

Each workload is a closed loop with one client: one driver process
runs its queries one after another on ``local[<host cores>]``, built
through ``session.get_spark``, ``registry.queries()`` and each query
callable, and forced with a noop-sink write. Inputs are a synthetic
fixture made from the seed (``fixture.py``), cached by seed under
``.perfbench/`` in the checkout; the seed also sets the query order of
every pass. Every run starts from the same on-disk state: its workers
get a fresh ``TMPDIR`` (so the engine's write-once scratch caches
start empty) and Spark local directory, both removed afterwards.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (median over
two fresh processes of the package import, ``get_spark`` and
``registry.queries()``), ``total_s`` (sum over queries of the median
warm run) and ``latency_p50_s`` (over all warm runs). Warm runs are
those after the cold pass 0. It also prints, without gating them,
``first_pass_s`` (sum of each query's first run in a fresh session),
``latency_p90_s``, ``peak_rss_mb`` (driver JVM peak RSS plus the
driver process's) and the failed ratio.
``--trace 1`` runs the workload in one worker whose warm passes are
traced and untraced in turn, and prints the per-layer metrics (see
``layer_metrics``), including the tracing overhead on ``total_s``.

Outputs are checked in the same run, outside the timed passes. The
last stdout line is the JSON result; the line before it holds the run
context (cores, master, driver memory, host, load, versions, seed)
and per-query details. The exit code is non-zero, with no result
printed, if the engine is not in the working directory or a worker
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
from layers import PHASES, group_stats  # noqa: E402

# Why each workload is here, and which layers it is meant to expose.
# Each has an odd number of queries, so that the median over all warm
# runs is the middle query's median rather than the mean of two
# queries' extremes. ``warm_passes`` is the fewest warm passes. In one
# JVM the passes keep getting faster for about eight passes after the
# cold one, the first two most; the run budget holds five or six, and
# their median keeps the first two out.
WORKLOADS = {
    # 3 of bench.py's 20 headline queries (the flagship aggregate and
    # TPC-H joins of 3 and 8 tables), 0.7-1.7 s each warm on 4 cores.
    # Traced, the catalog's per-table schema inference was about a
    # quarter of a warm pass and most of the DataFrame build, and
    # execution about half. Catalog, operator-build and Catalyst wins
    # show here.
    "headline_sf0.1": {
        "sf": 0.1,
        "queries": [
            "agg_groupby",
            "tpch_q3",
            "tpch_q8",
        ],
        "warm_passes": 6,
    },
    # The paper's ML/LLM surface on 500 documents and 500 embeddings:
    # 3 of the 10 ML/LLM queries, picked from a per-query probe of all
    # 10 at this size so that a run fits the budget. Building the
    # DataFrame is about 85% of a warm pass: the TF-IDF pipeline fits
    # its CountVectorizer and IDF eagerly, and llm_knn_join's build
    # counts the corpus and computes its candidate pairs into eager
    # local checkpoints, with band keys from a pandas UDF.
    # udf_map_in_arrow runs Python workers at write time. The catalog
    # is a small share, so a catalog-only win cannot pass for a
    # general one here.
    "ml_llm_sf0.01": {
        "sf": 0.01,
        "queries": [
            "ml_tfidf",
            "llm_knn_join",
            "udf_map_in_arrow",
        ],
        "warm_passes": 5,
    },
}
# Fresh processes whose setup is timed per run: the measuring worker
# and one setup-only worker. Each costs a JVM start (8-10 s on 4
# cores), and the run budget has room for no more.
SETUP_SAMPLES = 2
# Pass 0 (cold, and collecting outputs for the check) is not part of
# the warm measurement.
WARM_FROM_PASS = 1
# Fewest warm passes in a traced run: half of them traced, half not.
# Its metrics are not gated.
MIN_WARM_PASSES_TRACED = 8
RUN_DEADLINE_S = 170
WORKER_PHASES = ("setup_s", "measure_s", "gc_s", "collect_s", "stop_s", "compare_s", "wall_s")
# Largest relative difference allowed between a query's traced build
# plus write spans and its untraced wall time (see ``layer_metrics``).
# The spans leave out the planning the tracer forces.
ACCOUNT_TOLERANCE = 0.4


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "infofarmsparkml_spark", "registry.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for name in names:
        result = run_workload(root, name, args)
        if result is None:
            return 1
        print(json.dumps(result))
    return 0


def run_workload(root: str, name: str, args) -> dict | None:
    wl = WORKLOADS[name]
    run_start = time.monotonic()
    deadline = run_start + RUN_DEADLINE_S
    work = os.path.join(root, ".perfbench")
    fx = fixture.ensure(os.path.join(work, "fixtures"), wl["sf"], args.seed)
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(dir=os.path.join(work, "runs"))
    context = {
        "workload": name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": _cores(),
        "host_cores": os.cpu_count(),
        "host_mem_gb": _mem_total_gb(),
        "loadavg_1m_start": os.getloadavg()[0],
        "git_revision": _git_revision(root),
    }
    cpu_start = _cpu_jiffies()
    base = {
        "queries": wl["queries"],
        "fixture": fx,
        "seed": args.seed,
        "seconds": args.seconds,
        "min_warm_passes": MIN_WARM_PASSES_TRACED if args.trace else wl["warm_passes"],
    }
    measure = dict(base, mode="measure")
    try:
        if args.trace:
            events_dir = os.path.join(run_dir, "events")
            main_w = _worker(
                root, run_dir, "traced", deadline, dict(measure, trace=True, events_dir=events_dir)
            )
            if main_w is None:
                return None
            workers = setups = [main_w]
            metrics, details = layer_metrics(main_w, events_dir)
        else:
            workers = [
                _worker(root, run_dir, f"setup{i}", deadline, dict(base, mode="setup", trace=False))
                for i in range(SETUP_SAMPLES - 1)
            ]
            workers.append(_worker(root, run_dir, "main", deadline, dict(measure, trace=False)))
            if None in workers:
                return None
            main_w = workers[-1]
            setups = workers
            metrics, details = end_to_end_metrics(main_w, setups)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = main_w["checks"]
    errors = [e for w in workers for e in w.get("errors", [])]
    failed_checks = sorted(q for q, (ok, _) in checks.items() if not ok)
    failed_accounting = details.pop("unaccounted", [])
    attempted = len(checks) + sum(len(w.get("runs", [])) for w in workers) + len(errors)
    failed = len(errors) + len(failed_checks) + len(failed_accounting)
    context.update(
        master=main_w["master"],
        driver_memory=main_w["driver_memory"],
        spark_version=main_w["spark_version"],
        loadavg_1m_end=os.getloadavg()[0],
        cpu_steal_share=_steal_share(cpu_start, _cpu_jiffies()),
        setup_samples_s=[w["setup_s"] for w in setups],
        worker_phases_s=[{k: w[k] for k in WORKER_PHASES if k in w} for w in workers],
        run_wall_s=time.monotonic() - run_start,
        failed_ratio=failed / attempted,
        errors=errors,
        failed_checks={q: checks[q][1][:500] for q in failed_checks},
        unaccounted=failed_accounting,
    )
    print(json.dumps({"context": context, **details}))
    for k, v in metrics.items():
        print(f"{name} {k} = {v['value']:.4f} {v['unit']}", file=sys.stderr)
    for k, u in (("first_pass_s", "s"), ("latency_p90_s", "s"), ("peak_rss_mb", "MB")):
        if k in details:
            print(f"{name} {k} = {details[k]:.4f} {u}", file=sys.stderr)
    print(f"{name} failed_ratio = {failed}/{attempted}", file=sys.stderr)
    return {
        "correct": not failed_checks and not errors and not failed_accounting,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def end_to_end_metrics(main_w: dict, setups: list[dict]) -> tuple[dict, dict]:
    first = [r for r in main_w["runs"] if r["pass"] == 0]
    warm = _warm(main_w["runs"])
    lat = sorted(r["s"] for r in warm)
    per_query = _by_query(warm, _wall)
    metrics = {
        "setup_s": _m(statistics.median(w["setup_s"] for w in setups), "s"),
        "total_s": _m(_sum_of_medians(warm, _wall), "s"),
        "latency_p50_s": _m(statistics.median(lat), "s"),
    }
    # Printed but not in the result metrics. The cold pass is one
    # sample per run, and across seeds on a quiet host it spread by a
    # sixth of its median. A run has far fewer than the hundred warm
    # samples that would put ten beyond the 90th percentile. Peak RSS
    # follows when the JVM's heap grows, and across seeds it spread by
    # a quarter of its median.
    details = {
        "first_pass_s": sum(r["s"] for r in first),
        "warm_samples": len(lat),
        "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "peak_rss_mb": main_w["jvm_hwm_mb"] + main_w["py_maxrss_mb"],
        "pass_s": _pass_sums(main_w["runs"]),
        "first_pass_by_query_s": {r["query"]: r["s"] for r in first},
        "warm_by_query_s": per_query,
    }
    return metrics, details


def layer_metrics(run: dict, events_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics of the traced warm passes: for each, the sum
    over queries of its median over passes. The untraced warm passes
    of the same worker give the tracing overhead and the base of the
    accounting check."""
    traced = [r for r in _warm(run["runs"]) if r["traced"]]
    plain = [r for r in _warm(run["runs"]) if not r["traced"]]
    spans: dict[tuple[str, str, str], tuple[float, int]] = {
        (q, p, layer): (s, n) for q, p, layer, s, n in run["spans"]
    }

    def span(r: dict, layer: str, i: int = 0) -> float:
        return spans.get((r["query"], str(r["pass"]), layer), (0.0, 0))[i]

    logs = os.listdir(events_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {logs}")
    groups = group_stats(os.path.join(events_dir, logs[0]))

    def spark_stat(r: dict, layer: str, key: str) -> float:
        return groups.get(f"{layer}|{r['query']}|{r['pass']}", {}).get(key, 0.0)

    def total(value) -> float:
        return _sum_of_medians(traced, value)

    plain_total = _sum_of_medians(plain, _wall)
    traced_total = total(_wall)
    metrics = {
        "session.get_spark_s": _m(run["get_spark_s"], "s"),
        "registry.load_s": _m(run["registry_s"], "s"),
        "catalog.load_table_calls": _m(total(lambda r: span(r, "catalog", 1)), "count"),
        "catalog.load_table_s": _m(total(lambda r: span(r, "catalog")), "s"),
        "catalog.jobs": _m(total(lambda r: spark_stat(r, "catalog", "jobs")), "count"),
        "operators.build_s": _m(total(lambda r: span(r, "operators")), "s"),
        "operators.build_self_s": _m(
            total(lambda r: span(r, "operators") - span(r, "catalog")), "s"
        ),
        "operators.jobs": _m(total(lambda r: spark_stat(r, "operators", "jobs")), "count"),
    }
    for phase in PHASES:
        metrics[f"catalyst.{phase}_s"] = _m(total(lambda r, ph=phase: r["phases"][ph]), "s")
    metrics["execution.write_s"] = _m(total(lambda r: span(r, "execution")), "s")
    for key, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("failed_tasks", "count"),
        ("executor_run_s", "s"),
        ("executor_cpu_s", "s"),
        ("jvm_gc_s", "s"),
        ("input_mb", "MB"),
        ("input_rows", "count"),
        ("output_mb", "MB"),
        ("shuffle_read_mb", "MB"),
        ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"),
    ):
        metrics[f"execution.{key}"] = _m(
            total(lambda r, k=key: spark_stat(r, "execution", k)), unit
        )
    metrics["trace.overhead_s"] = _m(traced_total - plain_total, "s")

    # Each query's traced build and write spans must account for its
    # wall time in the untraced passes (warm medians), which interleave
    # with the traced ones in the same JVM. A ratio far from 1 is work
    # that the spans miss, or that tracing adds to one query.
    plain_by_query = _by_query(plain, _wall)
    spans_by_query = _by_query(traced, lambda r: span(r, "operators") + span(r, "execution"))
    accounted = {}
    unaccounted = []
    for q, v in plain_by_query.items():
        if q not in spans_by_query:
            continue  # it raised in every traced run, counted as errors
        ratio = statistics.median(spans_by_query[q]) / statistics.median(v)
        accounted[q] = ratio
        if abs(ratio - 1) > ACCOUNT_TOLERANCE:
            unaccounted.append({"query": q, "spans_over_untraced": ratio})
    details = {
        "pass_s": _pass_sums(run["runs"]),
        "untraced_total_s": plain_total,
        "traced_total_s": traced_total,
        "spans_over_untraced_by_query": accounted,
        "unaccounted": unaccounted,
    }
    return metrics, details


def _worker(root: str, run_dir: str, tag: str, deadline: float, spec: dict) -> dict | None:
    """Run one worker process to completion; None if it failed."""
    spec = dict(spec, out=os.path.join(run_dir, f"{tag}.json"))
    if "events_dir" in spec:
        os.makedirs(spec["events_dir"])
    spec_path = os.path.join(run_dir, f"{tag}.spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, tag, "tmp")
    local = os.path.join(run_dir, tag, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(_cores()),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # Keep the JVM's own temp files inside the run directory.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=root,
    )
    log_path = os.path.join(run_dir, f"{tag}.log")
    started = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {tag} {why}\n{tail}", file=sys.stderr)
        return None
    with open(spec["out"]) as f:
        out = json.load(f)
    out["wall_s"] = time.monotonic() - started
    return out


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker and anything it started that is still alive
    (the driver JVM), and wait until all of them have ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes of group {proc.pid} outlived SIGKILL")


def _pass_sums(runs: list[dict]) -> list[float]:
    """Timed seconds of each pass, in pass order."""
    sums: dict[int, float] = {}
    for r in runs:
        sums[r["pass"]] = sums.get(r["pass"], 0.0) + r["s"]
    return [sums[p] for p in sorted(sums)]


def _warm(runs: list[dict]) -> list[dict]:
    return [r for r in runs if r["pass"] >= WARM_FROM_PASS]


def _wall(run: dict) -> float:
    return run["s"]


def _sum_of_medians(runs: list[dict], value) -> float:
    """Sum over queries of the median of ``value`` over their runs."""
    return sum(statistics.median(v) for v in _by_query(runs, value).values())


def _by_query(runs: list[dict], value) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in runs:
        out.setdefault(r["query"], []).append(value(r))
    return out


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta[:8]))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    return float("nan")


def _git_revision(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


if __name__ == "__main__":
    sys.exit(main())
