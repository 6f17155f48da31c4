"""One fresh Spark driver process of a benchmark run.

Usage: ``python3 perfbench/worker.py SPEC.json`` from the root of a
checkout. The spec names the mode (``setup`` or ``measure``), the
queries, the fixture directory, the seed, the measuring window and
whether to trace; the worker writes its
measurements as JSON to ``spec["out"]``.

``setup`` times the package import, ``session.get_spark`` and
``registry.queries()`` and exits. ``measure`` then runs passes over
the queries (see ``measure``), each query built and written to
Spark's noop sink, one after another (a closed loop with one client).
Outputs are checked outside the timed region: in pass 0 each built
DataFrame is also collected, and after the session stops each result
is compared with its DuckDB oracle on the same fixture.
"""

from __future__ import annotations

import gc
import json
import os
import random
import resource
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import EVENT_LOG_CONF, PHASES, Tracer  # noqa: E402


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = Tracer() if spec["trace"] else None

    t0 = time.perf_counter()
    import infofarmsparkml_spark  # noqa: F401
    from infofarmsparkml_spark import catalog, registry, session

    if tracer:
        # Operator modules bind load_table when registry.queries()
        # imports them, so the wrapper must be in place first.
        catalog.load_table = tracer.wrap("catalog", catalog.load_table)
    t1 = time.perf_counter()
    extra = None
    if tracer:
        extra = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + spec["events_dir"]})
    spark = session.get_spark(extra_conf=extra)
    t2 = time.perf_counter()
    queries = registry.queries()
    t3 = time.perf_counter()
    out = {
        "setup_s": t3 - t0,
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "registry_s": t3 - t2,
        "master": spark.conf.get("spark.master"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
    }
    if spec["mode"] == "setup":
        # Skip the graceful session stop that interpreter exit would
        # run: the orchestrator kills the JVM with this process group.
        _write(spec["out"], out)
        os._exit(0)
    if tracer:
        tracer.bind(spark)
    # Exempt the objects made during setup from every later collection,
    # so the collection before each query stays short.
    gc.freeze()
    tm = time.perf_counter()
    out.update(measure(spark, queries, spec, tracer))
    out["measure_s"] = time.perf_counter() - tm
    out["jvm_hwm_mb"] = _jvm_hwm_mb(spark)
    out["py_maxrss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    ts = time.perf_counter()
    spark.stop()
    out["stop_s"] = time.perf_counter() - ts
    tc = time.perf_counter()
    out["checks"] = compare(out.pop("collected"), spec["fixture"])
    out["compare_s"] = time.perf_counter() - tc
    if tracer:
        out["spans"] = [[*k, v, tracer.calls[k]] for k, v in tracer.seconds.items()]
    _write(spec["out"], out)


def _write(path: str, out: dict) -> None:
    with open(path, "w") as f:
        json.dump(out, f)


def measure(spark, queries, spec, tracer) -> dict:
    """Pass 0 is the cold pass. After each of its timed runs the built
    DataFrame is collected, untimed, for the output check; running the
    plan a second time also warms the JIT up for the later passes.
    Passes 1 and on are the warm measurement: they run until
    ``spec["seconds"]`` of timed runs have passed, and at least
    ``spec["min_warm_passes"]`` times. Each pass runs the queries in an
    order drawn from the seed."""
    rng = random.Random(spec["seed"])
    runs: list[dict] = []
    errors: list[dict] = []
    collected: dict = {}
    overhead = {"gc_s": 0.0, "collect_s": 0.0}

    def one_pass(p: int) -> float:
        order = list(spec["queries"])
        rng.shuffle(order)
        timed = 0.0
        for q in order:
            tg = time.perf_counter()
            gc.collect()
            overhead["gc_s"] += time.perf_counter() - tg
            try:
                # A traced run traces passes 2, 3, 6, 7 and so on; its
                # other passes measure the same JVM untraced. Warm
                # passes then go untraced, traced, traced, untraced,
                # which cancels a steady warm-up trend between the two.
                traced = tracer if p % 4 in (2, 3) else None
                run, df = run_query(spark, queries[q], q, p, spec["fixture"], traced)
            except Exception as e:  # noqa: BLE001  one broken query costs only its row
                errors.append({"query": q, "pass": p, "error": _err(e)})
                collected.setdefault(q, _err(e))
                continue
            runs.append(run)
            timed += run["s"]
            if p == 0:
                tc = time.perf_counter()
                try:
                    collected[q] = df.toPandas()
                except Exception as e:  # noqa: BLE001
                    collected[q] = _err(e)
                overhead["collect_s"] += time.perf_counter() - tc
        return timed

    one_pass(0)
    measured = []
    least = spec["min_warm_passes"]
    while len(measured) < least or sum(measured) + measured[-1] <= spec["seconds"]:
        measured.append(one_pass(len(measured) + 1))
    return {"runs": runs, "errors": errors, "collected": collected, **overhead}


def run_query(spark, fn, q: str, p: int, fixture: str, tracer):
    """Build and write one query; return its timing and the built
    DataFrame. A traced run also records the planner phases, outside
    the build and write spans."""
    if tracer is None:
        t0 = time.perf_counter()
        df = fn(spark, fixture)
        df.write.format("noop").mode("overwrite").save()
        return {"query": q, "pass": p, "s": time.perf_counter() - t0, "traced": False}, df
    tracer.query, tracer.pass_ = q, str(p)
    try:
        t0 = time.perf_counter()
        with tracer.span("operators"):
            df = fn(spark, fixture)
        with tracer.span("catalyst"):
            phases = tracer.phases(df)
        with tracer.span("execution"):
            df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        tracer.query = tracer.pass_ = None
    return {"query": q, "pass": p, "s": wall, "traced": True, "phases": phases}, df


def compare(got: dict, fixture: str) -> dict:
    """Compare each collected frame with its DuckDB oracle."""
    from infofarmsparkml_spark import registry, verify

    oracles = registry.oracle_sql()
    con = verify.duck_connect(fixture)
    res = {}
    for q, pdf in got.items():
        if isinstance(pdf, str):
            res[q] = [False, pdf]
        elif q in oracles:
            res[q] = list(verify.compare_frames(pdf, con.execute(oracles[q]).fetchdf()))
        else:
            res[q] = [False, "no oracle"]
    con.close()
    return res


def _jvm_hwm_mb(spark) -> float:
    """Peak resident memory of the driver JVM (the py4j gateway)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:300] + "\n" + traceback.format_exc()[-1500:]


if __name__ == "__main__":
    main(sys.argv[1])
