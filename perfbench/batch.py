"""``batch-headline``: headline queries, built and collected.

The tables come from ``scripts/gen_fixtures.py --seed <seed>`` at the sizes
in spec.json (made once per seed, timed apart from set-up). Set-up is the
session plus an untimed warm pass. Timed passes then repeat the query list
until the run's seconds are spent; each query's time is the fastest of its
passes of build plus ``toPandas()``. ``release_cached()`` runs after every
query, outside the timer. Every result is compared exactly with the query's
duckdb oracle, whose results are computed once per seed and cached.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from statistics import median

from numpy import quantile

from common import OUT, ROOT, SPEC, nproc

CFG = SPEC["workloads"]["batch-headline"]


def fixtures(seed: int) -> tuple[str, float]:
    """Seeded tables and the seconds spent making them (0 when cached)."""
    fx = CFG["fixture"]
    out = os.path.join(OUT, "cache", f"fixtures-seed{seed}")
    if os.path.isfile(os.path.join(out, "embeddings.parquet")):
        return out, 0.0
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(ROOT, "scripts", "gen_fixtures.py"), out,
           "--seed", str(seed)]
    for flag in ("customer", "supplier", "part", "orders", "events", "docs", "vecs", "dim"):
        cmd += [f"--{flag}", str(fx[flag])]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return out, time.perf_counter() - t0


def oracle_results(seed: int, sf_dir: str, names: list[str]) -> dict:
    """duckdb oracle result per query, cached per (seed, table sizes)."""
    from eventstream_spark.operators import all_oracles
    from eventstream_spark.testing import run_oracle

    path = os.path.join(OUT, "cache", f"oracles-seed{seed}.pkl")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            cached = pickle.load(f)
        if cached.get("fixture") == CFG["fixture"] and set(names) <= set(cached["results"]):
            return cached["results"]
    sql = all_oracles()
    results = {name: run_oracle(sql[name], sf_dir) for name in names}
    with open(path, "wb") as f:
        pickle.dump({"fixture": CFG["fixture"], "results": results}, f)
    return results


class JobCounter:
    """Jobs, stages and tasks per job group, from the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.groups: list[tuple[str, str]] = []  # (group, phase)

    def enter(self, group: str, phase: str) -> None:
        """Run what follows in a fresh job group counted under ``phase``."""
        self.sc.setJobGroup(group, group)
        self.groups.append((group, phase))

    def totals(self) -> tuple[dict, set[int]]:
        out: dict = defaultdict(float)
        jobs_seen: set[int] = set()
        for group, phase in self.groups:
            for job in self.tracker.getJobIdsForGroup(group):
                jobs_seen.add(job)
                out[f"{phase}.jobs"] += 1
                info = self.tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue
                    out[f"{phase}.stages"] += 1
                    out[f"{phase}.tasks"] += st.numCompletedTasks
                    out[f"{phase}.tasks_failed"] += st.numFailedTasks
        return out, jobs_seen


def run(spark, args, tracer, sampler) -> dict:
    import bench
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators import all_queries
    from eventstream_spark.testing import compare

    names = CFG["queries"]
    unknown = set(names) - set(bench.HEADLINE)
    if unknown:
        raise ValueError(f"not headline queries: {sorted(unknown)}")
    queries = all_queries()
    module = {n: queries[n].__module__.rsplit(".", 1)[-1] for n in names}
    sf_dir, gen_s = fixtures(args.seed)
    t0 = time.perf_counter()
    oracle = oracle_results(args.seed, sf_dir, names)
    oracle_s = time.perf_counter() - t0

    # The warm pass runs the queries from nproc threads at once: it only has
    # to compile plans and start workers, and set-up time bounds every run.
    t0 = sampler.mark()
    with ThreadPoolExecutor(nproc()) as pool:
        for future in [pool.submit(lambda n=n: queries[n](spark, sf_dir).toPandas())
                       for n in names]:
            future.result()
    release_cached()
    warm_s = sampler.busy(t0, sampler.mark())

    trace = tracer.enabled
    jobs = JobCounter(spark.sparkContext) if trace else None
    times: dict[str, list[float]] = defaultdict(list)
    layer_times: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    persisted: list[int] = []
    results: list[tuple[str, object]] = []
    deadline = time.perf_counter() + args.seconds
    passes = 0
    while passes < CFG["min_timed_passes"] or time.perf_counter() < deadline:
        n_persisted = 0
        for name in names:
            run_id = f"{passes}:{name}"
            try:
                if trace:
                    pdf, n = traced_query(spark, queries[name], sf_dir, tracer, sampler,
                                          jobs, run_id, layer_times[name])
                else:
                    t = sampler.mark()
                    pdf = queries[name](spark, sf_dir).toPandas()
                    times[name].append(sampler.busy(t, sampler.mark()))
                    n = release_cached()
            except Exception as exc:  # a raising query is a failed operation
                print(f"{name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                release_cached()
                results.append((name, None))
                continue
            n_persisted += n
            results.append((name, pdf))
        persisted.append(n_persisted)
        passes += 1

    failed = 0
    for name, pdf in results:
        problems = ["raised"] if pdf is None else compare(pdf, oracle[name])
        if problems:
            failed += 1
            print(f"{name}: {'; '.join(problems)}", file=sys.stderr)

    if trace:
        for name, phases in layer_times.items():
            times[name] = [sum(x) for x in zip(*(phases[p] for p in ("build", "plan", "run")))]
    # Fastest pass per query, bench.py's min-of-N rule: a shared host's CPU
    # steal stalls single runs for seconds, and a stall is not the query.
    per_query = {n: min(ts) for n, ts in times.items() if ts}
    qs = list(per_query.values())
    suite_s = sum(qs)
    metrics = {
        "setup_s": args.session_s + warm_s,
        "latency_p50_ms": 1000.0 * quantile(qs, 0.5),
        "latency_p90_ms": 1000.0 * quantile(qs, 0.9),
        "throughput_per_s": len(qs) / suite_s,
        "peak_rss_mb": sampler.peak_mb,
    }
    out = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": metrics,
        "named": {
            "suite_s": (suite_s, "s"),
            "query_p50_s": (quantile(qs, 0.5), "s"),
            "query_p90_s": (quantile(qs, 0.9), "s"),
            "queries": (len(names), "count"),
            "timed_passes": (passes, "count"),
            "fixture_gen_s": (gen_s, "s"),
            "oracle_s": (oracle_s, "s"),
            **{f"query.{n}": (t, "s") for n, t in per_query.items()},
        },
    }
    if trace:
        out["layers"], job_ids = batch_layers(layer_times, module, jobs, persisted, passes)
        out["cpu_jobs"] = (job_ids, passes)
    return out


def traced_query(spark, builder, sf_dir, tracer, sampler, jobs, run_id, phases):
    """build / plan / run / release as child spans of one query span, each
    phase in its own job group so the jobs it launches are counted apart."""
    from eventstream_spark.cache import release_cached

    t = sampler.mark()
    jobs.enter(f"{run_id}:build", "build")
    df = builder(spark, sf_dir)
    t1 = sampler.mark()
    jobs.enter(f"{run_id}:plan", "plan")
    df._jdf.queryExecution().executedPlan()
    t2 = sampler.mark()
    jobs.enter(f"{run_id}:run", "exec")
    pdf = df.toPandas()
    t3 = sampler.mark()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    n = release_cached()
    t4 = sampler.mark()
    query = tracer.add("query", t, t4, None, run_id)
    for name, a, b in (("build", t, t1), ("plan", t1, t2), ("run", t2, t3), ("release", t3, t4)):
        tracer.add(name, a, b, query, run_id)
        phases[name].append(sampler.busy(a, b))
    return pdf, n


def batch_layers(layer_times, module, jobs, persisted, passes) -> tuple[dict, set[int]]:
    def total(phase, names=None):
        return sum(median(layer_times[n][phase]) for n in (names or layer_times))

    counts, job_ids = jobs.totals()
    layers = {
        "operators.build_s": total("build"),
        "operators.build_jobs": counts["build.jobs"] / passes,
        "catalyst.plan_s": total("plan"),
        "exec.run_s": total("run"),
        "exec.jobs": counts["exec.jobs"] / passes,
        "exec.stages": counts["exec.stages"] / passes,
        "exec.tasks": counts["exec.tasks"] / passes,
        "exec.tasks_failed": counts["exec.tasks_failed"] / passes,
        "cache.persisted": median(persisted),
        "cache.release_s": total("release"),
    }
    for mod in sorted(set(module.values())):
        names = [n for n in layer_times if module[n] == mod]
        layers[f"operators.{mod}.build_s"] = total("build", names)
        layers[f"operators.{mod}.run_s"] = total("run", names)
    return layers, job_ids
