"""The two batch workloads: ``lazy_queries`` and ``eager_hosts``.

A closed loop with one client: whole passes over the workload's
queries, each pass in a seeded random order. The first pass is the
check pass: every query's rows are also collected, outside its timed
wall, and their fingerprint compared with the pinned one. Then a fixed
number of timed passes follows, as many as fit in ``--seconds`` at
nominal speed (``planned_passes``). Every query is built with its
registry function and materialised with the ``noop`` sink, exactly as
``bench.py`` does; its wall time is construction plus that action.
"""

from __future__ import annotations

import contextlib
import random
import sys
import time

from perfbench import fingerprint, stats

# The queries of bench.py's HEADLINE list whose work runs at the final
# action, and the multi-leg hosts that do theirs while being built.
LAZY_ALL = (
    "q01 q03 q08 q12 q14 q16 q20 q23 q26 q27 q29 q30 q32 q36 q37 q39 q44 "
    "q48 q49 q52 q53 q55 q56 q57 q58 q60 q63 q66"
).split()
EAGER_ALL = "q02 q33 q34 q38 q46 q59 q61 q62 q64 q67".split()

# Default subsets, sized so a whole pass repeats within one run (see
# NOTES.md); ``--full`` runs the lists above instead. The eager subset
# holds the tokenizing hosts with the most jobs outside the query's job
# group per second of wall; q61 alone takes about 14 s a warm pass.
LAZY_DEFAULT = "q01 q27 q53 q60".split()
EAGER_DEFAULT = "q33 q38 q64".split()

WORKLOADS = {
    "lazy_queries": (LAZY_DEFAULT, LAZY_ALL),
    "eager_hosts": (EAGER_DEFAULT, EAGER_ALL),
}

# Nominal seconds of the first (cold) pass and of a warm pass on a
# 4-core VM, per (workload, full list). They turn ``--seconds`` into a
# fixed number of passes, so every run does the same work whatever the
# machine's speed at the time: the JIT is still warming during a run,
# and a run that fits one pass more would report a warmer median.
NOMINAL_PASS_S = {
    ("lazy_queries", False): (10.0, 5.0),
    ("lazy_queries", True): (45.0, 25.0),
    ("eager_hosts", False): (18.0, 9.0),
    ("eager_hosts", True): (60.0, 35.0),
}


def planned_passes(seconds: float, first_s: float, pass_s: float) -> int:
    """Warm passes that fit in ``seconds`` after the first pass (at least 2)."""
    return max(2, int((seconds - first_s) / pass_s))


def resolve(short: list[str]) -> list[str]:
    from unimib_simpss_spark.plans import registry

    full = {n.split("_", 1)[0]: n for n in registry.queries()}
    return [full[s] for s in short]


def warm_up(spark, sf_dir: str) -> None:
    """The set-up's one engine operation: a catalog read and a small
    aggregate, enough to start the JVM's scan and codegen paths."""
    from unimib_simpss_spark import catalog

    catalog.load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().collect()


class BatchRun:
    def __init__(self, ctx, names: list[str]):
        self.ctx = ctx
        self.names = names
        self.walls: dict[str, list[float]] = {n: [] for n in names}
        self.construct_s = 0.0
        self.action_s = 0.0
        self.release_s = 0.0
        self.leaked_rdds = 0
        self.passes: list[float] = []
        self.first_pass_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.jobs_by_query: dict[str, list[int]] = {}
        self.after_check = (-1, -1)

    # one query: construct + noop action (timed), optional check, release
    def _one(self, name: str, check: bool, pinned: dict) -> float | None:
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        from unimib_simpss_spark.operators import caching

        qs = ctx.queries
        self.attempted += 1
        if ctx.trace:
            spark.sparkContext.setJobGroup(name, name)
            before_rdds = caching.persistent_rdd_ids(spark)
            first_job = ctx.rest.max_job_id()
        df = None
        try:
            with tr.span("query", op=f"{name}#{self.attempted}", query=name):
                t0 = time.perf_counter()
                with tr.span("construct"):
                    df = qs[name](spark, ctx.sf_dir)
                t1 = time.perf_counter()
                with tr.span("action"):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                if check:  # untimed: collect and compare with the pin
                    with tr.span("check"):
                        bad = fingerprint.check(name, fingerprint.of_dataframe(df), pinned)
                    if bad:
                        self.failed += 1
                        self.mismatches.append(bad)
                t3 = time.perf_counter()
                with tr.span("release"):
                    caching.release_result(df)
                t4 = time.perf_counter()
        except Exception as e:  # a query that raises is a failed operation
            if df is not None:  # free what it may hold; the query's error is the one reported
                with contextlib.suppress(Exception):
                    caching.release_result(df)
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            print(f"query {name} failed: {e!r}"[:2000], file=sys.stderr)
            return None
        finally:
            if ctx.trace:
                spark.sparkContext.setJobGroup("perfbench", "perfbench")
        if ctx.trace:
            self.leaked_rdds += len(caching.persistent_rdd_ids(spark) - before_rdds)
            jobs = [j for j in ctx.rest.jobs() if j["jobId"] > first_job]
            mine = set(spark.sparkContext.statusTracker().getJobIdsForGroup(name))
            n_attr = sum(1 for j in jobs if j["jobId"] in mine)
            tot = self.jobs_by_query.setdefault(name, [0, 0])
            tot[0] += len(jobs)
            tot[1] += n_attr
        if not check:
            self.construct_s += t1 - t0
            self.action_s += t2 - t1
            self.release_s += t4 - t3
        return t2 - t0

    def run_passes(self, warm_passes: int, rng: random.Random, pinned: dict) -> None:
        """One check pass, then ``warm_passes`` timed ones. The check pass
        also collects every query's rows (outside the query's timed
        wall) and compares their fingerprint with the pin; it runs cold,
        so it is kept out of the statistics."""
        for k in range(1 + warm_passes):
            order = list(self.names)
            rng.shuffle(order)
            t0 = time.perf_counter()
            with self.ctx.tracer.span("pass", op=f"pass-{k}"):
                for name in order:
                    wall = self._one(name, k == 0, pinned)
                    if wall is not None and k > 0:
                        self.walls[name].append(wall)
            if k > 0:
                self.passes.append(time.perf_counter() - t0)
                continue
            self.first_pass_s = time.perf_counter() - t0
            if self.ctx.trace:  # engine counters cover the timed passes only
                self.after_check = (self.ctx.rest.max_job_id(), self.ctx.rest.max_stage_id())
                self.jobs_by_query = {}
                self.leaked_rdds = 0
                self.ctx.load_calls.clear()

    def layer_metrics(self, tot: dict, window: float, cores: int) -> dict:
        """Per-pass layer numbers of the timed passes (traced run)."""
        n = max(1, len(self.passes))
        return {
            "catalog.load_table.calls": len(self.ctx.load_calls) / n,
            "catalog.load_table_s": sum(self.ctx.load_calls) / n,
            "plans.construct_s": self.construct_s / n,
            "plans.action_s": self.action_s / n,
            "spark.jobs": tot["n_jobs"] / n,
            "spark.jobs.checkpoint": tot["kinds"]["checkpoint"] / n,
            "spark.jobs.broadcast": tot["kinds"]["broadcast"] / n,
            "spark.jobs.collect": tot["kinds"]["collect"] / n,
            "spark.jobs_unattributed": sum(t - a for t, a in self.jobs_by_query.values()) / n,
            "spark.stages": tot["stages"] / n,
            "spark.tasks": tot["tasks"] / n,
            "spark.executor_run_s": tot["executor_run_s"] / n,
            "spark.executor_cpu_s": tot["executor_cpu_s"] / n,
            "spark.jvm_gc_s": tot["jvm_gc_s"] / n,
            "spark.shuffle_write_mb": tot["shuffle_write_mb"] / n,
            "spark.input_mb": tot["input_mb"] / n,
            "spark.busy_share": tot["executor_run_s"] / max(1e-9, window * cores),
            "caching.release_result_s": self.release_s / n,
            "caching.leaked_rdds": self.leaked_rdds / n,
        }

    def summary(self) -> dict:
        samples = [w for ws in self.walls.values() for w in ws]
        if not samples:
            raise RuntimeError("no query completed: " + "; ".join(self.errors[:3]))
        tail_v, tail_p, tail_n = stats.tail(samples)
        return {
            "pass_s": sum(stats.median(ws) for ws in self.walls.values() if ws),
            "query_p50_s": stats.median(samples),
            "query_tail_s": tail_v,
            "query_tail_pct": tail_p,
            "query_tail_beyond": tail_n,
            "query_samples": len(samples),
            "passes": len(self.passes),
            "first_pass_s": self.first_pass_s,
            "pass_walls_s": self.passes,
            "per_query_median_s": {n: stats.median(w) for n, w in self.walls.items()},
        }
