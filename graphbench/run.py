"""Graph-operator benchmark: per-call latency and throughput of the public
``polars_grouper_spark`` operators, with per-layer metrics in a traced run.

Usage (from the repository root)::

    python3 graphbench/run.py --workload graph_tiered --seed 1 --seconds 8 --trace 0

One process, one client, closed loop: each operator call reads its input
through ``sources.load_table``, is forced to completion by an
order-insensitive digest over all its output columns, and only then is the
next call issued.  Set-up (session start, input generation, warm-up) is
timed once, before the window.  After the
measured window, the last output of every call kind is collected and
checked against an independent reference (``oracle.py``); every call whose
digest differs from that checked output counts as failed.

``--trace 1`` additionally diffs the Spark status store around every call
(``status.py``) and rebinds package names to count tier and iteration work
(``hooks.py``); it prints the per-layer metrics instead of the end-to-end
ones.  The last line of stdout is one JSON object.  See README.md for the
workloads and for which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("graph_tiered", "graph_iterative", "assoc_mining")
PR_ITERATIONS = 10
ASSOC = {"min_support": 0.002, "min_confidence": 0.005, "max_itemset_size": 50}
FLOAT_DIGEST_REL_TOL = 1e-9
OPERATORS = (
    "components",
    "super_merger",
    "calculate_shortest_path",
    "page_rank_nodes",
    "graph_association_rules",
)


@dataclass
class Call:
    """One kind of operator call in a workload's closed-loop mix."""

    label: str
    fn: str
    table: str
    kwargs: dict = field(default_factory=dict)


def call_mix(workload: str, sources: list[str]) -> list[Call]:
    if workload == "graph_tiered":
        return [
            Call("components", "components", "power_law"),
            Call("super_merger", "super_merger", "power_law"),
            Call("shortest_path", "calculate_shortest_path", "power_law",
                 {"sources": sources}),
        ]
    if workload == "graph_iterative":
        pr = {"max_iterations": PR_ITERATIONS, "convergence_threshold": 0.0}
        return [
            Call("cc_power_law", "components", "power_law", {"max_local_edges": 0}),
            Call("pr_power_law", "page_rank_nodes", "power_law", pr),
            Call("cc_uniform", "components", "uniform", {"max_local_edges": 0}),
            Call("pr_uniform", "page_rank_nodes", "uniform", pr),
        ]
    if workload == "assoc_mining":
        return [
            Call("rules_unweighted", "graph_association_rules", "baskets",
                 dict(ASSOC, weighted=False, with_patterns=True)),
            Call("rules_weighted", "graph_association_rules", "baskets",
                 dict(ASSOC, weighted=True, with_patterns=True)),
        ]
    raise ValueError(f"unknown workload {workload!r}")


def configure_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"
        ),
    })


def digest(df) -> tuple:
    """(rows, sum of row hashes over the non-float columns, then per float
    column its sum and a row-hash-weighted sum).  Order-insensitive, uses
    every output column, and counts duplicate rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    floats = [f.name for f in df.schema.fields if isinstance(f.dataType, (DoubleType, FloatType))]
    exact = [F.col(f.name) for f in df.schema.fields if f.name not in floats]
    h = F.xxhash64(*exact)
    aggs = [F.count(F.lit(1)), F.sum(h.cast("decimal(20,0)"))]
    for c in floats:
        aggs += [F.sum(c), F.sum(F.col(c) * (h.bitwiseAND(1023) + 1))]
    return tuple(df.agg(*aggs).collect()[0])


def same_digest(a: tuple, b: tuple) -> bool:
    return a[:2] == b[:2] and all(
        x == y or (x is not None and y is not None
                   and math.isclose(x, y, rel_tol=FLOAT_DIGEST_REL_TOL, abs_tol=1e-12))
        for x, y in zip(a[2:], b[2:])
    )


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the VM's busy CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic that still has ten
    samples above it.  Below 21 samples that statistic would sit under the
    median, so the maximum is reported instead."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.data_dir = os.path.join(work, "data")
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        """Session start, input generation and warm-up; timing of the
        measured window starts after it."""
        import inputs
        import polars_grouper_spark as pgs

        t0 = time.perf_counter()
        self.spark = pgs.get_spark("graphbench")
        t1 = time.perf_counter()
        self.tables = inputs.tables(self.workload, self.seed)
        self.input_digests = inputs.write(self.tables, self.data_dir)
        self.sp_sources = (
            inputs.shortest_path_sources(self.tables["power_law"], self.seed)
            if "power_law" in self.tables else []
        )
        self.mix = call_mix(self.workload, self.sp_sources)
        t2 = time.perf_counter()
        # One call per operator on the measured inputs compiles its plans;
        # the calls are fixed-cost bound, so this costs little more than
        # warming up on a smaller input.
        warmed = set()
        for call in self.mix:
            if call.fn not in warmed:
                warmed.add(call.fn)
                digest(self.invoke(call, self.data_dir))
        for name in self.tables:  # reader handles of every measured input
            self.load(name, self.data_dir)
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rows = {name: tab.num_rows for name, tab in self.tables.items()}
        return {"setup_s": t3 - t0, "session.start_s": t1 - t0, "session.warmup_s": t3 - t2}

    def load(self, table: str, data_dir: str):
        from polars_grouper_spark import sources

        return sources.load_table(self.spark, table, data_dir)

    def invoke(self, call: Call, data_dir: str):
        import polars_grouper_spark as pgs

        return getattr(pgs, call.fn)(self.load(call.table, data_dir), **call.kwargs)

    # -- measured window ------------------------------------------------
    def measure(self) -> list[dict]:
        """Closed loop over the call mix until ``seconds`` have passed and
        every call kind ran at least once."""
        import polars_grouper_spark as pgs

        if self.trace:
            import hooks
            import status

            store = status.StatusStore(self.spark)
            tracer = hooks.Hooks(self.spark)
            tracer.install()
            snap = store.snapshot()
        records = []
        self.last = {}
        deadline = time.perf_counter() + self.seconds
        i = 0
        try:
            while time.perf_counter() < deadline or i < len(self.mix):
                call = self.mix[i % len(self.mix)]
                i += 1
                rec = {"label": call.label, "fn": call.fn, "rows": self.rows[call.table]}
                if self.trace:
                    tracer.begin()
                w0, t0 = time.time(), time.perf_counter()
                t_load = 0.0
                try:
                    df = self.load(call.table, self.data_dir)
                    t_load = time.perf_counter() - t0
                    out = getattr(pgs, call.fn)(df, **call.kwargs)
                    rec["digest"] = digest(out)
                    self.last[call.label] = (out, rec["digest"])
                except Exception:  # a failed call is counted, the loop goes on
                    traceback.print_exc(file=sys.stderr)
                    rec["digest"] = None
                rec["wall_s"] = time.perf_counter() - t0
                w1 = time.time()
                if self.trace:
                    counts = tracer.end()
                    after = store.snapshot()
                    rec["layers"] = {**status.window_layers(snap, after, w0, w1), **counts,
                                     "sources.load_table_s": t_load}
                    snap = after
                records.append(rec)
        finally:
            if self.trace:
                tracer.uninstall()
        return records

    # -- correctness ----------------------------------------------------
    def verify(self, records: list[dict]) -> dict[str, str | None]:
        """Check the last output of every call kind against its reference;
        returns label -> mismatch (None when it agrees) and marks calls
        whose digest differs from the checked output as failed."""
        problems = {}
        for call in self.mix:
            if call.label not in self.last:
                problems[call.label] = "no successful call"
                continue
            problems[call.label] = self.check(call, self.last[call.label][0].toPandas())
        if self.workload == "graph_iterative":
            problems["cross_tier"] = self.check_cross_tier()
        good = {
            label: self.last[label][1]
            for label, p in problems.items() if p is None and label in self.last
        }
        for rec in records:
            ref = good.get(rec["label"])
            rec["ok"] = (rec["digest"] is not None and ref is not None
                         and same_digest(rec["digest"], ref))
        return problems

    def check(self, call: Call, out) -> str | None:
        import oracle

        tab = self.tables[call.table]
        if call.fn == "components":
            return oracle.check_components(out, tab)
        if call.fn == "super_merger":
            return oracle.check_super_merger(out, tab)
        if call.fn == "calculate_shortest_path":
            return oracle.check_shortest_path(out, tab, self.sp_sources)
        if call.fn == "page_rank_nodes":
            return oracle.check_pagerank(out, tab, PR_ITERATIONS)
        want = oracle.association_rules(
            os.path.join(self.data_dir, f"{call.table}.parquet"),
            call.kwargs["weighted"], ASSOC["min_support"],
            ASSOC["min_confidence"], ASSOC["max_itemset_size"],
        )
        return oracle.check_association_rules(out, want)

    def check_cross_tier(self) -> str | None:
        """``components`` on the power-law graph at the default guard (the
        driver-local tier graph_tiered times, on the identical generated
        table) must give the distributed star loop's digest."""
        local = digest(self.invoke(Call("cc_local", "components", "power_law"), self.data_dir))
        dist = self.last["cc_power_law"][1] if "cc_power_law" in self.last else None
        if dist is None or not same_digest(local, dist):
            return f"components digest differs across tiers: local {local}, distributed {dist}"
        return None

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # the JVM ignored EOF
                proc.kill()
                proc.wait(timeout=30)


def by_kind(records: list[dict], value) -> dict[str, list[float]]:
    kinds: dict[str, list[float]] = {}
    for rec in records:
        kinds.setdefault(rec["label"], []).append(value(rec))
    return kinds


def per_kind(records: list[dict], value) -> float:
    """Median of ``value(rec)`` per call kind, averaged over the kinds: where
    the run stops in the mix does not move it."""
    return statistics.fmean(
        statistics.median(v) for v in by_kind(records, value).values())


def end_to_end(records, setup, driver_peak_mb) -> dict:
    walls = [r["wall_s"] for r in records]
    tail_s, pct = tail(walls)
    elapsed = sum(walls)
    ok = sum(r["ok"] for r in records)
    kinds = by_kind(records, lambda r: r["wall_s"])
    print(f"# call_tail_s is p{pct:.1f} of {len(walls)} calls; "
          f"failed_frac {1 - ok / len(records):.4f}; per-kind median s "
          + " ".join(f"{k}={statistics.median(v):.3f}x{len(v)}" for k, v in kinds.items()))
    return {
        "call_p50_s": (per_kind(records, lambda r: r["wall_s"]), "s"),
        "call_tail_s": (tail_s, "s"),
        "rows_per_s": (sum(r["rows"] for r in records) / elapsed, "1/s"),
        "ok_frac": (ok / len(records), "ratio"),
        "setup_s": (setup["setup_s"], "s"),
        "driver_peak_rss_mb": (driver_peak_mb, "MB"),
    }


# Ratio metrics: (numerator counter, denominator counter).  Each is the
# ratio of the per-kind sums, so kinds where it is undefined (no guard, no
# fingerprint round) do not count as zeros.
RATIOS = {
    "plans.tiering.local_frac": ("plans.tiering.local", "plans.tiering.guards"),
    "plans.iteration.useful_round_frac": (
        "plans.iteration.useful_rounds", "plans.iteration.rounds"),
}
RATIO_ONLY = {"plans.tiering.local", "plans.tiering.guards", "plans.iteration.useful_rounds"}


def per_layer(records, setup) -> dict:
    out = {
        "session.start_s": (setup["session.start_s"], "s"),
        "session.warmup_s": (setup["session.warmup_s"], "s"),
    }
    units = {"bytes": "B", "rows": "count", "_s": "s"}
    for key in records[0]["layers"]:
        if key in RATIO_ONLY:
            continue
        unit = next((u for suffix, u in units.items() if key.endswith(suffix)), "count")
        out[key] = (per_kind(records, lambda r: r["layers"][key]), unit)
    for name, (num, den) in RATIOS.items():
        total = per_kind(records, lambda r: r["layers"][den])
        out[name] = (per_kind(records, lambda r: r["layers"][num]) / total if total else 0.0,
                     "ratio")
    for fn in OPERATORS:
        mine = [r for r in records if r["fn"] == fn]
        out[f"operators.{fn}.call_s"] = (
            per_kind(mine, lambda r: r["wall_s"]) if mine else 0.0, "s")
    out["tracer.call_p50_s"] = (per_kind(records, lambda r: r["wall_s"]), "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "polars_grouper_spark", "__init__.py")):
        print(f"graphbench: no polars_grouper_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", str(os.getpid()))
    configure_environment(work)
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    phases = [time.perf_counter()]
    try:
        setup = bench.setup()
        phases.append(time.perf_counter())
        cpu0 = cpu_times()
        records = bench.measure()
        steal = steal_share(cpu0, cpu_times())
        phases.append(time.perf_counter())
        # Peak of set-up and the measured window, before the reference
        # checks load their own data.
        driver_peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        problems = bench.verify(records)
        phases.append(time.perf_counter())
        metrics = (per_layer(records, setup) if args.trace
                   else end_to_end(records, setup, driver_peak_mb))
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    phases.append(time.perf_counter())
    print("# phases_s " + " ".join(
        f"{name}={b - a:.1f}" for name, a, b in
        zip(("setup", "measure", "verify", "stop"), phases, phases[1:]))
        + f"; cpu steal {100 * steal:.0f}% of busy time in the window")
    for label, problem in problems.items():
        if problem is not None:
            print(f"# MISMATCH {label}: {problem}", file=sys.stderr)
    failed = sum(not r["ok"] for r in records)
    import inputs

    print("# inputs sha256 " + json.dumps(bench.input_digests, sort_keys=True)
          + " max/mean degree " + json.dumps({
              name: round(inputs.degree_skew(tab), 1)
              for name, tab in bench.tables.items() if "from" in tab.column_names}))
    print(json.dumps({
        "correct": failed == 0 and all(p is None for p in problems.values()),
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
