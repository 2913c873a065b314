"""Run one workload of the knowledge-graph benchmark.

    python3 kgbench/run.py --workload dense_circulars --seed 7 --seconds 5 --trace 0

Stages the workload's corpus from ``--seed``, sets up (session start,
staging, one untimed warm commit), then runs closed-loop cycles with one
client for ``--seconds`` (at least ``MIN_CYCLES``).  A cycle is one commit
followed by the workload's read round:

* ``dense_circulars`` commits a full build of the staged table;
* ``graph_serve`` commits a delta tick over the graph built during set-up.

Output checks run outside the timed regions.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from kgbench import spec as S  # noqa: E402  (needs ROOT on sys.path)
from kgbench import stats  # noqa: E402

MIN_CYCLES = 1


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in S.WORKLOADS])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=S.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark process: set-up, the timed cycles, the checks."""

    def __init__(self, args, work: Path):
        from kgbench import workloads as W
        from kgbench.trace import Tracer

        self.W = W
        self.args = args
        self.spec = S.workload(args.workload)
        self.serve = "slice_every" in self.spec
        self.slots = max(1, min(S.SLOTS, os.cpu_count() or 1))
        self.work = work
        self.off = Tracer(None)
        self.ops = W.Ops()
        self.commit_s: list[float] = []
        self.commit_traced: list[bool] = []
        self.query_s: list[float] = []
        self.round_s: list[float] = []
        self.expected: dict = {}
        self.out: Path | None = None  # the build whose graph the reads see

    # -- set-up --------------------------------------------------------------

    def setup(self) -> float:
        """Set-up time: session start, the median of three stagings, the
        first Spark job (caching the gazetteer) and one warm cycle
        (graph_serve: the initial build first)."""
        from kgbench.trace import Tracer

        W = self.W
        t_session, spark = W.timed(W.start_session, self.work, self.slots)
        self.on = Tracer(spark, self.slots) if self.args.trace else self.off
        self.ctx = W.Ctx(
            spark=spark, slots=self.slots, work=self.work, tracer=self.off,
            ops=self.ops, spec=self.spec, seed=self.args.seed,
        )
        # staging is the part of set-up a process can repeat afresh
        stage_s = []
        for _ in range(3):
            old = self.ctx.tables.get("v0")
            stage_s.append(W.timed(W.stage, self.ctx)[0])
            if old is not None:
                shutil.rmtree(old.parent)
        self.docs = W.read_table(self.ctx)
        t_gaz, self.ctx.gaz = W.timed(W.cache_gazetteer, self.ctx)
        t_warm = t_gaz
        if self.serve:
            base = self.ctx.fresh_dir("base")
            # traced runs trace the initial crawl-mix build and its checks
            self.ctx.tracer = self.on
            t_warm += W.timed(self.ops.run, "initial build", W.build_pass, self.ctx, self.docs, base)[0]
            self.check_build(base)
            self.ctx.tracer = self.off
            self.graphs = [base / "graph", self.ctx.fresh_dir("graph-state1")]
            self.state = 0
        t_warm += W.timed(self.ops.run, "warm commit", self.commit)[0]
        t_warm += W.timed(self.read_round)[0]
        self.query_s.clear()
        return t_session + stats.median(stage_s) + t_warm

    # -- the closed loop -----------------------------------------------------

    def commit(self) -> None:
        W, ctx = self.W, self.ctx
        if self.serve:
            s, t = self.state, 1 - self.state
            self.tick_rows = W.delta_tick(ctx, f"v{s}", f"v{t}", self.graphs[s], self.graphs[t])
            self.state = t
        else:
            self.out = ctx.fresh_dir("pass")
            W.build_pass(ctx, self.docs, self.out)

    def graph(self) -> Path:
        return self.graphs[self.state] if self.serve else self.out / "graph"

    def cycle(self) -> None:
        W, tr = self.W, self.ctx.tracer
        prev = self.out
        t_commit, _ = W.timed(self.ops.run, "commit", tr.span, "commit", self.commit)
        self.commit_s.append(t_commit)
        self.commit_traced.append(tr.on)
        if prev is not None and not self.serve:
            shutil.rmtree(prev)
        self.round_s.append(self.read_round())

    def read_round(self) -> float:
        """Run and check the workload's queries; returns their total time."""
        results = []
        for fn in self.spec["reads"]:
            t, res = self.W.timed(self.ops.run, fn, self.W.run_query, self.ctx, fn, self.graph())
            self.query_s.append(t)
            results.append((fn, res))
        self.check_reads(results)
        return sum(self.query_s[-len(results):])

    def window(self) -> None:
        start = time.perf_counter()
        i = 0
        # a traced run needs a traced and an untraced cycle
        min_cycles = MIN_CYCLES + self.args.trace
        while i < min_cycles or time.perf_counter() - start < self.args.seconds:
            # a traced run alternates traced and untraced cycles, so it can
            # report the tracer's own overhead
            self.ctx.tracer = self.on if i % 2 == 0 else self.off
            self.cycle()
            i += 1
        self.ctx.tracer = self.off

    # -- checks --------------------------------------------------------------

    def relevant_count(self) -> int:
        if not hasattr(self, "_relevant"):
            self._relevant = self.ops.run(
                "relevant_docs", self.ctx.tracer.call, "engine.pipeline.relevant_docs",
                self.W.relevant_docs(self.docs).count,
            )
        return self._relevant

    def extract_count(self) -> int:
        if not hasattr(self, "_n_ext"):
            self._n_ext = self.ops.run(
                "extract_triples", self.ctx.tracer.call, "engine.pipeline.extract_triples",
                self.W.extract_triples(self.ctx.spark, self.docs, self.ctx.sides).count,
            )
        return self._n_ext

    def check_build(self, out: Path) -> None:
        """Every check of one committed build: the ledger, the triple,
        link and graph row counts, and shim parity on a seeded sample."""
        from kgbench import checks

        W, ctx, ops, n_buckets = self.W, self.ctx, self.ops, self.spec["buckets"]
        facts = checks.build_facts(str(out), ctx.gazetteer_pd)
        ops.attempted += n_buckets  # bucket commits, verified by the ledger
        ops.failed += len(set(range(n_buckets)) - set(facts["ledger_buckets"]))
        ops.check("ledger has one row per bucket",
                  facts["ledger_buckets"] == list(range(n_buckets)), str(facts["ledger_buckets"]))
        relevant = self.relevant_count()
        ops.check("ledger docs_in sums to the relevant docs",
                  facts["ledger_docs_in"] == relevant, f"{facts['ledger_docs_in']} != {relevant}")
        n_ext = self.extract_count()
        ops.check("committed triples == extract_triples count",
                  facts["triples"] == n_ext, f"{facts['triples']} != {n_ext}")
        ops.check("graph link rows == links the gazetteer predicts",
                  facts["graph_links"] == facts["expected_links"],
                  f"{facts['graph_links']} != {facts['expected_links']}")
        ops.check("graph rows == triples + link rows",
                  facts["graph"] == facts["triples"] + facts["graph_links"],
                  f"{facts['graph']} != {facts['triples']} + {facts['graph_links']}")
        sample = W.parity_sample(ctx.docs_pd, every=25, seed=self.args.seed)
        triples = W.read_all_triples(ctx.spark, str(out))
        ops.check("shim parity on the sample", *checks.parity(triples, sample, ctx.shim_sides))
        self.graph_rows, self.graph_bytes = facts["graph"], facts["bytes"]

    def check_reads(self, results) -> None:
        """Each result equals DuckDB's recompute over the graph it read;
        graph_serve also checks the tick's graph row count."""
        from kgbench import checks

        graph = self.graph()
        if str(graph) not in self.expected:
            if not self.serve:
                self.expected.clear()  # each pass writes a new directory
            self.expected[str(graph)] = checks.duckdb_expected(
                str(graph), self.spec["reads"], self.W.STAR_PREDS
            )
        want = self.expected[str(graph)]
        for fn, res in results:
            got = checks.spark_rows(fn, res)
            self.ops.check(f"{fn} matches DuckDB", got == want[fn],
                           f"{len(got)} vs {len(want[fn])} rows")
        if self.serve:
            n = checks.graph_rows(str(graph))
            self.ops.check("tick rows == committed graph rows", n == self.tick_rows,
                           f"{n} != {self.tick_rows}")

    def check_serve_states(self) -> None:
        """The two graph states agree outside the changed slice, and the
        slice's triples in the odd state match the shim on the new text."""
        from pyspark.sql import functions as F

        from kgbench import checks

        W, ctx = self.W, self.ctx
        urls = ctx.slice_urls
        self.ops.check("tick keeps unchanged documents' triples",
                       checks.unchanged_equal(str(self.graphs[0]), str(self.graphs[1]), urls))
        v1 = ctx.docs_v1
        g1 = W.read_triples(ctx.spark, str(self.graphs[1])).where(F.col("pred") != W.LINK_PRED)
        self.ops.check("shim parity on the changed slice",
                       *checks.parity(g1, v1[v1["url"].isin(urls)], ctx.shim_sides))

    def final_checks(self) -> None:
        if self.serve:
            self.check_serve_states()
        else:
            self.check_build(self.out)

    # -- results ---------------------------------------------------------------

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        commit = stats.median(self.commit_s)
        if self.serve:
            docs, triples = len(self.ctx.slice_urls), self.tick_rows
        else:
            docs, triples = len(self.ctx.docs_pd), self.graph_rows
        n = len(self.query_s)
        if n > 10:
            value, pct, _ = stats.tail_percentile(self.query_s)
            tail = f"p{pct:.1f} = {value:.4f} s"
        else:
            tail = "n/a (needs more than 10 queries)"
        print(f"[kgbench] {len(self.commit_s)} commits, {n} queries "
              f"(p50 {stats.median(self.query_s):.4f} s, tail {tail})", file=sys.stderr)
        vals = {
            "setup_s": setup_s,
            "docs_per_s": docs / commit,
            "triples_per_s": triples / commit,
            "tick_s_p50": commit,
            "read_round_s": stats.median(self.round_s),
            "graph_bytes_per_triple": self.graph_bytes / self.graph_rows,
            "workers_peak_rss_mb": rss_mb,
        }
        return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in S.END_TO_END}

    def per_layer(self) -> dict:
        from kgbench import battery

        spans = self.on.spans
        calls: dict[str, list[dict]] = {}
        for sp in spans:
            if sp.group is not None:
                calls.setdefault(sp.name, []).append(sp.counters)

        def med(name: str, key: str) -> float:
            got = calls.get(name, [])
            return stats.median([c[key] for c in got]) if got else 0.0

        vals: dict[str, float] = {}
        for call in S.SPARK_CALLS:
            for c, _, _ in S.SPARK_COUNTERS:
                vals[f"{call}.{c}"] = med(call, c)
        inc, ext = "streaming.incremental.run_incremental", "engine.pipeline.extract_triples"
        vals["streaming.incremental.scan_rows_per_doc"] = med(inc, "scan_rows") / len(self.ctx.docs_pd)
        vals["streaming.incremental.overhead_ratio"] = (
            med(inc, "wall_s") / med(ext, "wall_s") if inc in calls and ext in calls else 0.0
        )
        for layer, fn in S.QUERIES:
            vals[f"{layer}.{fn}.wall_s"] = med(f"{layer}.{fn}", "wall_s")
        traced_cycles = max(1, sum(self.commit_traced))
        for layer in S.QUERY_LAYERS:
            got = [c for lay, fn in S.QUERIES if lay == layer for c in calls.get(f"{lay}.{fn}", [])]
            for c, _, _ in S.SPARK_COUNTERS[1:-1]:
                vals[f"{layer}.{c}"] = sum(g[c] for g in got) / traced_cycles
            wall = sum(g["wall_s"] for g in got)
            vals[f"{layer}.slot_util"] = (
                sum(g["executor_run_s"] for g in got) / (wall * self.slots) if wall else 0.0
            )
        vals.update(battery.time_battery(
            self.ctx.docs_pd, self.ctx.sides, S.BATTERY_EXTRACTORS, S.BATTERY_BATCH, self.args.seed,
        ))
        # what a traced commit spends outside the layer calls it makes
        commits = [i for i, sp in enumerate(spans) if sp.name == "commit"]
        vals["bench.commit_self_s"] = stats.median([
            stats.self_time((spans[i].start, spans[i].end),
                            [(c.start, c.end) for c in spans if c.parent == i])
            for i in commits
        ]) if commits else 0.0
        traced = [t for t, on in zip(self.commit_s, self.commit_traced) if on]
        plain = [t for t, on in zip(self.commit_s, self.commit_traced) if not on]
        vals["bench.trace_overhead_frac"] = (
            stats.median(traced) / stats.median(plain) - 1.0 if traced and plain else 0.0
        )
        return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in S.per_layer()}


def run(args, work: Path) -> dict:
    r = Run(args, work)
    setup_s = r.setup()
    r.window()
    rss_mb = r.W.workers_peak_rss_mb()
    if args.trace:
        # the check-phase calls give relevant_docs and extract_triples counters
        r.ctx.tracer = r.on
    r.final_checks()
    r.ctx.tracer = r.off
    metrics = r.per_layer() if args.trace else r.end_to_end(setup_s, rss_mb)
    r.W.stop_session(r.ctx.spark)
    return {
        "correct": r.ops.failed == 0,
        "attempted": r.ops.attempted,
        "failed": r.ops.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
