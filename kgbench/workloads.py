"""Staging, the build pass, the read round and the delta tick.

Every call into a layer's public function goes through ``ctx.tracer.call``
under the layer's metric prefix; with tracing off that is a plain call.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from literature_to_facts_spark.engine.canonicalize import canonical_entities
from literature_to_facts_spark.engine.contemplate import (
    counterpart_matches,
    counterpart_summary,
    grb_reaction_summary,
)
from literature_to_facts_spark.engine.delta import delta_reextract
from literature_to_facts_spark.engine.graph import read_triples, write_triples
from literature_to_facts_spark.engine.kgquery import predicate_stats, star_join_ordered
from literature_to_facts_spark.engine.kinds import GCN_URL_PREFIX, classify_url
from literature_to_facts_spark.engine.linking import LINK_PRED, link_entities, link_triples
from literature_to_facts_spark.engine.pipeline import (
    extract_triples,
    make_sides,
    relevant_docs,
)
from literature_to_facts_spark.sources.corpus import build_bench_documents, build_corpus
from literature_to_facts_spark.datapipe.storage import snapshot_diff
from literature_to_facts_spark.streaming.incremental import (
    read_all_triples,
    run_incremental,
)

from kgbench.spec import FILES_PER_SLOT, QUERIES
from kgbench.trace import Tracer

QUERY_LAYER = {fn: layer for layer, fn in QUERIES}
STAR_PREDS = ["DATE", "instrument", "mentions_named_grb"]
# appended to each changed circular on the odd graph state: one more named
# GRB, so the tick changes mention, link and query results
SLICE_SUFFIX = "\nA second burst, GRB 210101A, was also detected."


class Ops:
    """Operation accounting: every bucket commit, layer call, query, tick
    and output check is one attempt.  A mismatch is one failure, reported on
    stderr; a raise is counted, printed and re-raised, so the run ends
    without a result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"[kgbench] {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[kgbench] check failed: {name} {detail}", file=sys.stderr)
        return ok


@dataclass
class Ctx:
    spark: object
    slots: int
    work: Path
    tracer: Tracer
    ops: Ops
    spec: dict
    seed: int
    docs_pd: pd.DataFrame = None
    sides: object = None
    gazetteer_pd: pd.DataFrame = None
    shim_sides: object = None
    tables: dict = field(default_factory=dict)  # version -> staged parquet dir
    slice_urls: set = field(default_factory=set)  # graph_serve's changed docs
    docs_v1: pd.DataFrame = None  # graph_serve's second version
    gaz: object = None
    _n: int = 0

    def fresh_dir(self, prefix: str) -> Path:
        self._n += 1
        return self.work / f"{prefix}-{self._n}"


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------

def generate(spec: dict, seed: int):
    """(documents, corpus-with-side-tables) for a workload and seed."""
    if spec["generator"] == "build_bench_documents":
        docs = build_bench_documents(spec["docs"], seed=seed)
        corpus = build_corpus(n_docs=0, seed=seed, dense=True)
    else:
        corpus = build_corpus(n_docs=spec["docs"], seed=seed)
        docs = corpus.documents.copy()
        docs["warc_ts"] = docs["warc_ts"].astype("datetime64[us]")
    return docs, corpus


def write_table(docs: pd.DataFrame, path: Path, n_files: int) -> None:
    """Stage a documents table as ``n_files`` parquet files, rows dealt
    round-robin so every file holds the same kind mix."""
    path.mkdir(parents=True)
    for i in range(n_files):
        docs.iloc[i::n_files].to_parquet(path / f"part-{i:03d}.parquet", index=False)


def changed_slice(docs: pd.DataFrame, every: int) -> pd.Series:
    """Mask of the GCN circulars that change on a tick: every ``every``-th."""
    is_gcn = docs["url"].str.startswith(GCN_URL_PREFIX)
    pos = is_gcn.cumsum()
    return is_gcn & (pos % every == 0)


def stage(ctx: Ctx) -> None:
    """Generate the seeded corpus and write it (and, for graph_serve, the
    second version of the changed slice) as parquet tables."""
    from literature_to_facts_spark.shim.reference_shim import SideTables

    spec = ctx.spec
    n_files = ctx.slots * FILES_PER_SLOT
    docs, corpus = generate(spec, ctx.seed)
    ctx.docs_pd = docs
    ctx.sides = make_sides(corpus.balrog, corpus.amon_notices, corpus.ads_authors)
    ctx.gazetteer_pd = corpus.gazetteer
    ctx.shim_sides = SideTables(
        balrog={r["url_json"]: r for _, r in corpus.balrog.iterrows()},
        amon_notices={r["url"]: r["notice_text"] for _, r in corpus.amon_notices.iterrows()},
        ads_authors={r["subject"]: r["gcn_authors"] for _, r in corpus.ads_authors.iterrows()},
    )
    root = ctx.fresh_dir("stage")
    ctx.tables = {"v0": root / "v0"}
    write_table(docs, ctx.tables["v0"], n_files)
    if "slice_every" in spec:
        v1 = docs.copy()
        m = changed_slice(v1, spec["slice_every"])
        v1.loc[m, "text"] = v1.loc[m, "text"] + SLICE_SUFFIX
        v1.loc[m, "html"] = v1.loc[m, "text"].str.encode("utf-8")
        ctx.tables["v1"] = root / "v1"
        ctx.slice_urls = set(v1.loc[m, "url"])
        ctx.docs_v1 = v1
        write_table(v1, ctx.tables["v1"], n_files)


def cache_gazetteer(ctx: Ctx):
    """The entity gazetteer as a cached Spark frame (the linking side)."""
    gaz = ctx.spark.createDataFrame(ctx.gazetteer_pd).cache()
    gaz.count()
    return gaz


def read_table(ctx: Ctx, version: str = "v0"):
    return ctx.spark.read.parquet(str(ctx.tables[version]))


# ---------------------------------------------------------------------------
# the build pass
# ---------------------------------------------------------------------------

def build_pass(ctx: Ctx, docs, out: Path) -> None:
    """The deployable build: bucketed incremental extraction with its
    ledger, then entity linking, salted canonicalization and the
    pred-partitioned graph write.  Each layer call is one action."""
    tr, spark = ctx.tracer, ctx.spark
    tr.call(
        "streaming.incremental.run_incremental", run_incremental,
        spark, docs, str(out), ctx.sides, n_buckets=ctx.spec["buckets"],
    )
    triples = read_all_triples(spark, str(out))
    links = link_entities(triples, ctx.gaz).cache()
    tr.call("engine.linking.link_entities", links.count)
    tr.call(
        "engine.canonicalize.canonical_entities",
        lambda: canonical_entities(links).write.parquet(str(out / "entities")),
    )
    tr.call(
        "engine.graph.write_triples", write_triples,
        triples.unionByName(link_triples(links)), str(out / "graph"),
    )
    links.unpersist()


# ---------------------------------------------------------------------------
# the read round
# ---------------------------------------------------------------------------

QUERY_FNS = {
    "counterpart_summary": lambda g: counterpart_summary(counterpart_matches(g)),
    "grb_reaction_summary": grb_reaction_summary,
    "predicate_stats": predicate_stats,
    "star_join_ordered": lambda g: star_join_ordered(g, STAR_PREDS),
}


def run_query(ctx: Ctx, fn: str, graph_dir: Path) -> pd.DataFrame:
    """One query over the committed graph, consumed to the driver."""
    g = read_triples(ctx.spark, str(graph_dir))
    return ctx.tracer.call(f"{QUERY_LAYER[fn]}.{fn}", lambda: QUERY_FNS[fn](g).toPandas())


# ---------------------------------------------------------------------------
# the delta tick (graph_serve)
# ---------------------------------------------------------------------------

def extract_with_links(ctx: Ctx, docs):
    """The graph rows a build derives from ``docs``: extracted triples plus
    their entity-link triples."""
    t = extract_triples(ctx.spark, docs, ctx.sides)
    return t.unionByName(link_triples(link_entities(t, ctx.gaz)))


def delta_tick(ctx: Ctx, old_version: str, new_version: str, old_graph: Path, new_graph: Path) -> int:
    """Diff the two snapshots, re-extract only the changed documents into
    a new graph and rewrite it where the next reads look.  Returns the new
    graph's row count as the delta computed it."""
    spark, tr = ctx.spark, ctx.tracer
    old_docs, new_docs = read_table(ctx, old_version), read_table(ctx, new_version)
    diff = snapshot_diff(old_docs, new_docs, id_col="url", text_col="text")
    registry: list = []
    new = delta_reextract(
        read_triples(spark, str(old_graph)), diff, new_docs,
        lambda d: extract_with_links(ctx, d), id_col="url", cache_registry=registry,
    ).cache()
    try:
        n = tr.call("engine.delta.delta_reextract", new.count)
        tr.call("engine.graph.write_triples", write_triples, new, str(new_graph))
    finally:
        new.unpersist()
        for df in registry:
            df.unpersist()
    return n


# ---------------------------------------------------------------------------
# session and process helpers
# ---------------------------------------------------------------------------

def start_session(work: Path, slots: int):
    """A local[k] session with the engine's own defaults plus the settings
    that keep a benchmark run steady and inside its working directory."""
    from literature_to_facts_spark.config import get_spark

    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM (and with it
    the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def descendants(pid: int) -> list[int]:
    """Process ids below ``pid`` (the JVM, the Python daemon and workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def workers_peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over the JVM and the Python
    workers, i.e. every descendant of this process."""
    total_kb = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue  # exited between listing and reading
    return total_kb / 1024.0


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    r = fn(*args, **kwargs)
    return time.perf_counter() - t0, r


def parity_sample(docs: pd.DataFrame, every: int, seed: int) -> pd.DataFrame:
    """Golden documents plus every ``every``-th relevant document from a
    seeded offset: the rows the shim parity check runs on."""
    from literature_to_facts_spark.sources.corpus import (
        GOLDEN_ARXIV,
        GOLDEN_ATELS,
        GOLDEN_GCNS,
    )

    # both generators add the golden documents first
    n_golden = len(GOLDEN_GCNS) + len(GOLDEN_ATELS) + len(GOLDEN_ARXIV)
    relevant = (docs["url"].map(classify_url) != "other").to_numpy()
    pos = pd.RangeIndex(len(docs)).to_numpy()
    off = random.Random(seed).randrange(every)
    pick = relevant & ((pos < n_golden) | (relevant.cumsum() % every == off))
    return docs[pick]


