"""Driver-side timing of the pandas extractor battery, no Spark involved.

For each kind, a fixed seeded batch of the workload's documents runs
through the public pieces of ``engine.pipeline``:

* ``extract_kind_batch`` as a whole,
* the kind's preparer alone,
* each batch extractor alone, on the prepared frame,
* ``apply_valuable_filter`` on the batch's triples.

``assemble`` is what ``extract_kind_batch`` spends outside the preparer and
the extractors (flatten, value rendering and frame build).  Each part is
the median of ``repeats`` timings, reported in seconds per 1000 documents.
"""

from __future__ import annotations

import time

import pandas as pd

from literature_to_facts_spark.engine.kinds import classify_url
from literature_to_facts_spark.engine.pipeline import apply_valuable_filter, extract_kind_batch
from literature_to_facts_spark.extractors.arxiv import ARXIV_BATCH_EXTRACTORS, prepare_arxiv
from literature_to_facts_spark.extractors.atel import ATEL_BATCH_EXTRACTORS, prepare_atel
from literature_to_facts_spark.extractors.gcn import GCN_BATCH_EXTRACTORS, prepare_gcn

from kgbench.stats import median

# kind -> (preparer, batch extractors), as engine.pipeline runs them
KINDS = {
    "gcn": (prepare_gcn, GCN_BATCH_EXTRACTORS),
    "atel": (prepare_atel, ATEL_BATCH_EXTRACTORS),
    "arxiv": (prepare_arxiv, ARXIV_BATCH_EXTRACTORS),
}


def _time(fn, repeats: int) -> tuple[float, object]:
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


def kind_batches(docs: pd.DataFrame, batch: int, seed: int) -> dict[str, pd.DataFrame]:
    kinds = docs["url"].map(classify_url)
    out = {}
    for kind in KINDS:
        sub = docs[kinds == kind][["url", "text"]].assign(kind=kind)
        if len(sub) > batch:
            sub = sub.sample(n=batch, random_state=seed)
        out[kind] = sub.reset_index(drop=True)
    return out


def time_battery(docs: pd.DataFrame, sides, named: dict[str, list[str]],
                 batch: int, seed: int, repeats: int = 3) -> dict[str, float]:
    """Per-layer battery metrics (``extractors.*`` and ``engine.pipeline.*``)."""
    m: dict[str, float] = {}
    assemble = valuable = 0.0
    n_total = 0
    for kind, sub in kind_batches(docs, batch, seed).items():
        kdoc = len(sub) / 1000.0
        n_total += len(sub)
        if not len(sub):
            m[f"extractors.{kind}.prepare_s_per_kdoc"] = 0.0
            m.update({f"extractors.{kind}.{e}_s_per_kdoc": 0.0 for e in named[kind]})
            m[f"extractors.{kind}.other_s_per_kdoc"] = 0.0
            continue
        t_total, (triples, _) = _time(lambda: extract_kind_batch(kind, sub, sides), repeats)
        prepare, extractors = KINDS[kind]
        t_prep, (prep, _) = _time(lambda: prepare(sub), repeats)
        per_ext = {
            spec.name: _time(lambda: spec.fn(prep, sides), repeats)[0]
            for spec in extractors
        }
        t_valuable, _ = _time(lambda: apply_valuable_filter(triples), repeats)
        m[f"extractors.{kind}.prepare_s_per_kdoc"] = t_prep / kdoc
        for name in named[kind]:
            m[f"extractors.{kind}.{name}_s_per_kdoc"] = per_ext[name] / kdoc
        m[f"extractors.{kind}.other_s_per_kdoc"] = sum(
            t for name, t in per_ext.items() if name not in named[kind]
        ) / kdoc
        assemble += t_total - t_prep - sum(per_ext.values())
        valuable += t_valuable
    m["engine.pipeline.assemble_s_per_kdoc"] = assemble / (n_total / 1000.0)
    m["engine.pipeline.valuable_filter_s_per_kdoc"] = valuable / (n_total / 1000.0)
    return m


def extractor_shares(docs: pd.DataFrame, sides, batch: int, seed: int) -> dict[str, dict[str, float]]:
    """Each extractor's share of its kind's extractor time: how the named
    extractors in ``spec.BATTERY_EXTRACTORS`` were chosen (>= 2%)."""
    out = {}
    for kind, sub in kind_batches(docs, batch, seed).items():
        prepare, extractors = KINDS[kind]
        prep, _ = prepare(sub)
        t = {s.name: _time(lambda: s.fn(prep, sides), 3)[0] for s in extractors}
        total = sum(t.values())
        out[kind] = {k: v / total for k, v in sorted(t.items(), key=lambda kv: -kv[1])}
    return out
