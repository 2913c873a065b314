"""Output checks, run outside the timed regions.

* Shim parity: the built triples of a seeded document sample are set-equal
  to ``shim.reference_shim`` output for the same documents (P = R = 1.0),
  compared the way ``tests/test_spark_parity.py`` compares them.
* Query results: each read-round result equals a DuckDB recompute of the
  same query over the committed graph's parquet files.
* Committed tables: ledger rows, triple and graph row counts and the
  expected entity-link count are read back with DuckDB, a reader
  independent of the Spark code under test.
"""

from __future__ import annotations

import math
from pathlib import Path
from urllib.parse import unquote

import duckdb
import numpy as np
import pandas as pd

from literature_to_facts_spark.engine.kinds import classify_url
from literature_to_facts_spark.engine.linking import LINK_PRED, MENTION_PREDS
from literature_to_facts_spark.functions.literals import PAPER_NS
from literature_to_facts_spark.shim import reference_shim as rs


def shim_triples(docs: pd.DataFrame, shim_sides) -> tuple[set, set]:
    """(subjects, triples) the reference shim derives from ``docs``."""
    subjects, out = set(), set()
    for url, text in zip(docs["url"], docs["text"]):
        kind = classify_url(url)
        try:
            doc = rs.decode_doc(kind, text)
            cid, triples = rs.extract_doc_facts(kind, doc, shim_sides)
        except rs.IdentityError:
            continue  # unprocessable document: no subject, no facts
        subjects.add(f"{PAPER_NS}#{cid}")
        for s, p, o in triples:
            out.add((s.strip("<>"), p.strip("<>").split("#")[-1], o))
    return subjects, out


def built_triples(spark_triples, subjects: set) -> set:
    from pyspark.sql import functions as F

    rows = (
        spark_triples.where(F.col("subj").isin(sorted(subjects)))
        .select("subj", "pred", "obj_n3")
        .collect()
    )
    return {(r["subj"], r["pred"], r["obj_n3"]) for r in rows}


def parity(spark_triples, docs: pd.DataFrame, shim_sides) -> tuple[bool, str]:
    subjects, want = shim_triples(docs, shim_sides)
    got = built_triples(spark_triples, subjects)
    if got == want and want:
        return True, ""
    return False, (
        f"{len(docs)} docs: {len(got - want)} extra, {len(want - got)} missing; "
        f"e.g. extra {sorted(got - want)[:3]} missing {sorted(want - got)[:3]}"
    )


# ---------------------------------------------------------------------------
# DuckDB recomputes of the read round
# ---------------------------------------------------------------------------

def _sql(graph_glob: str, star_preds: list[str]) -> dict[str, str]:
    # Spark escapes partition values in directory names ('/' -> '%2F')
    g = (
        "(SELECT url, subj, unescape(pred) AS pred, obj FROM "
        f"read_parquet('{graph_glob}', hive_partitioning = true))"
    )
    star_from = " JOIN ".join(
        f"(SELECT subj, obj AS val_{i} FROM g WHERE pred = '{p}') s{i}"
        + ("" if i == 0 else " USING (subj)")
        for i, p in enumerate(star_preds)
    )
    star_cols = ", ".join(f"val_{i}" for i in range(len(star_preds)))
    return {
        "counterpart_summary": f"""
            WITH g AS (SELECT subj, pred, obj FROM {g}),
            dates AS (SELECT subj, obj AS d FROM g WHERE pred = 'DATE'),
            ct AS (
                SELECT c.obj AS event, d.d AS counterpart_gcn_time,
                       t0.obj AS event_t0, i.obj AS instrument
                FROM g c
                JOIN dates d ON c.subj = d.subj
                JOIN g t0 ON c.subj = t0.subj AND t0.pred = 'original_event_utc'
                JOIN g i ON c.subj = i.subj AND i.pred = 'instrument'),
            rep AS (
                SELECT r.obj AS event, d.d AS event_gcn_time
                FROM g r JOIN dates d ON r.subj = d.subj
                WHERE r.pred IN ('lvc_event_report', 'reports_icecube_event')),
            m AS (
                SELECT ct.*, rep.event_gcn_time FROM ct JOIN rep USING (event)
                WHERE rep.event_gcn_time <> ct.counterpart_gcn_time)
            SELECT event,
                   min([counterpart_gcn_time, event_t0, event_gcn_time]) AS f,
                   list_sort(list(instrument) FILTER (WHERE instrument IS NOT NULL))
                       AS instrument
            FROM m GROUP BY event""",
        "grb_reaction_summary": f"""
            WITH g AS (SELECT subj, pred, obj FROM {g})
            SELECT r.obj AS event, t0.obj AS event_t0, d.obj AS event_gcn_time
            FROM g r JOIN g d ON r.subj = d.subj JOIN g t0 ON r.subj = t0.subj
            WHERE r.pred = 'integral_grb_report' AND d.pred = 'DATE'
              AND t0.pred = 'event_t0' AND t0.obj <> d.obj""",
        "predicate_stats": f"""
            SELECT pred, count(*) AS n_triples, count(DISTINCT subj) AS n_subj,
                   count(DISTINCT obj) AS n_obj
            FROM {g} GROUP BY pred""",
        "star_join_ordered": f"""
            WITH g AS (SELECT subj, pred, obj FROM {g})
            SELECT subj, {star_cols} FROM {star_from}""",
    }


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    return v


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, type-normalised rows of a result frame."""
    rows = [tuple(_norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def spark_rows(fn: str, df: pd.DataFrame) -> list[tuple]:
    """Spark result in the DuckDB recompute's column layout."""
    if fn == "counterpart_summary":
        df = pd.DataFrame({
            "event": df["event"],
            "f": [
                (c, t, e) for c, t, e in zip(
                    df["counterpart_gcn_time"], df["event_t0"], df["event_gcn_time"]
                )
            ],
            "instrument": df["instrument"],
        })
    return canonical_rows(df)


def _unescape(value: str) -> str:
    return unquote(value)


def duckdb_expected(graph_dir: str, fns: list[str], star_preds: list[str]) -> dict[str, list[tuple]]:
    """The queries ``fns`` recomputed by DuckDB over the graph files."""
    con = _connect()
    try:
        sql = _sql(f"{graph_dir}/*/*.parquet", star_preds)
        return {fn: canonical_rows(con.execute(sql[fn]).df()) for fn in fns}
    finally:
        con.close()


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.create_function("unescape", _unescape, ["VARCHAR"], "VARCHAR")
    return con


def build_facts(out: str, gazetteer: pd.DataFrame) -> dict:
    """What a committed build left under ``out``: ledger buckets and
    ``docs_in`` sum, triple rows, graph rows, graph link rows, the link rows
    the gazetteer predicts from the committed triples, and on-disk bytes."""
    preds = ", ".join(f"'{p}'" for p in MENTION_PREDS)
    con = _connect()
    try:
        con.register("gaz", gazetteer)
        ledger = con.execute(
            f"SELECT bucket, docs_in FROM read_parquet('{out}/ledger/*.parquet')"
        ).fetchall()
        triples = f"read_parquet('{out}/triples/*/*.parquet')"
        graph = f"read_parquet('{out}/graph/*/*.parquet', hive_partitioning = true)"
        facts = {
            "ledger_buckets": sorted(b for b, _ in ledger),
            "ledger_docs_in": sum(d for _, d in ledger),
            "triples": con.execute(f"SELECT count(*) FROM {triples}").fetchone()[0],
            "graph": con.execute(f"SELECT count(*) FROM {graph}").fetchone()[0],
            "graph_links": con.execute(
                f"SELECT count(*) FROM {graph} WHERE unescape(pred) = '{LINK_PRED}'"
            ).fetchone()[0],
            "expected_links": con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT t.subj, g.canonical_uri "
                f"FROM {triples} t JOIN gaz g ON t.obj = g.mention "
                f"WHERE t.pred IN ({preds}))"
            ).fetchone()[0],
        }
    finally:
        con.close()
    facts["bytes"] = sum(
        f.stat().st_size
        for sub in ("triples", "graph")
        for f in Path(out, sub).rglob("*")
        if f.is_file()
    )
    return facts


def graph_rows(graph_dir: str) -> int:
    con = _connect()
    try:
        return con.execute(f"SELECT count(*) FROM read_parquet('{graph_dir}/*/*.parquet')").fetchone()[0]
    finally:
        con.close()


def unchanged_equal(graph_a: str, graph_b: str, changed_urls) -> bool:
    """Both graphs hold the same (subj, pred, obj_n3) multiset outside the
    changed documents."""
    con = _connect()
    try:
        con.register("changed", pd.DataFrame({"url": sorted(changed_urls)}))

        def rows(d):
            return (
                f"SELECT subj, unescape(pred) AS pred, obj_n3 FROM "
                f"read_parquet('{d}/*/*.parquet', hive_partitioning = true) "
                f"WHERE url NOT IN (SELECT url FROM changed)"
            )

        diff = con.execute(
            f"SELECT count(*) FROM (({rows(graph_a)}) EXCEPT ALL ({rows(graph_b)})) "
            f"UNION ALL SELECT count(*) FROM (({rows(graph_b)}) EXCEPT ALL ({rows(graph_a)}))"
        ).fetchall()
    finally:
        con.close()
    return all(n == 0 for (n,) in diff)
