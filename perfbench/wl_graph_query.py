"""graph_query: interactive pattern queries over the persisted graph.

A closed loop of 2 client threads sharing one SparkSession; each client
sends its next query only when the previous one has returned, like an
analyst's notebook.  Each query is a stateless request: open the store
(``graph_store.read_graph``), build the pattern query from
``plans.queries`` with seeded anchors, and materialize the full result.
Every result is checked against a DuckDB oracle precomputed per
(query, anchor) during set-up.

Set-up builds the store from the generated source tables with
``operators.graph_build`` (nodes, Infects feature merge, Sampled /
IncludedInStudy / Diseased metadata edges, PredictedInteraction edges from
a seeded prediction table) and persists it with ``graph_store.write_graph``.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd

import gen
import oracle as O
import paper_pass
from spans import OFF, median_or_zero, store_stats

OP_NAME = "queries"
ALIASES = {"op_p50_s": "query_p50_s",
           "throughput_per_s": "queries_per_s"}
TAIL = "query_p90_s"
STORE_READY = "graph_build_s"  # sources -> persisted store(s), inside setup_s
CLIENTS = 2
WARMUP_S = 8.0  # closed-loop warm-up after set-up, outside setup_s
SIZES = {
    "full": {"customer": 1000, "supplier": 400, "part": 1000, "orders": 2000, "max_lines": 7},
    "smoke": {"customer": 150, "supplier": 40, "part": 150, "orders": 300, "max_lines": 5},
}
# query mix: slots per 20-query round (35% Q5, 20% Q7, 15% Q1, 10% each
# Q2/Q4/Q6); each client shuffles every round with its seed, so the mix
# holds exactly over every 20 queries and runs differ only in order and
# anchors
MIX = {"q5": 7, "q7": 4, "q1": 3, "q2": 2, "q4": 2, "q6": 2}
STUDIES = [f"R{i}" for i in range(5)]
DISEASES = ["D" + s for s in gen.SEGMENTS]
MIN_AB = [0, 10, 25, 40]
LABELS = ["Phage", "Bacterial_Host", "SampleID", "Disease", "StudyID",
          "PatientID", "TimePoint"]
ANCHORS = {
    "q1": [None, 0, 1],
    "q2": [None],
    "q4": STUDIES,
    "q5": STUDIES,
    "q6": LABELS,
    # k -> (disease k mod 5, min_abundance k mod 4): any 4 consecutive
    # anchors hold every min_abundance once, all 20 hold every pair once
    "q7": [(DISEASES[k % 5], MIN_AB[k % 4]) for k in range(20)],
}
ATOL = {"q1": 1.01e-4, "q5": 1.01e-6}


def _builders():
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import queries as Q

    return {
        "q1": lambda n, e, a: Q.q1_interaction_scores(e, n, a),
        "q2": lambda n, e, a: Q.q2_predicted_links(e, n),
        "q4": lambda n, e, a: Q.q4_study_network(e, a),
        "q5": lambda n, e, a: Q.q5_sample_network(e, n, a),
        "q6": lambda n, e, a: Q.q6_label_scan(n, a),
        "q7": lambda n, e, a: Q.q7_disease_scope(e, a[0], a[1]),
    }


def build_graph(spark, src: str):
    """Nodes and edges of the property graph from the source tables
    (before predicted edges are added)."""
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_build as GB
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import testdata_graph as TG
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    nodes = GB.build_nodes([TG.nodes(spark, src)], assert_unique=False)
    inf = TG.infects_edges(spark, src)
    edges = GB.build_infects_edges(
        inf.select("src", "dst", "interaction"),
        {c: inf.select("src", "dst", F.col(c).alias("score"))
         for c in ("crispr", "blast", "blastx", "pfam")},
    )
    cust = load_table(spark, src, "customer")
    nation = load_table(spark, src, "nation")
    meta = (
        TG.sampled_edges(spark, src)
        .unionByName(
            cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
                F.concat(F.lit("R"), "n_regionkey").alias("src"),
                F.concat(F.lit("C"), "c_custkey").alias("dst"),
                F.lit("IncludedInStudy").alias("type"),
                F.lit(None).cast("long").alias("abundance"),
            )
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("D"), "c_mktsegment").alias("src"),
                F.concat(F.lit("C"), "c_custkey").alias("dst"),
                F.lit("Diseased").alias("type"),
                F.lit(None).cast("long").alias("abundance"),
            )
        )
    )
    return nodes, GB.add_metadata_edges(edges, meta)


def _infects_keys(src: str) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq

    li = pq.read_table(f"{src}/lineitem.parquet", columns=["l_partkey", "l_suppkey"])
    pairs = set(zip(li.column(0).to_pylist(), li.column(1).to_pylist()))
    return [(f"P{p}", f"S{s}") for p, s in pairs]


def setup(ctx) -> dict:
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_build as GB
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_store as GS

    src = os.path.join(ctx.tmp, "src")
    gen.source_tables(src, SIZES["smoke" if ctx.smoke else "full"], ctx.seed)
    preds = gen.prediction_table(_infects_keys(src), ctx.seed)
    ctx.start_spark()
    spark = ctx.spark
    store = os.path.join(ctx.tmp, "graph")
    t0 = time.perf_counter()
    with ctx.span("setup.build_store"):
        pred_df = spark.createDataFrame(preds, "src string, dst string, prediction string")
        with ctx.span("graph_build.build"):
            nodes, edges = build_graph(spark, src)
            nodes, edges = ctx.boundary(nodes), ctx.boundary(edges)
        with ctx.span("graph_build.add_predicted_edges"):
            edges = ctx.boundary(GB.add_predicted_edges(edges, pred_df))
        with ctx.span("graph_store.write_graph"):
            GS.write_graph(nodes, edges, store)
    store_ready_s = time.perf_counter() - t0

    with ctx.span("setup.oracle"):
        orc = O.Oracle(src)
        expected = {}
        for q, anchors in ANCHORS.items():
            for a in anchors:
                expected[(q, a)] = O.canonical(_oracle_df(orc, q, a, preds))
        counts = orc.df(O.COUNTS)
        orc.close()
    if ctx.corrupt_oracle:
        expected = {k: O.corrupt(v) for k, v in expected.items()}
        counts.loc[0, "n"] += 1
    n, e = GS.read_graph(spark, store)
    _check_counts(ctx, n, e, counts, len(preds))
    files, size = store_stats(store)
    want = dict(zip(counts["kind"], counts["n"]))
    n_edges = (int(want["Infects"]) + int(want["Sampled"]) + 2 * int(want["SampleID"])
               + len(preds))
    return {"src": src, "store": store, "expected": expected,
            "store_ready_s": store_ready_s, "store_files": files, "store_bytes": size,
            "edges": n_edges}


def warmup(ctx, state) -> None:
    """The closed loop on its own seed stream, checked but not timed."""
    with ctx.span("setup.warmup"):
        results, errors, _ = _drive(ctx, state, 1.0 if ctx.smoke else WARMUP_S,
                                    stream=1, tracing=False)
    ctx.setup_checks += len(results)
    for err in errors:
        ctx.fail(f"warm-up {err}")


def _oracle_df(orc, q, a, preds):
    if q == "q1":
        where = "" if a is None else f"WHERE interaction = {int(a)}"
        return orc.df(O.Q1.format(where=where))
    if q == "q2":
        names = orc.df("SELECT id, name FROM node_names WHERE label = 'Phage'")
        name = dict(zip(names["id"], names["name"]))
        return pd.DataFrame({
            "from_name": [name[s] for s, _, p in preds if p == "Interacts"],
            "to_species": [None] * sum(1 for p in preds if p[2] == "Interacts"),
        })
    if q == "q4":
        return orc.df(O.Q4, {"study": a})
    if q == "q5":
        return orc.df(O.Q5, {"study": a})
    if q == "q6":
        return orc.df(O.Q6, {"label": a})
    return orc.df(O.Q7, {"disease": a[0], "min_ab": a[1]})


def _check_counts(ctx, nodes, edges, counts, n_preds) -> None:
    """Node counts per label and edge counts per type against the oracle."""
    from pyspark.sql import functions as F

    got = {r["label"]: r["n"] for r in nodes.groupBy("label").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    got.update({r["type"]: r["n"] for r in edges.groupBy("type").agg(
        F.count(F.lit(1)).alias("n")).collect()})
    want = {k: int(v) for k, v in zip(counts["kind"], counts["n"])}
    want["PredictedInteraction"] = n_preds
    want["IncludedInStudy"] = want["Diseased"] = want["SampleID"]
    ctx.setup_checks += 1
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if bad or set(got) != set(want):
        ctx.fail(f"graph counts (got, want): {bad or (sorted(got), sorted(want))}")


def _drive(ctx, state, seconds: float, stream: int, tracing: bool):
    """The closed loop: CLIENTS threads, each sending its next query when
    the previous one returned, until ``seconds`` have passed.  Returns
    (results, errors, wall) with one (client, i, query, latency or None,
    traced) result per attempted query."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_store as GS

    spark = ctx.spark
    builders = _builders()
    round_ = [q for q, k in MIX.items() for _ in range(k)]
    lock = threading.Lock()
    results, errors = [], []
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(cid: int) -> None:
        rng = np.random.default_rng([ctx.seed, stream, cid])
        # each query type walks its anchor list from a seeded start, so
        # a run visits anchors evenly instead of by chance
        nxt = {q: int(rng.integers(0, len(ANCHORS[q]))) for q in MIX}
        i = 0
        while time.perf_counter() < deadline:
            if i % len(round_) == 0:
                order = rng.permutation(round_)
            q = str(order[i % len(round_)])
            a = ANCHORS[q][nxt[q] % len(ANCHORS[q])]
            nxt[q] += 1
            traced = tracing and i % 2 == 1
            span = ctx.span if traced else OFF.span
            i += 1
            try:
                t0 = time.perf_counter()
                with span("op.query", f"c{cid}-{i}"):
                    with span("graph_store.read_graph"):
                        n, e = GS.read_graph(spark, state["store"])
                    with span(f"plans.queries.{q}.plan"):
                        df = builders[q](n, e, a)
                        if traced:
                            df._jdf.queryExecution().executedPlan()
                    with span(f"plans.queries.{q}.exec") as sp:
                        pdf = df.toPandas()
                        if sp is not None:
                            sp.attrs["rows"] = len(pdf)
                lat = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                with lock:
                    results.append((cid, i, q, None, traced))
                    errors.append(f"{q} anchor={a}: {exc!r}"[:300])
                continue
            why = O.mismatch(pdf, state["expected"][(q, a)], ATOL.get(q, 0.0))
            with lock:
                results.append((cid, i, q, lat, traced))
                if why:
                    errors.append(f"{q} anchor={a}: {why}")

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, errors, time.perf_counter() - t_start


def run(ctx, state, seconds: float) -> dict:
    results, errors, wall = _drive(ctx, state, seconds, stream=0, tracing=ctx.tracing)
    for err in errors:
        ctx.fail(err)
    done = [r for r in results if r[3] is not None]
    untraced = [r[3] for r in done if not r[4]]
    return {
        "latencies": untraced or [r[3] for r in done],
        "traced_latencies": [r[3] for r in done if r[4]],
        "attempted": len(results),
        "items": len(done),
        "wall_s": wall,
    }


def layer_metrics(ctx, state, res) -> dict:
    """Per-layer numbers from the traced run's spans, after one pass of
    the paper's batch analysis over the same graph (``paper_pass``)."""
    out = paper_pass.run(ctx, state)
    tr = ctx.tracer
    for q in ("q1", "q2", "q3", "q4", "q5", "q6", "q7"):
        plans = tr.by_name(f"plans.queries.{q}.plan")
        execs = tr.by_name(f"plans.queries.{q}.exec")
        key = f"plans.queries.{q}"
        out[f"{key}.plan_s"] = median_or_zero(s.dur for s in plans)
        out[f"{key}.exec_s"] = median_or_zero(s.dur for s in execs)
        out[f"{key}.rows"] = median_or_zero(s.attrs.get("rows", 0) for s in execs)
        out[f"{key}.rows_examined_per_row"] = median_or_zero(
            s.total("records_read") / max(s.attrs.get("rows", 0), 1) for s in execs)
        out[f"{key}.tasks"] = median_or_zero(s.total("tasks") for s in execs)
        out[f"{key}.shuffle_bytes"] = median_or_zero(s.total("shuffle_write") for s in execs)
        out[f"{key}.wait_s"] = median_or_zero(s.dur - s.stage_run_s() for s in execs)
    out["graph_store.read_graph_s"] = median_or_zero(
        s.dur for s in tr.by_name("graph_store.read_graph"))
    out["graph_store.write_graph_s"] = median_or_zero(
        s.dur for s in tr.by_name("graph_store.write_graph"))
    out["graph_store.bytes_written"] = state["store_bytes"]
    out["graph_store.files_written"] = state["store_files"]
    out["graph_store.bytes_per_edge"] = state["store_bytes"] / max(state["edges"], 1)
    out["graph_build.build_s"] = median_or_zero(s.dur for s in tr.by_name("graph_build.build"))
    out["graph_build.add_predicted_edges_s"] = median_or_zero(
        s.dur for s in tr.by_name("graph_build.add_predicted_edges"))
    out["graph_build.edges_out"] = state["edges"]
    return out
