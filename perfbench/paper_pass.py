"""One pass of the paper's batch analysis, run by graph_query's traced run.

The reference's Makefile order at reduced scale, over the graph that
graph_query's set-up persisted:

1. ``ml.model``: stratified split of the Infects edges, random-forest fit,
   predictions for every pair, evaluation on the held-out part; the
   predictions are written back as PredictedInteraction edges into a new
   store (built from what the run read, never into the store it reads);
2. Q3 ``q3_triadic_closure`` with LIMIT 50000;
3. ``operators.kernels``: degrees, connected components, eigenvector
   centrality, BFS from seeded landmarks and the diameter/radius over it;
4. ``plans.pipelines.interpersonal_diversity`` for one study (rarefaction,
   per-sample eigenvector centrality, Bray-Curtis);
5. ``client.stats``: distance matrix, NMDS, ANOSIM.

It runs after the measured loop, so no end-to-end metric includes it; a
one-iteration batch job of this kind does not fit the per-run time budget
as a workload of its own.  Every output is checked before the pass
returns, and every mismatch counts as a failure: Q3, degrees, components,
eigenvector centrality and the BFS diameter/radius against oracles over
the generated tables (DuckDB, plus plain Python/numpy for the iterative
kernels); the classifier's output and evaluation counts against the
stratified split's exact sizes; the written-back store's edge counts; the
diversity distances against the study's samples and their classes; the
client statistics against their value ranges.  The pass runs once per
run, so stages without an oracle are checked for shape and range, not
for identical output across iterations.
"""

from __future__ import annotations

import math
import os
import time
from collections import deque

import numpy as np
import pandas as pd

import oracle as O

TREES = 20
EIGEN_ITER = 5
LANDMARKS = 8
BFS_DEPTH = 20
STUDY = "R0"
ANOSIM_PERM = 99
NMDS_STARTS = 1
KERNELS = ("degrees", "connected_components", "eigenvector_centrality",
           "bfs_distances", "diameter_radius")
TIMED = ("ml.model.fit", "ml.model.predict", "ml.model.evaluate",
         "plans.pipelines.interpersonal_diversity",
         "client.stats.collect_distance_matrix", "client.stats.nmds",
         "client.stats.anosim")

Q3_SQL = """
SELECT DISTINCT a.src AS n, b.src AS k
FROM infects a JOIN infects b ON a.dst = b.dst AND a.src <> b.src
ORDER BY n, k LIMIT 50000
"""
DEGREE_SQL = """
SELECT node, COUNT(*) AS degree
FROM (SELECT src AS node, dst AS nbr FROM infects
      UNION SELECT dst, src FROM infects)
GROUP BY node
"""


def run(ctx, state) -> dict:
    """Run the pass, check it, and return its per-layer metrics."""
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.client import stats as CS
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml import model as M
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_build as GB
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_store as GS
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels as K
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import queries as Q
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import (
        interpersonal_diversity,
    )

    spark, span = ctx.spark, ctx.span
    orc = O.Oracle(state["src"])
    infects = orc.df("SELECT src, dst, blast, interaction FROM infects")
    want_q3 = O.canonical(orc.df(Q3_SQL))
    want_deg = O.canonical(orc.df(DEGREE_SQL))
    classes = orc.df("SELECT 'C' || c_custkey AS sample, c_mktsegment AS cls FROM customer")
    orc.close()
    nodes = sorted(set(infects["src"]) | set(infects["dst"]))
    rng = np.random.default_rng([ctx.seed, 3])
    roots = sorted(nodes[i] for i in rng.choice(len(nodes), LANDMARKS, replace=False))
    study_samples = set(state["expected"][("q5", STUDY)]["sample"])
    paper_store = os.path.join(ctx.tmp, "paper_graph")

    t0 = time.perf_counter()
    with span("op.paper", "paper"):
        with span("pipeline.read_graph"):
            n, e = GS.read_graph(spark, state["store"])
            inf = e.filter(F.col("type") == "Infects")
        with span("ml.model.fit"):
            train, test = M.stratified_split(M.prepare_training(inf), 0.8, seed=ctx.seed)
            model = M.build_pipeline(num_trees=TREES, seed=ctx.seed).fit(train)
        with span("ml.model.predict"):
            pred = M.predict_interactions(
                model, inf.select("src", "dst", *M.FEATURES)).localCheckpoint(eager=True)
        with span("ml.model.evaluate"):
            ev = M.evaluate(model, test)
        with span("pipeline.write_back"):
            base = e.filter(F.col("type") != "PredictedInteraction")
            GS.write_graph(n, GB.add_predicted_edges(base, pred.select("src", "dst", "prediction")),
                           paper_store)
        graph_ready_s = time.perf_counter() - t0

        with span("plans.queries.q3.plan"):
            df = Q.q3_triadic_closure(e, limit=50_000)
            df._jdf.queryExecution().executedPlan()
        with span("plans.queries.q3.exec") as sp:
            q3 = df.toPandas()
            sp.attrs["rows"] = len(q3)

        pairs = inf.select("src", "dst")
        weighted = inf.select("src", "dst", F.col("blast").alias("weight"))
        with span("operators.kernels.degrees"):
            deg = K.degrees(pairs).toPandas()
        with span("operators.kernels.connected_components"):
            cc = K.connected_components(pairs).toPandas()
        with span("operators.kernels.eigenvector_centrality"):
            eig = K.eigenvector_centrality(weighted, weight_col="weight",
                                           max_iter=EIGEN_ITER).toPandas()
        with span("operators.kernels.bfs_distances"):
            sources = spark.createDataFrame([(r,) for r in roots], "root string")
            bfs = K.bfs_distances(pairs, sources=sources,
                                  max_depth=BFS_DEPTH).localCheckpoint(eager=True)
        with span("operators.kernels.diameter_radius"):
            dr = K.diameter_radius(bfs).toPandas()

        with span("plans.pipelines.interpersonal_diversity"):
            q5 = Q.q5_sample_network(e, n, STUDY, normalize=False).select(
                "sample", "phage", "host", "phage_abundance", "host_abundance")
            out = interpersonal_diversity(q5, sample_class=spark.createDataFrame(classes),
                                          seed=ctx.seed, eigen_iter=EIGEN_ITER)
            dist = out["distances"].localCheckpoint(eager=True)
            stats = out["stats"].toPandas()
        with span("client.stats.collect_distance_matrix"):
            labels, dm = CS.collect_distance_matrix(dist)
        with span("client.stats.nmds"):
            nm = CS.nmds(dm, seed=ctx.seed, n_starts=NMDS_STARTS)
        with span("client.stats.anosim"):
            cls = dict(zip(classes["sample"], classes["cls"]))
            an = CS.anosim(dm, [cls[s] for s in labels], n_perm=ANOSIM_PERM, seed=ctx.seed)
    job_s = time.perf_counter() - t0

    def expect(what: str, problem: str | None) -> None:
        ctx.setup_checks += 1
        if problem:
            ctx.fail(f"paper pass {what}: {problem}")

    n_inf = len(infects)
    labels_pos = int((infects["interaction"] > 0).sum())
    n_test = sum(k - math.ceil(0.8 * k) for k in (labels_pos, n_inf - labels_pos))
    eig_want = O.canonical(_eigenvector(infects, EIGEN_ITER))
    dr_want = O.canonical(pd.DataFrame([_diameter_radius(infects, roots)],
                                       columns=["diameter", "radius"]))
    if ctx.corrupt_oracle:
        want_q3, want_deg = O.corrupt(want_q3), O.corrupt(want_deg)
        eig_want, dr_want = O.corrupt(eig_want), O.corrupt(dr_want)
        n_test += 1
    p = pred.select("src", "dst", "prediction").toPandas()
    expect("predictions", None if (len(p) == n_inf and not p.duplicated(["src", "dst"]).any()
                                   and set(p["prediction"]) <= {"Interacts", "NotInteracts"})
           else f"{len(p)} rows for {n_inf} pairs, labels {sorted(set(p['prediction']))}")
    expect("evaluation", None if ev["n_test"] == n_test and 0.0 <= ev["auc"] <= 1.0
           else f"{ev} (want n_test {n_test})")
    expect("write-back", _check_store(spark, paper_store, state["store"], n_inf))
    expect("q3", O.mismatch(q3, want_q3))
    expect("degrees", O.mismatch(deg, want_deg))
    expect("connected_components", _check_components(cc, infects))
    expect("eigenvector_centrality", O.mismatch(eig, eig_want, 2.01e-6))
    expect("diameter_radius", O.mismatch(dr, dr_want))
    expect("interpersonal_diversity", _check_diversity(dist, stats, study_samples, cls))
    expect("nmds", None if nm["points"].shape == (len(labels), 2) and np.isfinite(nm["points"]).all()
           and 0.0 <= nm["stress"] <= 1.0 else f"points {nm['points'].shape}, stress {nm['stress']}")
    expect("anosim", None if -1.0 <= an["statistic"] <= 1.0 and 0.0 < an["p_value"] <= 1.0
           else str(an))

    tr = ctx.tracer
    metrics = {f"{name}_s": tr.by_name(name)[0].dur for name in TIMED}
    for k in KERNELS:
        sp = tr.by_name(f"operators.kernels.{k}")[0]
        metrics[f"operators.kernels.{k}_s"] = sp.dur
        metrics[f"operators.kernels.{k}.jobs"] = sp.jobs
    metrics["pipeline.graph_ready_s"] = graph_ready_s
    metrics["pipeline.job_s"] = job_s
    return metrics


def _check_store(spark, path: str, base_path: str, n_pred: int) -> str | None:
    """The written-back store holds the base store's edges with its
    PredictedInteraction edges replaced by one per classified pair."""
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_store as GS

    def counts(root):
        _, e = GS.read_graph(spark, root)
        return {r["type"]: r["n"] for r in
                e.groupBy("type").agg(F.count(F.lit(1)).alias("n")).collect()}

    got, want = counts(path), counts(base_path)
    want["PredictedInteraction"] = n_pred
    return None if got == want else f"edge counts {got} != {want}"


def _components(infects: pd.DataFrame) -> dict:
    """node -> lexicographically smallest node of its component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(infects["src"], infects["dst"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _check_components(cc: pd.DataFrame, infects: pd.DataFrame) -> str | None:
    got = dict(zip(cc["node"], cc["component"]))
    want = _components(infects)
    if got == want:
        return None
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:3]
    return f"nodes {bad}: got {[got.get(k) for k in bad]} want {[want.get(k) for k in bad]}"


def _eigenvector(infects: pd.DataFrame, iters: int) -> pd.DataFrame:
    """Power iteration on A + sI (s = largest weighted degree) over the
    undirected, max-weight Infects graph, scaled to max 1, as the kernel
    defines it."""
    fwd = infects[["src", "dst", "blast"]].rename(columns={"blast": "w"})
    rev = fwd.rename(columns={"src": "dst", "dst": "src"})
    und = pd.concat([fwd, rev]).groupby(["src", "dst"], as_index=False)["w"].max()
    names = sorted(set(und["src"]))
    idx = {v: i for i, v in enumerate(names)}
    si = und["src"].map(idx).to_numpy()
    di = und["dst"].map(idx).to_numpy()
    w = und["w"].to_numpy(dtype=float)
    shift = np.bincount(si, weights=w, minlength=len(names)).max()
    x = np.ones(len(names))
    for _ in range(iters):
        raw = np.bincount(di, weights=w * x[si], minlength=len(names)) + shift * x
        x = raw / np.sqrt((raw ** 2).sum())
    return pd.DataFrame({"node": names, "centrality": np.round(x / x.max(), 6)})


def _diameter_radius(infects: pd.DataFrame, roots: list[str]) -> tuple[int, int]:
    """Largest and smallest eccentricity of the roots (undirected BFS)."""
    adj: dict = {}
    for a, b in zip(infects["src"], infects["dst"]):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ecc = []
    for r in roots:
        dist, todo = {r: 0}, deque([r])
        while todo:
            v = todo.popleft()
            for u in adj[v]:
                if u not in dist:
                    dist[u] = dist[v] + 1
                    todo.append(u)
        ecc.append(max(dist.values()))
    return max(ecc), min(ecc)


def _check_diversity(dist, stats: pd.DataFrame, samples: set, cls: dict) -> str | None:
    """Bray-Curtis rows only for pairs of the study's samples, each pair
    once, values in [0, 1], the right class label; the class-pair stats
    agree with the distances they summarize."""
    d = dist.select("sample_a", "sample_b", "bray_curtis", "pair_class").toPandas()
    seen = set(d["sample_a"]) | set(d["sample_b"])
    if seen != samples:
        return f"{len(seen)} samples, want the {len(samples)} of study {STUDY}"
    if ((d["sample_a"] >= d["sample_b"]).any() or d.duplicated(["sample_a", "sample_b"]).any()
            or len(d) != len(samples) * (len(samples) - 1) // 2):
        return f"{len(d)} rows, not one per pair with sample_a < sample_b"
    if not d["bray_curtis"].between(0.0, 1.0).all():
        return "Bray-Curtis outside [0, 1]"
    intra = [cls[a] == cls[b] for a, b in zip(d["sample_a"], d["sample_b"])]
    if list(d["pair_class"] == "intra") != intra:
        return "pair_class does not follow the samples' classes"
    want = d.groupby("pair_class").agg(mean_distance=("bray_curtis", "mean"),
                                       n_pairs=("bray_curtis", "size")).reset_index()
    want["mean_distance"] = want["mean_distance"].round(6)
    return O.mismatch(stats[["pair_class", "mean_distance", "n_pairs"]],
                      O.canonical(want), 1.01e-6)
