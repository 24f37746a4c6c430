"""corpus_ingest: micro-batches through the three admission gates.

A closed loop of seeded micro-batches.  Each batch holds fresh documents,
exact clones and one-word perturbations of documents already admitted,
fresh embedding vectors and noisy copies of admitted vectors.  It goes
through the exact gate (``dedup.ingest_dedup``), the near-duplicate gate
(``dedup.minhash_ingest_dedup``) and the semantic gate
(``similarity.semantic_ingest_dedup``); then each gate's admits are
appended to its store (``gate_maintenance.append_admitted_*``), and every
fifth batch ``gate_maintenance.compact_store`` rewrites all three stores.
The stores grow through the run, so read cost, write cost and space move.

Every decision is checked against the status the generator injected, and
after every compaction the stores' row counts against the admissions it
predicted.  The run stops at the first compaction (every fifth batch,
the warm-up batch counted) after ``--seconds``, so every run ends
with a checked compaction and holds one per five batches.
"""

from __future__ import annotations

import os
import time

import gen
from spans import OFF, median_or_zero, store_stats

OP_NAME = "batches"
ALIASES = {"op_p50_s": "batch_p50_s",
           "throughput_per_s": "docs_per_s"}
TAIL = "batch_p90_s"
STORE_READY = "stores_build_s"  # sources -> persisted store(s), inside setup_s
CYCLE = 5  # compaction every CYCLE-th batch
N_CELLS = 16
SIZES = {
    "full": dict(base_docs=400, base_vecs=300, fresh=40, clones=10, perturbed=10,
                 fresh_vecs=30, noisy_vecs=10),
    "smoke": dict(base_docs=60, base_vecs=60, fresh=8, clones=3, perturbed=3,
                  fresh_vecs=6, noisy_vecs=3),
}


def _frames(spark, batch, seed):
    docs = spark.createDataFrame(gen.docs_table(batch["docs"], seed).to_pandas())
    vecs = spark.createDataFrame(
        gen.vecs_table(batch["vecs"]).to_pandas(),
        "vec_id long, embedding array<float>, label int",
    )
    return docs, vecs


def setup(ctx) -> dict:
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import dedup, similarity

    feed = gen.CorpusFeed(ctx.seed, **SIZES["smoke" if ctx.smoke else "full"])
    ctx.start_spark()
    spark = ctx.spark
    paths = {k: os.path.join(ctx.tmp, k) for k in ("fp", "mh", "sem")}
    t0 = time.perf_counter()
    with ctx.span("setup.build_stores"):
        docs, vecs = _frames(spark, {"docs": feed.base_docs, "vecs": feed.base_vecs},
                             ctx.seed)
        with ctx.span("dedup.fingerprint_store"):
            dedup.fingerprint_store(docs).write.parquet(paths["fp"])
        with ctx.span("dedup.minhash_store"):
            dedup.minhash_store(docs).write.parquet(paths["mh"])
        with ctx.span("similarity.semantic_store"):
            cents = similarity.sampled_centroids(vecs, N_CELLS)
            similarity.semantic_store(vecs, gen.EMB_DIM, centroids=cents).write.partitionBy(
                "cell").parquet(paths["sem"])
    store_ready_s = time.perf_counter() - t0
    return {"feed": feed, "paths": paths, "cents": cents,
            "store_ready_s": store_ready_s, "batch_no": 0, "compactions": []}


def warmup(ctx, state) -> None:
    """The feed's first batch, processed and checked like any other."""
    with ctx.span("setup.warmup"):
        _batch(ctx, state, traced=False)
    ctx.setup_checks += 1


def _batch(ctx, state, traced: bool) -> tuple[float, int]:
    """Run one micro-batch; returns (latency, documents+vectors)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import (
        dedup,
        gate_maintenance as GM,
        similarity,
    )

    spark, paths, feed = ctx.spark, state["paths"], state["feed"]
    span = ctx.span if traced else OFF.span
    batch = feed.next_batch()
    no = state["batch_no"]
    state["batch_no"] += 1
    docs, vecs = _frames(spark, batch, ctx.seed + no)
    compact = no % CYCLE == CYCLE - 1
    t0 = time.perf_counter()
    with span("op.batch", f"b{no}"):
        with span("dedup.ingest_dedup"):
            d_exact = dedup.ingest_dedup(docs, spark.read.parquet(paths["fp"])).localCheckpoint()
        with span("dedup.minhash_ingest_dedup"):
            d_near = dedup.minhash_ingest_dedup(
                docs, spark.read.parquet(paths["mh"])).localCheckpoint()
        with span("similarity.semantic_ingest_dedup"):
            d_sem = similarity.semantic_ingest_dedup(
                vecs, spark.read.parquet(paths["sem"]), state["cents"], gen.EMB_DIM
            ).localCheckpoint()
        with span("gate_maintenance.append_admitted_fingerprints"):
            GM.append_admitted_fingerprints(d_exact, paths["fp"])
        with span("gate_maintenance.append_admitted_minhash"):
            GM.append_admitted_minhash(d_near, docs, paths["mh"])
        with span("gate_maintenance.append_admitted_semantic"):
            GM.append_admitted_semantic(d_sem, vecs, paths["sem"], state["cents"],
                                        gen.EMB_DIM)
        if compact:
            with span("gate_maintenance.compact_store"):
                GM.compact_store(spark, paths["fp"])
                GM.compact_store(spark, paths["mh"])
                GM.compact_store(spark, paths["sem"], partition_by=("cell",))
    lat = time.perf_counter() - t0

    want = {"exact": batch["exact"], "near": batch["near"], "semantic": batch["semantic"]}
    if ctx.corrupt_oracle:
        first = next(iter(want["exact"]))
        want["exact"] = {**want["exact"], first: "dup_batch"}
    problems, ratios = [], {}
    for gate, dec in (("exact", d_exact), ("near", d_near), ("semantic", d_sem)):
        got = {r["id"]: r["status"] for r in dec.select("id", "status").collect()}
        if got != want[gate]:
            bad = sorted(k for k in want[gate] if got.get(k) != want[gate][k])[:3]
            problems.append(f"{gate} gate ids {bad} got {[got.get(k) for k in bad]} "
                            f"want {[want[gate][k] for k in bad]}")
        ratios[gate] = sum(v == "new" for v in got.values()) / max(len(got), 1)
    if traced:
        state.setdefault("ratios", []).append(ratios)
    if compact:
        files, size = (sum(x) for x in zip(*(store_stats(p) for p in paths.values())))
        state["compactions"].append({"bytes": size, "files": files})
        problems.extend(filter(None, [_check_rows(ctx, state)]))
    if problems:
        ctx.fail(f"batch {no}: " + "; ".join(problems))
    return lat, len(batch["docs"]) + len(batch["vecs"])


def _check_rows(ctx, state) -> str | None:
    """Each store's live rows, read straight from its parquet files, against
    the admissions the generator predicts; returns a problem or None."""
    paths, feed = state["paths"], state["feed"]
    rows = {
        "fp": _parquet(paths["fp"], "fingerprint").num_rows,
        "mh_docs": len(set(_parquet(paths["mh"], "id").column(0).to_pylist())),
        "sem": _parquet(paths["sem"], "id").num_rows,
    }
    want = {"fp": feed.fp_rows, "mh_docs": feed.mh_docs, "sem": feed.sem_rows}
    if ctx.corrupt_oracle:
        want["fp"] += 1
    state["rows"] = rows
    return None if rows == want else f"store rows {rows} != {want}"


def _parquet(path: str, column: str):
    """One column of a (possibly hive-partitioned) parquet store; the
    underscore-prefixed claim and marker files are skipped."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=["_", "."]).to_table(columns=[column])


def run(ctx, state, seconds: float) -> dict:
    lats, traced_lats, items, busy = [], [], 0, 0.0
    t_start = time.perf_counter()
    i = 0
    # align to the compaction cycle, then run whole cycles until time is up
    while state["batch_no"] % CYCLE or time.perf_counter() - t_start < seconds or i == 0:
        traced = ctx.tracing and i % 2 == 1
        i += 1
        try:
            lat, n = _batch(ctx, state, traced)
        except Exception as exc:  # noqa: BLE001 - a failed batch is counted
            ctx.fail(f"batch {state['batch_no'] - 1}: {exc!r}"[:300])
            continue
        (traced_lats if traced else lats).append(lat)
        items += n
        busy += lat
    return {
        "latencies": lats or traced_lats,
        "traced_latencies": traced_lats if lats else [],
        "attempted": i,
        "items": items,
        "wall_s": busy,
    }


def layer_metrics(ctx, state, res) -> dict:
    tr = ctx.tracer
    out = {}
    for name, key in (("dedup.ingest_dedup", "exact"),
                      ("dedup.minhash_ingest_dedup", "near"),
                      ("similarity.semantic_ingest_dedup", "semantic")):
        out[f"{name}_s"] = median_or_zero(s.dur for s in tr.by_name(name))
        out[f"{name}.admit_ratio"] = median_or_zero(r[key] for r in state.get("ratios", []))
    for a in ("fingerprints", "minhash", "semantic"):
        n = f"gate_maintenance.append_admitted_{a}"
        out[f"{n}_s"] = median_or_zero(s.dur for s in tr.by_name(n))
    out["gate_maintenance.compact_store_s"] = median_or_zero(
        s.dur for s in tr.by_name("gate_maintenance.compact_store"))
    out["gate_maintenance.bytes_rewritten"] = median_or_zero(
        c["bytes"] for c in state["compactions"])
    files, size = (sum(x) for x in zip(*(store_stats(p) for p in state["paths"].values())))
    out["gate_maintenance.store_files"] = files
    out["gate_maintenance.store_bytes_per_live_row"] = size / max(sum(state["rows"].values()), 1)
    return out
