"""Seeded input generators for the benchmark.

Every table the workloads read is made here from the workload seed, so the
same seed always gives byte-identical inputs and the program under test
receives nothing but these generated tables.  The shapes follow the
TPC-H-ish star schema the package's ``plans.testdata_graph`` adapter maps
onto the phage-bacteria property graph (part = Phage, supplier =
Bacterial_Host, customer = SampleID, region = StudyID, nation = PatientID,
c_mktsegment = Disease, o_orderpriority = TimePoint), plus the
``documents`` / ``embeddings`` tables the admission gates consume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "hot", "blue", "red", "dark", "light"]
PART_NOUN = ["widget", "bolt", "gear", "nut", "spring", "valve", "pipe", "screw"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM"]
VOCAB = (
    "a the data row column table join merge sort hash scan filter group agg "
    "window key value query stream batch spark part line order customer "
    "vector fast slow big small dup index plan shuffle cache page block "
    "node edge graph phage host sample study patient disease time abundance "
    "score crispr blast pfam model tree forest split train test"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
EMB_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


def source_tables(root: str, sizes: dict, seed: int) -> None:
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    files under ``root``; ``sizes`` gives the customer, supplier, part and
    order counts and ``max_lines`` per order."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp = sizes["customer"], sizes["supplier"]
    n_part, n_orders = sizes["part"], sizes["orders"]

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        f"{root}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{root}/nation.parquet",
    )
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        f"{root}/customer.parquet",
    )
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
        f"{root}/supplier.parquet",
    )
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 5, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
        f"{root}/part.parquet",
    )
    base = np.datetime64("1995-01-01", "us")
    o_dates = base + rng.integers(0, 2500, n_orders).astype("timedelta64[D]")
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 400_000, n_orders), 2),
            "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        }),
        f"{root}/orders.parquet",
    )
    lines = rng.integers(1, sizes["max_lines"] + 1, n_orders)
    n_li = int(lines.sum())
    okeys = np.repeat(np.arange(n_orders), lines)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        pa.table({
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                np.repeat(o_dates, lines)
                + rng.integers(1, 120, n_li).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        }),
        f"{root}/lineitem.parquet",
    )


def prediction_table(edge_keys: list[tuple[str, str]], seed: int) -> list[tuple[str, str, str]]:
    """Seeded classifier output for graph_query's PredictedInteraction
    edges: (src, dst, prediction) for a deterministic sample of the
    given (phage, host) pairs, about a third of them 'Interacts'."""
    rng = np.random.default_rng(seed + 17)
    keys = sorted(edge_keys)
    take = rng.random(len(keys)) < 0.5
    verdict = rng.random(len(keys)) < 0.35
    return [
        (s, d, "Interacts" if v else "NotInteracts")
        for (s, d), t, v in zip(keys, take, verdict)
        if t
    ]


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def perturb_text(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate: one word replaced by a different word (3-shingle
    Jaccard stays above 0.94 for the 100-160 word documents made here)."""
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    choices = [w for w in VOCAB if w != words[i]]
    words[i] = choices[int(rng.integers(0, len(choices)))]
    return " ".join(words)


def random_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def noisy_copy(rng: np.random.Generator, v: np.ndarray) -> np.ndarray:
    """A semantic near-duplicate: cosine to ``v`` stays above 0.999."""
    out = v + rng.standard_normal(v.shape).astype(np.float32) * 0.004
    return (out / np.linalg.norm(out, axis=-1, keepdims=True)).astype(np.float32)


class CorpusFeed:
    """Seeded micro-batch generator for corpus_ingest.

    Tracks which documents and vectors the admission gates must have
    admitted, so every batch's expected decisions are known up front:
    fresh rows are new to every gate; exact clones of admitted documents
    are ``dup_store`` to the exact gate and ``dup_near`` to the MinHash
    gate; one-word perturbations are ``new`` to the exact gate and
    ``dup_near`` to the MinHash gate; noisy vector copies are
    ``dup_semantic`` to the semantic gate.  The expectation never depends
    on what the program returned."""

    def __init__(self, seed: int, base_docs: int, base_vecs: int,
                 fresh: int, clones: int, perturbed: int,
                 fresh_vecs: int, noisy_vecs: int):
        self.rng = np.random.default_rng(seed + 101)
        self.fresh, self.clones, self.perturbed = fresh, clones, perturbed
        self.fresh_vecs, self.noisy_vecs = fresh_vecs, noisy_vecs
        self.next_doc = 0
        self.next_vec = 0
        self.texts: list[str] = []       # every text handed out so far
        self.admitted_docs: list[str] = []   # admitted by both lexical gates
        self.admitted_vecs: list[np.ndarray] = []
        self.base_docs = self._fresh_docs(base_docs)
        self.base_vecs = self._fresh_vecs(base_vecs)
        self.admitted_docs.extend(t for _, t in self.base_docs)
        self.admitted_vecs.extend(v for _, v in self.base_vecs)
        # store sizes the generator predicts (rows, not files)
        self.fp_rows = len(self.base_docs)
        self.mh_docs = len(self.base_docs)
        self.sem_rows = len(self.base_vecs)

    def _fresh_docs(self, n: int) -> list[tuple[int, str]]:
        out = []
        seen = set(self.texts)
        while len(out) < n:
            t = random_text(self.rng, int(self.rng.integers(100, 161)))
            if t in seen:
                continue
            seen.add(t)
            out.append((self.next_doc, t))
            self.next_doc += 1
        self.texts.extend(t for _, t in out)
        return out

    def _fresh_vecs(self, n: int) -> list[tuple[int, np.ndarray]]:
        vs = random_vectors(self.rng, n)
        out = [(self.next_vec + i, vs[i]) for i in range(n)]
        self.next_vec += n
        return out

    def next_batch(self) -> dict:
        """One micro-batch: docs [(doc_id, text)], vecs [(vec_id, vec)] and
        the expected per-id statuses for each gate."""
        fresh = self._fresh_docs(self.fresh)
        pool = self.admitted_docs
        clone_src = self.rng.choice(len(pool), self.clones, replace=False)
        pert_src = self.rng.choice(len(pool), self.perturbed, replace=False)
        docs = list(fresh)
        exact, near = {}, {}
        for i, _ in fresh:
            exact[i], near[i] = "new", "new"
        for j in clone_src:
            did = self.next_doc
            self.next_doc += 1
            docs.append((did, pool[j]))
            exact[did], near[did] = "dup_store", "dup_near"
        seen = set(self.texts)
        for j in pert_src:
            t = perturb_text(self.rng, pool[j])
            while t in seen:
                t = perturb_text(self.rng, pool[j])
            seen.add(t)
            self.texts.append(t)
            did = self.next_doc
            self.next_doc += 1
            docs.append((did, t))
            exact[did], near[did] = "new", "dup_near"
        vfresh = self._fresh_vecs(self.fresh_vecs)
        vpool = self.admitted_vecs
        noisy_src = self.rng.choice(len(vpool), self.noisy_vecs, replace=False)
        vecs = list(vfresh)
        semantic = {i: "new" for i, _ in vfresh}
        for j in noisy_src:
            vid = self.next_vec
            self.next_vec += 1
            vecs.append((vid, noisy_copy(self.rng, vpool[j])))
            semantic[vid] = "dup_semantic"
        # admissions this batch: the exact store gains every exact-new doc
        # (fresh + perturbed), the MinHash store only fresh docs, the
        # semantic store only fresh vectors
        self.admitted_docs.extend(t for _, t in fresh)
        self.admitted_vecs.extend(v for _, v in vfresh)
        self.fp_rows += len(fresh) + len(pert_src)
        self.mh_docs += len(fresh)
        self.sem_rows += len(vfresh)
        order = self.rng.permutation(len(docs))
        return {
            "docs": [docs[i] for i in order],
            "vecs": vecs,
            "exact": exact,
            "near": near,
            "semantic": semantic,
        }


def docs_table(docs: list[tuple[int, str]], rng_seed: int) -> pa.Table:
    rng = np.random.default_rng(rng_seed)
    return pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": [t for _, t in docs],
        "lang": [LANGS[i] for i in rng.integers(0, 5, len(docs))],
        "source": [f"src{i}" for i in rng.integers(0, 20, len(docs))],
        "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
    })


def vecs_table(vecs: list[tuple[int, np.ndarray]]) -> pa.Table:
    return pa.table({
        "vec_id": pa.array([i for i, _ in vecs], pa.int64()),
        "embedding": pa.array([v.tolist() for _, v in vecs], pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i, _ in vecs], pa.int32()),
    })
