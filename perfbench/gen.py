"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of ``(seed, size)``: it returns an Arrow
table plus a dict of the properties the workload's behaviour depends on
(sizes, fan-out skew, planted-duplicate share). ``table_hash`` fingerprints
the generated data, and ``write_parquet`` turns a table into a directory of
part files, which is the only input the engine sees.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Level names of the generated three-level hierarchy, coarse to fine.
ROOT, MID, LEAF = "cust", "ord", "item"
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
FLAGS = np.array(["A", "N", "R"])

# Fan-out shape. Roots, orders and leaves are fixed counts, so every seed
# has the same input size; orders are spread over roots in proportion to
# Lomax(1.1) weights capped at WEIGHT_CAP — most roots get a handful, a few
# get hundreds (thousands of leaf rows each).
LEAVES_PER_ROOT = 40
LEAVES_PER_ORDER = 4
ORDERS_TAIL_ALPHA = 1.1
WEIGHT_CAP = 750.0


def _spread(rng, total: int, weights: np.ndarray) -> np.ndarray:
    """At least one per slot, the rest multinomial in proportion to weights."""
    return 1 + rng.multinomial(total - len(weights), weights / weights.sum())


def hierarchy(seed: int, n_leaf: int) -> tuple[pa.Table, dict]:
    """Flat ``cust → ord → item`` rows with skewed fan-out and exactly
    ``n_leaf`` leaf rows, columns named by their dotted level path, rows
    shuffled."""
    rng = np.random.default_rng([seed, 1])
    n_roots = max(1, n_leaf // LEAVES_PER_ROOT)
    n_orders = max(n_roots, n_leaf // LEAVES_PER_ORDER)
    weights = np.minimum(rng.pareto(ORDERS_TAIL_ALPHA, n_roots), WEIGHT_CAP) + 1e-3
    orders = _spread(rng, n_orders, weights)
    items = _spread(rng, n_leaf, np.ones(n_orders))
    order_root = np.repeat(np.arange(n_roots), orders)
    leaves_per_root = np.bincount(order_root, weights=items, minlength=n_roots).astype(np.int64)
    leaf_order = np.repeat(np.arange(n_orders), items)
    n = len(leaf_order)

    root_ids = rng.permutation(n_roots).astype(np.int64) + 1
    root_seg = SEGMENTS[rng.integers(0, len(SEGMENTS), n_roots)]
    root_score = rng.integers(-99_999, 1_000_000, n_roots) / 100.0
    order_ids = rng.permutation(n_orders).astype(np.int64) + 1
    order_prio = rng.integers(1, 6, n_orders).astype(np.int32)
    order_disc = rng.integers(0, 11, n_orders) / 100.0
    starts = np.cumsum(items) - items
    line = (np.arange(n) - np.repeat(starts, items) + 1).astype(np.int32)

    leaf_root = order_root[leaf_order]
    cols = {
        f"{ROOT}.c_id": root_ids[leaf_root],
        f"{ROOT}.c_seg": root_seg[leaf_root],
        f"{ROOT}.c_score": root_score[leaf_root],
        f"{ROOT}.{MID}.o_id": order_ids[leaf_order],
        f"{ROOT}.{MID}.o_prio": order_prio[leaf_order],
        f"{ROOT}.{MID}.o_disc": order_disc[leaf_order],
        f"{ROOT}.{MID}.{LEAF}.i_line": line,
        f"{ROOT}.{MID}.{LEAF}.i_qty": rng.integers(1, 51, n).astype(np.int32),
        f"{ROOT}.{MID}.{LEAF}.i_cents": rng.integers(100, 10_001, n).astype(np.int64),
        f"{ROOT}.{MID}.{LEAF}.i_flag": FLAGS[rng.integers(0, len(FLAGS), n)],
    }
    perm = rng.permutation(n)
    table = pa.table({k: v[perm] for k, v in cols.items()})
    by_size = np.sort(leaves_per_root)[::-1]
    top = max(1, n_roots // 100)
    stats = {
        "roots": n_roots,
        "mid_rows": n_orders,
        "leaf_rows": n,
        "max_leaves_per_root": int(by_size[0]),
        "median_leaves_per_root": float(np.median(by_size)),
        "top1pct_roots_leaf_share": round(float(by_size[:top].sum()) / n, 4),
    }
    return table, stats


def _vocabulary(size: int) -> np.ndarray:
    """Distinct pseudo-words, identical for every seed."""
    syllables = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "po",
                 "da", "fe", "gu", "hi", "jo", "be", "ci", "wu", "xa", "yo"]
    words = []
    for i in range(size):
        parts, j = [], i
        while True:
            parts.append(syllables[j % 20])
            j //= 20
            if j == 0:
                break
        words.append("".join(parts))
    return np.array(words)


def corpus(seed: int, n_docs: int, dup_share: float) -> tuple[pa.Table, list[tuple[int, int]], dict]:
    """Documents with planted near-duplicate clusters.

    ``dup_share`` of the documents are near copies of a base document: one
    token replaced and, for half the copies, the last token dropped, which
    keeps word-3-gram Jaccard with the base at 0.8 or more for the 40-token
    minimum length. Returns the table ``(doc_id, text)``, the planted
    ``(base_id, copy_id)`` pairs and the corpus properties.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(20_000)
    n_copies = int(round(n_docs * dup_share))
    n_base = n_docs - n_copies
    lengths = rng.integers(40, 121, n_base)
    # A 200-word head drawn 30% of the time gives a skewed, text-like
    # frequency profile; the rest is uniform over the vocabulary.
    total = int(lengths.sum())
    head = rng.random(total) < 0.3
    toks = np.where(head, rng.integers(0, 200, total), rng.integers(0, len(vocab), total))
    bounds = np.cumsum(lengths)
    base_docs = np.split(toks, bounds[:-1])

    copies_of = []
    remaining = n_copies
    for base in rng.permutation(n_base):
        if remaining == 0:
            break
        k = min(remaining, int(rng.integers(1, 4)))
        copies_of.append((int(base), k))
        remaining -= k
    docs = list(base_docs)
    origin = []
    for base, k in copies_of:
        for _ in range(k):
            doc = base_docs[base].copy()
            doc[rng.integers(0, len(doc))] = rng.integers(0, len(vocab))
            if rng.random() < 0.5:
                doc = doc[:-1]
            docs.append(doc)
            origin.append(base)

    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    texts = [" ".join(vocab[d]) for d in docs]
    planted = [(int(ids[b]), int(ids[n_base + i])) for i, b in enumerate(origin)]
    table = pa.table({"doc_id": ids, "text": texts})
    stats = {
        "docs": len(docs),
        "planted_clusters": len(copies_of),
        "planted_copies": n_copies,
        "planted_dup_share": round(n_copies / len(docs), 4),
        "mean_tokens": round(float(np.mean([len(d) for d in docs])), 2),
    }
    return table, planted, stats


def table_hash(table: pa.Table) -> str:
    """SHA-256 of the table's Arrow IPC stream (schema and values)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def write_parquet(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files of four row groups each,
    so a scan splits across every core."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // parts)
    for i in range(parts):
        chunk = table.slice(i * per, per)
        pq.write_table(
            chunk,
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=max(1, -(-chunk.num_rows // 4)),
        )
