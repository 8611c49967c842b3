"""The benchmark's workloads: seeded inputs, one job each, output checks.

Each workload generates its input from the seed (``generate``, which also
runs the DuckDB oracle), does its one-off Spark preparation (``prepare``),
then runs jobs in a closed loop (``job``), each checked by ``check``.
Jobs call only the public API of ``polars_nexpresso_spark`` and wrap each
call into a layer in a span named ``<layer>.<function>``.

- ``pack_etl``: the write and shuffle path — pack a skewed flat hierarchy
  to its root, write it, read it back, unpack to the leaf, checksum.
  Packer grouping, sorting and shuffles plus ``sources.io`` do the work.
- ``nested_query``: the read path on a packed dataset built in set-up —
  each job runs a mix of seven short cross-level, nested expression and
  unpack queries, one after another. Driver-side planning dominates, and
  it reads the nested layout ``pack_etl`` writes.
- ``dedup_pipeline``: MinHash LSH, connected components and keep-best
  over a corpus with planted near-duplicates. ``functions.dedup`` and
  ``functions.text`` do all the work; packer and expressions do none.

``BENCHMARK.json`` runs the last two; see ``STABILITY.md`` for why
``pack_etl`` is left out.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import duckdb

from perfbench import gen
from perfbench.gen import LEAF, MID, ROOT

# Input sizes, far below sf0.1: a run has to fit session start, a cold first
# job, warm-up and a timed loop of several jobs into about a minute.
LEAF_ROWS = 40_000
DEDUP_DOCS = 1_000
DEDUP_DUP_SHARE = 0.15
# Planted (base, copy) pairs that must land in one cluster. A minimum-length
# copy has Jaccard 0.81 with its base, which 8×4 banding finds ≥ 98.9% of the
# time, so a correct pipeline stays well above this.
RECALL_FLOOR = 0.95

C_ID, C_SEG, C_SCORE = f"{ROOT}.c_id", f"{ROOT}.c_seg", f"{ROOT}.c_score"
O_ID, O_PRIO, O_DISC = f"{ROOT}.{MID}.o_id", f"{ROOT}.{MID}.o_prio", f"{ROOT}.{MID}.o_disc"
I_LINE = f"{ROOT}.{MID}.{LEAF}.i_line"
I_QTY = f"{ROOT}.{MID}.{LEAF}.i_qty"
I_CENTS = f"{ROOT}.{MID}.{LEAF}.i_cents"
I_FLAG = f"{ROOT}.{MID}.{LEAF}.i_flag"

# Order-independent integer checksum of a flat leaf table, over the short
# column names; Spark and DuckDB run the same SQL.
CHECKSUM_SQL = (
    "COUNT(*)",
    "SUM(((c_id * 1000003 + o_id) * 1009 + i_line) % 1000003"
    " * (i_qty + i_cents % 997 + 1))",
    "SUM(o_prio * 7 + LENGTH(c_seg) * 3 + ASCII(i_flag)"
    " + CAST(ROUND(o_disc * 100) AS BIGINT)"
    " + CAST(ROUND(c_score * 100) AS BIGINT) % 1009)",
)
FLAT_NAMES = {
    "c_id": C_ID, "c_seg": C_SEG, "c_score": C_SCORE,
    "o_id": O_ID, "o_prio": O_PRIO, "o_disc": O_DISC,
    "i_line": I_LINE, "i_qty": I_QTY, "i_cents": I_CENTS, "i_flag": I_FLAG,
}


@dataclass
class Context:
    spark: object
    work: str  # scratch directory for inputs and outputs
    seed: int
    cores: int


def hierarchy_spec():
    from polars_nexpresso_spark import HierarchySpec, LevelSpec

    return HierarchySpec.from_levels(
        LevelSpec(name=ROOT, id_fields=["c_id"]),
        LevelSpec(name=MID, id_fields=["o_id"]),
        LevelSpec(name=LEAF, id_fields=["i_line"]),
    )


def _write_hierarchy(ctx: Context, path: str) -> dict:
    """Generate the seeded flat hierarchy into ``path``; returns its facts."""
    table, facts = gen.hierarchy(ctx.seed, LEAF_ROWS)
    facts["data_sha256"] = gen.table_hash(table)[:16]
    shutil.rmtree(path, ignore_errors=True)
    gen.write_parquet(table, path, parts=ctx.cores * 2)
    return facts


def _duck_flat_view(con, path: str) -> None:
    """Expose the flat parquet files in DuckDB as view ``f`` with short names."""
    cols = ", ".join(f'"{full}" AS {short}' for short, full in FLAT_NAMES.items())
    con.execute(
        f"CREATE OR REPLACE VIEW f AS SELECT {cols} "
        f"FROM read_parquet('{path}/*.parquet')"
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _same(got: tuple, want: tuple) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if isinstance(w, float) or isinstance(g, float):
            if g is None or not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif g != w:
            return False
    return True


class Workload:
    """Defaults shared by the workloads below."""

    def after(self, i: int) -> None:
        """Release what job ``i`` left behind, after its check."""

    def layer_facts(self) -> dict:
        """Exact counts of the last checked job, for the traced run."""
        return {}


class PackEtl(Workload):
    name = "pack_etl"
    rows_unit = "leaf rows"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.flat = os.path.join(ctx.work, "flat")
        self.out = os.path.join(ctx.work, "packed.parquet")

    def generate(self) -> None:
        self.facts = _write_hierarchy(self.ctx, self.flat)
        self.rows = self.facts["leaf_rows"]
        with duckdb.connect() as con:
            _duck_flat_view(con, self.flat)
            row = con.execute(f"SELECT {', '.join(CHECKSUM_SQL)} FROM f").fetchone()
        self.expected = tuple(int(v) for v in row)

    def prepare(self, tr) -> None:
        from polars_nexpresso_spark import HierarchicalPacker

        self.packer = HierarchicalPacker(hierarchy_spec())

    def job(self, i: int, tr):
        from polars_nexpresso_spark.sources.io import write_any

        spark = self.ctx.spark
        flat = spark.read.parquet(self.flat)
        with tr.span("packer.pack"):
            packed = self.packer.pack(flat, ROOT)
        with tr.span("io.write_any", "action") as s:
            write_any(packed, self.out)
        if s is not None:
            s.attrs.update(bytes=dir_bytes(self.out), leaf_rows=self.rows)
        back = spark.read.parquet(self.out)
        with tr.span("packer.unpack"):
            leaf = self.packer.unpack(back, LEAF)
        with tr.span("action.collect", "action"):
            short = [f"`{full}` AS {name}" for name, full in FLAT_NAMES.items()]
            row = leaf.selectExpr(*short).selectExpr(*CHECKSUM_SQL).collect()[0]
        return tuple(row)

    def check(self, i: int, out) -> str | None:
        if out != self.expected:
            return f"roundtrip checksum {out} != oracle {self.expected}"
        return None


# Each nested query: (name, DuckDB SQL over view ``f`` giving the expected
# small aggregate). The Spark side is NestedQuery._<name>.
NESTED_ORACLE = {
    "enrich": """
        WITH o AS (SELECT c_id, o_id, COUNT(*) n, SUM(i_qty) s, AVG(i_qty) m
                   FROM f GROUP BY c_id, o_id),
             c AS (SELECT c_id, SUM(n) n, SUM(s) s, AVG(m) mm FROM o GROUP BY c_id)
        SELECT SUM(n), SUM(s), SUM(mm), MAX(n) FROM c""",
    "any_child": """
        SELECT COUNT(*), SUM(c_id) FROM
          (SELECT c_id FROM f GROUP BY c_id HAVING bool_or(o_prio = 1))""",
    "all_children": """
        SELECT COUNT(*), SUM(c_id) FROM
          (SELECT c_id FROM f GROUP BY c_id HAVING bool_and(o_prio <= 4))""",
    "attr_filter": """
        SELECT COUNT(*), SUM(c_id), SUM(s) FROM
          (SELECT c_id, SUM(i_cents) s FROM f GROUP BY c_id) WHERE s > 150000""",
    "nested_with_fields": """
        SELECT COUNT(DISTINCT c_id), SUM(2 * i_qty) FROM f""",
    "nested_select": """
        WITH o AS (SELECT c_id, o_id, ANY_VALUE(o_prio) p, SUM(i_cents + 1) s
                   FROM f GROUP BY c_id, o_id)
        SELECT (SELECT SUM(DISTINCT c_id) FROM f), SUM(s), SUM(p) FROM o""",
    "unpack_mid": """
        SELECT COUNT(*), SUM(p), SUM(n) FROM
          (SELECT o_id, ANY_VALUE(o_prio) p, COUNT(*) n FROM f GROUP BY o_id)""",
}


class NestedQuery(Workload):
    """One job runs every query of the mix once, in a fixed order. The
    queries fall into a fast group (~0.25 s) and a slow one (~0.6 s), so the
    median of single-query jobs would sit on the edge between the groups."""

    name = "nested_query"
    rows_unit = "packed root rows scanned"
    queries = tuple(NESTED_ORACLE)

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.flat = os.path.join(ctx.work, "flat")
        self.packed = os.path.join(ctx.work, "packed.parquet")

    def generate(self) -> None:
        self.facts = _write_hierarchy(self.ctx, self.flat)
        self.rows = self.facts["roots"] * len(self.queries)
        with duckdb.connect() as con:
            _duck_flat_view(con, self.flat)
            self.expected = {
                q: tuple(v if isinstance(v, float) else int(v)
                         for v in con.execute(sql).fetchone())
                for q, sql in NESTED_ORACLE.items()
            }

    def prepare(self, tr) -> None:
        """Pack the flat input to its root once and write it: the dataset
        every job reads."""
        from polars_nexpresso_spark import HierarchicalPacker
        from polars_nexpresso_spark.sources.io import write_any

        self.packer = HierarchicalPacker(hierarchy_spec())
        flat = self.ctx.spark.read.parquet(self.flat)
        with tr.span("packer.pack"):
            packed = self.packer.pack(flat, ROOT)
        with tr.span("io.write_any", "action") as s:
            write_any(packed, self.packed)
        if s is not None:
            s.attrs.update(bytes=dir_bytes(self.packed), leaf_rows=self.facts["leaf_rows"])

    def job(self, i: int, tr):
        out = []
        for q in self.queries:
            p = self.ctx.spark.read.parquet(self.packed)
            agg = getattr(self, f"_{q}")(p, tr)
            with tr.span("action.collect", "action"):
                out.append((q, tuple(agg.collect()[0])))
        return out

    def check(self, i: int, out) -> str | None:
        bad = [f"{q}: {got} != oracle {self.expected[q]}"
               for q, got in out if not _same(got, self.expected[q])]
        return "; ".join(bad) or None

    # --- the query mix -------------------------------------------------------

    def _enrich(self, p, tr):
        from pyspark.sql import functions as F

        from polars_nexpresso_spark import LevelAttribute

        with tr.span("crosslevel.enrich"):
            e = self.packer.enrich(
                p,
                LevelAttribute("i_qty", LEAF, "count", alias="n_items"),
                LevelAttribute("i_qty", LEAF, "sum", alias="qty_sum"),
                LevelAttribute("i_qty", LEAF, "mean", alias="qty_mm"),
                at_level=ROOT,
            )
        col = lambda name: F.col(f"`{ROOT}.{name}`")  # noqa: E731
        return e.agg(
            F.sum(col("n_items")).cast("long"),
            F.sum(col("qty_sum")).cast("long"),
            F.sum(col("qty_mm")),
            F.max(col("n_items")).cast("long"),
        )

    def _any_child(self, p, tr):
        from pyspark.sql import functions as F

        with tr.span("crosslevel.any_child_satisfies"):
            r = self.packer.any_child_satisfies(
                p, from_level=MID, to_level=ROOT, condition=lambda e: e["o_prio"] == 1
            )
        return r.agg(F.count("*"), F.sum(F.col(ROOT)["c_id"]))

    def _all_children(self, p, tr):
        from pyspark.sql import functions as F

        with tr.span("crosslevel.all_children_satisfy"):
            r = self.packer.all_children_satisfy(
                p, from_level=MID, to_level=ROOT, condition=lambda e: e["o_prio"] <= 4
            )
        return r.agg(F.count("*"), F.sum(F.col(ROOT)["c_id"]))

    def _attr_filter(self, p, tr):
        from pyspark.sql import functions as F

        with tr.span("crosslevel.attribute_expr"):
            spend = self.packer.attribute_expr("i_cents", LEAF, ROOT, "sum", frame=p)
        r = p.filter(spend > 150_000)
        return r.agg(F.count("*"), F.sum(F.col(ROOT)["c_id"]), F.sum(spend).cast("long"))

    def _nested_with_fields(self, p, tr):
        from pyspark.sql import functions as F

        from polars_nexpresso_spark import apply_nested_operations

        with tr.span("expressions.apply_nested_operations"):
            t = apply_nested_operations(
                p,
                {ROOT: {MID: {LEAF: {"i_qty": lambda c: c * 2}}}},
                struct_mode="with_fields",
                use_with_columns=True,
            )
        with tr.span("crosslevel.attribute_expr"):
            qty = self.packer.attribute_expr("i_qty", LEAF, ROOT, "sum", frame=t)
        return t.agg(F.count("*"), F.sum(qty).cast("long"))

    def _nested_select(self, p, tr):
        from pyspark.sql import functions as F

        from polars_nexpresso_spark import apply_nested_operations

        with tr.span("expressions.apply_nested_operations"):
            t = apply_nested_operations(
                p,
                {ROOT: {"c_id": None, MID: {"o_prio": None, LEAF: {"i_cents": lambda c: c + 1}}}},
                struct_mode="select",
            )
        with tr.span("crosslevel.attribute_expr"):
            cents = self.packer.attribute_expr("i_cents", LEAF, ROOT, "sum", frame=t)
            prio = self.packer.attribute_expr("o_prio", MID, ROOT, "sum", frame=t)
        return t.agg(
            F.sum(F.col(ROOT)["c_id"]), F.sum(cents).cast("long"), F.sum(prio).cast("long")
        )

    def _unpack_mid(self, p, tr):
        from pyspark.sql import functions as F

        with tr.span("packer.unpack"):
            u = self.packer.unpack(p, MID)
        return u.agg(
            F.count("*"),
            F.sum(F.col(f"`{O_PRIO}`")).cast("long"),
            F.sum(F.size(F.col(f"`{ROOT}.{MID}.{LEAF}`"))).cast("long"),
        )


class DedupPipeline(Workload):
    name = "dedup_pipeline"
    rows_unit = "documents"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "corpus")
        self.reference = None  # (docs, kept, keep-set hash) of the first job
        self.counts: dict = {}

    def generate(self) -> None:
        table, self.planted, self.facts = gen.corpus(
            self.ctx.seed, DEDUP_DOCS, DEDUP_DUP_SHARE
        )
        self.facts["data_sha256"] = gen.table_hash(table)[:16]
        self.facts["recall_floor"] = RECALL_FLOOR
        shutil.rmtree(self.path, ignore_errors=True)
        gen.write_parquet(table, self.path, parts=self.ctx.cores)
        self.rows = self.facts["docs"]

    def prepare(self, tr) -> None:
        ids = sorted({d for pair in self.planted for d in pair})
        self.planted_ids = self.ctx.spark.createDataFrame(
            [(d,) for d in ids], "doc_id long"
        ).cache()
        self.planted_ids.count()

    def job(self, i: int, tr):
        from pyspark.sql import functions as F

        from polars_nexpresso_spark.functions.dedup import (
            dedup_clusters,
            keep_best_in_clusters,
            minhash_lsh_pairs,
        )
        from polars_nexpresso_spark.functions.text import token_count

        docs = self.ctx.spark.read.parquet(self.path)
        with tr.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(docs, "text", "doc_id")
        with tr.span("dedup.dedup_clusters"):
            clusters = dedup_clusters(docs, pairs, "doc_id")
        scored = docs.withColumn("score", token_count(F.col("text")))
        with tr.span("dedup.keep_best_in_clusters"):
            keep = keep_best_in_clusters(scored, clusters, "doc_id", "score")
        with tr.span("action.collect", "action"):
            row = keep.agg(
                F.count("*"),
                F.sum(F.col("keep").cast("long")),
                F.bit_xor(F.when(F.col("keep"), F.xxhash64("doc_id"))),
            ).collect()[0]
        self._last = (pairs, clusters)
        return tuple(row)

    def check(self, i: int, out) -> str | None:
        pairs, clusters = self._last
        n, kept, keep_hash = out
        if n != self.rows:
            return f"{n} labelled docs != {self.rows} generated"
        if self.reference is None:
            self.reference = out
        elif out != self.reference:
            return f"keep set {out} differs from the run's first job {self.reference}"
        labels = dict(
            clusters.join(self.planted_ids, "doc_id").select("doc_id", "cluster_id").collect()
        )
        hits = sum(labels.get(a) is not None and labels.get(a) == labels.get(b)
                   for a, b in self.planted)
        recall = hits / len(self.planted)
        self.counts = {"kept_docs": kept, "planted_recall": recall}
        if recall < RECALL_FLOOR:
            return f"planted recall {recall:.4f} < floor {RECALL_FLOOR}"
        return None

    def after(self, i: int) -> None:
        from polars_nexpresso_spark.functions.dedup import release_blocking_caches

        self._last = None
        release_blocking_caches()

    def layer_facts(self) -> dict:
        """Exact counts for the traced run (pairs_out costs one more action)."""
        pairs, _ = self._last
        return dict(self.counts, pairs_out=pairs.count())


WORKLOADS = {w.name: w for w in (PackEtl, NestedQuery, DedupPipeline)}
