"""The benchmark's workloads.

A workload stages its inputs in ``setup`` and then runs passes of
fixed work.  A pass is a list of named operations; each returns True
when its output checks out.  The operations named in ``writes`` land
data (client batches, index builds and appends); every other operation
is a gate.  ``finish`` runs the end-of-run output checks.

Layers are named after the package modules they live in
(``plans.silver``, ``operators.tpch``, ``streaming`` ...); README.md
says which end-to-end metric each should move.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

import datagen

PKG = "python_sql_datawarehouse_project_spark"
HERE = os.path.dirname(os.path.abspath(__file__))

# one gate per star-schema module, plus one stream drain
STAR_GATES = (
    "q1_monthly_sales_product",  # operators.analytics (EDA #1)
    "q19_disjunctive_revenue",  # operators.tpch
    "q24_order_priority_check",  # operators.tpch2
    "w3_surrogate_keys",  # operators.windows
    "w9_running_distinct",  # operators.windows_extra
    "ev14_mode_event_type",  # operators.events
    "stream_dedup_events",  # streaming
)
# one gate per corpus module: the fixpoint loops and the Python-UDF stages.
# operators.kmeans has no gate of its own (sim4 cost ~5 s a run, which the
# run-time budget does not hold); its Lloyd loop runs inside dd20.
CORPUS_GATES = (
    "gr1_pagerank_fixedpoint",  # operators.graph: PageRank fixpoint
    "tx10_textrank",  # operators.text: TextRank fixpoint
    "q9_delayed_orders_chain",  # operators.recursive: bounded recursion
    "dd20_semdedup_capped",  # operators.semdedup: k-means (operators.kmeans Lloyd) + dedup
    "dd1_exact_dedup",  # operators.dedup (its CC loop runs in refresh_clusters)
    "mm5_peak_frame",  # operators.multimodal: pandas UDF
    "ux1_pandas_udaf",  # operators.udtfs: pandas UDAF
    "hh1_frequent_items",  # operators.approx: Misra-Gries sketch
)
BATCH = "batch000001"  # sorts after the indexes' base id "base"


@dataclass
class Ctx:
    spark: object
    root: str  # the run's temp root
    tables: str  # generated registry tables
    rng: random.Random
    tracer: object
    state: dict = field(default_factory=dict)


def layer_of(fn) -> str:
    """'operators.tpch' for a gate defined in operators/tpch.py; every
    streaming module folds into the one 'streaming' layer."""
    mod = fn.__module__.removeprefix(PKG + ".")
    return "streaming" if mod.startswith("streaming") else mod


def gate_digest(spark, fn, tables: str) -> list:
    """[row count, order-insensitive hash-sum] of one gate's output,
    as testing.compare_hashed computes the Spark side."""
    from python_sql_datawarehouse_project_spark.testing import _spark_row_hash

    h = _spark_row_hash(fn(spark, tables))
    return [int(h["n"]), None if h["hsum"] is None else str(int(h["hsum"]))]


class Workload:
    """Shared gate handling: each pass runs every gate of ``gates`` once,
    in an order the seed shuffles (one closed-loop client), and checks
    each output's digest against ``digests.json``."""

    gates: tuple[str, ...] = ()
    writes: tuple[str, ...] = ()

    def setup(self, ctx: Ctx) -> None:
        from python_sql_datawarehouse_project_spark import registry
        from python_sql_datawarehouse_project_spark.catalog import load_table

        ctx.state["queries"] = registry.queries()
        with open(os.path.join(HERE, "digests.json")) as f:
            ctx.state["digests"] = json.load(f)
        load_table(ctx.spark, ctx.tables, "lineitem").count()  # warm-up

    def gate_ops(self, ctx: Ctx) -> list:
        order = list(self.gates)
        ctx.rng.shuffle(order)
        return [self.gate_op(ctx, g) for g in order]

    def gate_op(self, ctx: Ctx, name: str):
        fn = ctx.state["queries"][name]

        def op() -> bool:
            with ctx.tracer.span(layer_of(fn)):
                got = gate_digest(ctx.spark, fn, ctx.tables)
            return got == ctx.state["digests"][name]

        return name, op


class Warehouse(Workload):
    """The paper's own workload: land a client batch through bronze ->
    silver -> gold -> nine MVs, then answer star-schema queries.

    Each pass registers a fresh client and lands one batch of CSV files
    through ``process_client(mode="start", mv_mode="incremental")``; the
    seed picks which order keys the batch carries.  Then the star and
    stream gates run."""

    name = "warehouse"
    gates = STAR_GATES
    writes = ("client_batch",)
    batch_orders = 3000  # ~12k sales lines
    order_space = 200_000
    n_cust, n_part = 15_000, 20_000

    def setup(self, ctx: Ctx) -> None:
        super().setup(ctx)
        from python_sql_datawarehouse_project_spark.plans.ingest import IngestPlan
        from python_sql_datawarehouse_project_spark.sources.mapping import ColumnMapping
        from python_sql_datawarehouse_project_spark.sources.validation import SourceConfig

        ctx.state["plan"] = IngestPlan(
            configs=[SourceConfig(s, "csv", lf, t) for s, lf, t, _ in datagen.CLIENT_FILES],
            mappings={
                t: [ColumnMapping(c, c, ty) for c, ty in cols]
                for _, _, t, cols in datagen.CLIENT_FILES
            },
        )
        ctx.state.setdefault("clients", 0)

    def pass_ops(self, ctx: Ctx) -> list:
        """Stages the batch's CSV files first, so the timed operation is
        only the ``process_client`` call."""
        from python_sql_datawarehouse_project_spark.plans.clients import (
            ClientRegistry, ClientSources, process_client,
        )

        s = ctx.state
        s["clients"] += 1
        client = f"client{s['clients']}"
        reg = ClientRegistry(os.path.join(ctx.root, "clients"))
        reg.register(client)
        s.setdefault("runs", []).append((reg, client))
        dirs = {k: os.path.join(ctx.root, "raw", client, k, "incoming") for k in ("crm", "erp")}
        for d in dirs.values():
            os.makedirs(d)
        keys = np.sort(ctx.rng.sample(range(self.order_space), self.batch_orders))
        datagen.write_client_batch(dirs, "B1", keys, self.n_cust, self.n_part)
        sources = ClientSources(s["plan"], dirs)

        def batch() -> bool:
            r = process_client(ctx.spark, reg, client, "start", sources, mv_mode="incremental")
            return all(f.status == "LOADED" for f in r.ingested) and all(
                ok for g in r.results.values() for ok, _, _ in g.values()
            )

        return [("client_batch", batch)] + self.gate_ops(ctx)

    def finish(self, ctx: Ctx) -> tuple[int, list[str]]:
        """Every run-log row is SUCCESS, and each of the six incremental
        MVs equals its full-history recompute row for row (all six
        compared in one Spark job).  Returns (checks made, failures)."""
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from python_sql_datawarehouse_project_spark.plans import mv_incremental as mi
        from python_sql_datawarehouse_project_spark.plans.mv import MVS

        logs = ("transformation_log", "integration_log", "mv_refresh_log",
                "job_execution_log")
        problems, checks, diffs = [], 0, []
        for reg, client in ctx.state.get("runs", []):
            checks += len(logs) + len(mi.INCREMENTAL)
            log = reg.runlog(client)
            for table in logs:
                bad = [r for r in log.read(table) if r.get("status") != "SUCCESS"]
                if bad:
                    problems.append(f"{client} {table}: {len(bad)} rows not SUCCESS")
            wh = reg.warehouse(ctx.spark, client)
            last = reg.get(client).last_batch_id
            for name in mi.INCREMENTAL:
                full = MVS[name](wh, None)
                inc = wh.read_batch("mv", name, last).select(*full.columns)
                diff = inc.exceptAll(full).unionByName(full.exceptAll(inc))
                diffs.append(diff.agg(F.count(F.lit(1)).alias("n")).select(
                    F.lit(f"{client} {name}").alias("mv"), "n"))
        if diffs:
            for r in reduce(DataFrame.unionByName, diffs).collect():
                if r["n"]:
                    problems.append(f"{r['mv']}: {r['n']} rows differ from a full-history recompute")
        return checks, problems


class Corpus(Workload):
    """The LLM-data side: the persisted-index ingest loop plus the
    corpus gates (fixpoint loops and Python-UDF stages).

    Each pass builds the capped DedupIndex and the BloomIndex over the
    corpus, lands one seeded text batch (Bloom screen -> probe+land ->
    keep/route), refreshes the cluster labels, and then runs the corpus
    gates."""

    name = "corpus"
    gates = CORPUS_GATES
    writes = ("index_build", "text_ingest", "maintenance")
    text_batch = 50

    def setup(self, ctx: Ctx) -> None:
        super().setup(ctx)
        from pyspark.sql import functions as F

        from python_sql_datawarehouse_project_spark.catalog import load_table
        from python_sql_datawarehouse_project_spark.operators.text import BENCH_MOD

        docs = load_table(ctx.spark, ctx.tables, "documents")
        n_docs = docs.count()
        # batches come from the top fifth of the ids; the corpus is the
        # rest, minus the eval ids (multiples of BENCH_MOD)
        cut = n_docs * 4 // 5
        ctx.state.update(
            docs=docs,
            pool=[i for i in range(cut, n_docs) if i % BENCH_MOD],
            corpus_docs=docs.where((F.col("doc_id") % BENCH_MOD != 0) & (F.col("doc_id") < cut)),
            eval_docs=docs.where(F.col("doc_id") % BENCH_MOD == 0),
        )

    def pass_ops(self, ctx: Ctx) -> list:
        s = ctx.state
        s["passes"] = n = s.get("passes", 0) + 1
        s["batch_ids"] = ids = sorted(ctx.rng.sample(s["pool"], self.text_batch))
        return [
            ("index_build", lambda: self.build(ctx, f"pass{n}")),
            ("text_ingest", lambda: self.text_ingest(ctx, ids)),
            ("maintenance", lambda: self.refresh(ctx)),
        ] + self.gate_ops(ctx)

    def build(self, ctx: Ctx, tag: str) -> bool:
        from python_sql_datawarehouse_project_spark.operators.text import _doc_grams
        from python_sql_datawarehouse_project_spark.plans.bloom_index import BloomIndex
        from python_sql_datawarehouse_project_spark.plans.dedup_index import DedupIndex
        from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse

        s, tr = ctx.state, ctx.tracer
        wh = Warehouse(ctx.spark, os.path.join(ctx.root, "index", tag))
        s.update(
            wh=wh, landed_docs=[], didx=DedupIndex(wh, batch_id="base", capped=True),
            bidx=BloomIndex(wh),
        )
        with tr.span("plans.dedup_index"):
            base = s["didx"].build_docs(ctx.spark, s["corpus_docs"])
        with tr.span("plans.bloom_index"):
            words = s["bidx"].build(
                ctx.spark, _doc_grams(s["eval_docs"]).select("h").distinct(), "base"
            )
        return base["doc_ids"] > 0 and words > 0

    def text_ingest(self, ctx: Ctx, ids: list[int]) -> bool:
        """Gives every batch doc one verdict: contaminated (a Bloom hit
        on the eval grams), duplicate (routed to a corpus cluster's
        canonical doc) or keep.  The verdicts are checked against
        independent references in ``finish``."""
        from pyspark.sql import functions as F

        from python_sql_datawarehouse_project_spark.operators.text import _doc_grams

        s, tr = ctx.state, ctx.tracer
        batch = s["docs"].where(F.col("doc_id").isin(ids))
        with tr.span("plans.bloom_index"):
            hits = s["bidx"].probe(ctx.spark, _doc_grams(batch))
            flagged = {
                r[0] for r in hits.where(F.col("n_bloom_hits") > 0).select("doc_id").collect()
            }
        survivors = [i for i in ids if i not in flagged]
        with tr.span("plans.dedup_index"):
            s["didx"].append_batch(
                ctx.spark, batch.where(F.col("doc_id").isin(survivors)), BATCH,
                refresh_clusters=False,
            )
            routed = {r[0] for r in self.keep_route(ctx).collect()}
        s["landed_docs"] = survivors
        s.setdefault("screens", []).append((ids, flagged))
        s["routed"] = routed
        return True

    def keep_route(self, ctx: Ctx):
        """New doc ids with a corpus duplicate whose cluster has a
        canonical (keep) doc, from the batch's landed pairs."""
        from pyspark.sql import functions as F

        from python_sql_datawarehouse_project_spark.plans.dedup_index import LAYER

        s = ctx.state
        new_ids = s["wh"].read_batch(LAYER, "doc_ids", BATCH).select("doc_id")
        pairs = s["wh"].read_batch(LAYER, "text_pairs", BATCH)
        a = new_ids.withColumnRenamed("doc_id", "doc_a")
        b = new_ids.withColumnRenamed("doc_id", "doc_b")
        cross = (
            pairs.join(a, "doc_a", "left_semi").join(b, "doc_b", "left_anti")
            .select(F.col("doc_a").alias("new_id"), F.col("doc_b").alias("corpus_id"))
            .unionByName(
                pairs.join(b, "doc_b", "left_semi").join(a, "doc_a", "left_anti")
                .select(F.col("doc_b").alias("new_id"), F.col("doc_a").alias("corpus_id"))
            )
        )
        clusters = s["didx"]._latest("clusters")
        keepers = clusters.where(F.col("keep")).select("cluster_id")
        return (
            cross.join(clusters.select("doc_id", "cluster_id"),
                       cross["corpus_id"] == F.col("doc_id"))
            .join(keepers, "cluster_id")
            .select("new_id").distinct()
        )

    def refresh(self, ctx: Ctx) -> bool:
        with ctx.tracer.span("plans.dedup_index"):
            return ctx.state["didx"].refresh_clusters(ctx.spark, BATCH) > 0

    def finish(self, ctx: Ctx) -> tuple[int, list[str]]:
        """Checks the verdicts against references computed another way.

        * Screen, every pass: the docs the Bloom probe flagged are
          exactly the batch docs that share a gram with the eval docs,
          from an exact semi-join.  A Bloom filter has no false
          negatives; on the fixed tables it has no false positives
          either, over the whole batch pool, so this holds for any seed.
        * Route, last pass: the docs routed as duplicates are exactly
          the landed docs that a from-scratch ``build_docs`` over the
          corpus plus the landed docs pairs with a corpus doc (every
          cluster has one keep doc, its least id).
        * Maintenance, last pass: the refreshed cluster labels equal
          that rebuild's labels."""
        from pyspark.sql import functions as F

        from python_sql_datawarehouse_project_spark.operators.text import _doc_grams
        from python_sql_datawarehouse_project_spark.plans.dedup_index import DedupIndex
        from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse

        s = ctx.state
        if "didx" not in s:
            return 0, []
        problems, screens = [], s.get("screens", [])
        screened = sorted({i for ids, _ in screens for i in ids})
        exact = {r[0] for r in (
            _doc_grams(s["docs"].where(F.col("doc_id").isin(screened)))
            .join(_doc_grams(s["eval_docs"]).select("h").distinct(), "h", "left_semi")
            .select("doc_id").distinct().collect()
        )}
        for n, (ids, flagged) in enumerate(screens, 1):
            want = exact & set(ids)
            if flagged != want:
                problems.append(f"pass {n}: the Bloom screen flagged {sorted(flagged)}, "
                                f"the exact gram join {sorted(want)}")
        ref = DedupIndex(
            Warehouse(ctx.spark, os.path.join(ctx.root, "index", "rebuild")),
            batch_id="base", capped=True,
        )
        ref.build_docs(
            ctx.spark,
            s["corpus_docs"].unionByName(s["docs"].where(F.col("doc_id").isin(s["landed_docs"]))),
        )
        landed = set(s["landed_docs"])
        want_routed = {
            a if a in landed else b
            for a, b in ref._all("text_pairs").select("doc_a", "doc_b").collect()
            if (a in landed) != (b in landed)
        }
        routed = s.get("routed", set())
        if routed != want_routed:
            problems.append(f"routed {sorted(routed)} as duplicates, "
                            f"the rebuild's pairs give {sorted(want_routed)}")
        cols = ("doc_id", "cluster_id", "keep")
        got = {tuple(r) for r in s["didx"]._latest("clusters").select(*cols).collect()}
        want = {tuple(r) for r in ref._latest("clusters").select(*cols).collect()}
        if got != want:
            problems.append(f"cluster labels differ from a rebuild on {len(got ^ want)} rows")
        return len(screens) + 2, problems


WORKLOADS = {w.name: w for w in (Warehouse, Corpus)}
