"""Read-only plan mixes: ``olap`` (TPC-H-style queries over the star
schema) and ``curation`` (the LLM-data operators over documents and
embeddings).

An op is one plan-function call (``plans.build``: DataFrame
construction plus any eager sub-jobs the plan runs) followed by a
noop-sink write that materializes every output column
(``plans.exec``). Counting rows instead would let Catalyst prune the
aggregates away. The verified warm-up collects each plan's first
result of the run and compares it with the plan's DuckDB oracle.

None of these plans reads or builds a ``/tmp`` build-once artifact
(``tables.derived_cache_dir`` or a hard-coded ``/tmp`` root), directly
or through a helper, so a run sees only its own staged inputs.
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from .. import datagen, harness, oracle, stats


class PlanMix:
    name = ""
    tables: tuple[str, ...] = ()
    nominal_round_s = 1.0
    min_rounds = 2

    def __init__(self) -> None:
        self.sizes: dict[str, int] = {}

    # -- inputs -------------------------------------------------------
    def plans(self) -> dict:
        raise NotImplementedError

    def generate(self, rng: np.random.Generator) -> dict:
        raise NotImplementedError

    def stage(self, data_dir: str) -> dict[str, int]:
        rng = np.random.default_rng(datagen.DATA_SEED)
        self.sizes = datagen.write_tables(data_dir, self.generate(rng))
        return self.sizes

    def kinds(self) -> list[str]:
        return list(self.plans())

    def orders(self, seed: int, rounds: int) -> list[list[str]]:
        return harness.round_orders(seed, self.kinds(), rounds)

    def round_size(self) -> int:
        return len(self.plans())

    # -- ops ----------------------------------------------------------
    def op(self, ctx, kind: str) -> None:
        fn = self.plans()[kind]
        with ctx.tracer.span("plans.build"):
            df = fn(ctx.spark, ctx.data_dir)
        with ctx.tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def before(self, ctx, kind: str) -> None:
        pass

    def after(self, ctx, kind: str, ok: bool) -> None:
        pass

    def warm(self, ctx) -> None:
        """Verified warm-up: each plan once, in a seeded order, its
        result collected and checked against the DuckDB oracle."""
        from __spark_entry__ import oracle_sql

        sql = oracle_sql()
        order = random.Random(f"warm-{ctx.seed}").sample(self.kinds(), len(self.kinds()))
        # DuckDB computes the expected results on one thread of its own
        # while Spark computes the actual ones
        with oracle.connect(ctx.data_dir, self.tables) as duck, ThreadPoolExecutor(1) as pool:
            duck.execute("SET threads TO 1")
            want = {k: pool.submit(lambda q: duck.sql(q).fetchdf(), sql[k]) for k in order}
            for kind in order:
                ctx.attempted += 1
                try:
                    got = self.plans()[kind](ctx.spark, ctx.data_dir).toPandas()
                    why = oracle.mismatch(got, want[kind].result())
                except Exception as exc:
                    why = f"{type(exc).__name__}: {str(exc)[:300]}"
                if why is not None:
                    ctx.fail(kind, why)

    def finish(self, ctx) -> dict:
        return {}

    # -- per-layer ----------------------------------------------------
    def layer_metrics(self, ctx, m) -> dict:
        return {
            "plans.build_s": stats.metric(harness.mean_s(ctx.tracer, "plans.build"), "s"),
            "plans.exec_s": stats.metric(harness.mean_s(ctx.tracer, "plans.exec"), "s"),
        }


class Olap(PlanMix):
    name = "olap"
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    sf = 0.1
    nominal_round_s = 14.4

    def plans(self) -> dict:
        from map_reduce_rpc_spark.plans import relational as r

        return {
            "q1_pricing_summary": r.q1_pricing_summary,
            "q3_shipping_priority": r.q3_shipping_priority,
            "q4_order_priority": r.q4_order_priority,
            "q5_local_supplier_volume": r.q5_local_supplier_volume,
            "q7_nation_volume": r.q7_nation_volume,
            "q8_market_share": r.q8_market_share,
            "q9_product_profit": r.q9_product_profit,
            "q10_returned_items": r.q10_returned_items,
            "q12_ship_latency": r.q12_ship_latency,
            "q13_order_distribution": r.q13_order_distribution,
            "q14_promo_effect": r.q14_promo_effect,
            "q17_small_quantity": r.q17_small_quantity,
            "q18_large_volume": r.q18_large_volume,
            "q19_discounted_revenue": r.q19_discounted_revenue,
            "q21_waiting_suppliers": r.q21_waiting_suppliers,
            "q22_dormant_rich": r.q22_dormant_rich,
        }

    def generate(self, rng):
        return datagen.star_schema(rng, self.sf)


class Curation(PlanMix):
    name = "curation"
    tables = ("documents", "embeddings")
    n_docs = 500
    n_vecs = 500
    nominal_round_s = 8.7
    # The three iterative dedup plans (minhash_dups, simhash_dups,
    # dup_clusters) are the slowest kinds: about 1.2-2 s each on a
    # 4-core box, against at most about 1 s for the rest. Over four
    # rounds they give twelve samples, so the 11th-slowest op (the
    # tail) falls among them. Over three they give nine, and the tail
    # is the second-slowest of the next group, whose close, noisy
    # samples reorder from run to run.
    min_rounds = 4

    def plans(self) -> dict:
        from map_reduce_rpc_spark.plans import parity, textops, vectors

        return {
            "wordcount": parity.wordcount,
            "inverted_index": parity.inverted_index,
            "minhash_dups": textops.minhash_dups,
            "simhash_dups": textops.simhash_dups,
            "dup_clusters": textops.dup_clusters,
            "bm25_search_topk": textops.bm25_search_topk,
            "tfidf_top_terms": textops.tfidf_top_terms,
            "doc_quality": textops.doc_quality,
            "similarity_topk": vectors.similarity_topk,
            "semantic_dedup": vectors.semantic_dedup,
        }

    def generate(self, rng):
        return {
            "documents": datagen.documents(rng, self.n_docs),
            "embeddings": datagen.embeddings(rng, self.n_vecs),
        }

    def layer_metrics(self, ctx, m) -> dict:
        """Adds one direct, traced call of each curation operator on the
        run's inputs, materialized through the noop sink."""
        from map_reduce_rpc_spark.operators import dedup, graph, similarity
        from map_reduce_rpc_spark.tables import load_table

        out = super().layer_metrics(ctx, m)
        docs = load_table(ctx.spark, ctx.data_dir, "documents")
        emb = load_table(ctx.spark, ctx.data_dir, "embeddings")
        # the components call gets its edges as a local frame, so its
        # time excludes finding the pairs
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text").select("id_a", "id_b")
        edges = ctx.spark.createDataFrame(pairs.collect(), pairs.schema)
        calls = {
            "operators.dedup.minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text"),
            "operators.dedup.simhash_pairs": lambda: dedup.simhash_pairs(docs, "doc_id", "text"),
            "operators.similarity.brute_force_topk": lambda: similarity.brute_force_topk(emb, list(range(8))),
            "operators.graph.connected_components": lambda: graph.connected_components(edges),
        }
        ctx.tracer.enabled = True
        for name, call in calls.items():
            t0 = time.perf_counter()
            with ctx.tracer.span(name):
                call().write.format("noop").mode("overwrite").save()
            out[f"{name}_s"] = stats.metric(time.perf_counter() - t0, "s")
        ctx.tracer.enabled = False
        return out
