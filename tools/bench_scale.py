"""Scale-step bench: run production-shaped workloads at a base SF dir
and at the 10x-tiled dir (tools/gen_scale_fixture.py), print per-query
times and the wall-time ratio. A plan that holds at 100 TB should show
a near-linear (~10x at 32 fixed cores, i.e. ratio ≈ 10 of pure work —
less where the base run is overhead-dominated) step; a quadratic plan
shows ~100x.

Workloads are the PRODUCTION paths, chosen so the *workload itself*
scales linearly with the data (unlike some adjudication queries, which
embed superlinear exact-oracle recomputation for the correctness gate —
e.g. dedup_lsh_pairs' in-plan exact-Jaccard baseline, or knn queries
whose query-set size grows with the corpus):
- ANN/brute-force use the FIXED 80-query set from the base SF (tile 0
  preserves original vec_ids, so the same queries exist at both SFs);
- near-dup timing is minhash_lsh_pairs itself, not the oracle sandwich.

Usage: python tools/bench_scale.py [base_dir] [scaled_dir]
Prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def workloads(spark, sf_dir: str, base_dir: str):
    """name -> zero-arg callable returning a DataFrame to count()."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dedup import minhash_lsh_pairs
    from uma_etl_iis_loader_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from uma_etl_iis_loader_spark.plans.registry import QUERIES

    def from_registry(name):
        return lambda: QUERIES[name](spark, sf_dir)

    def lsh_pairs():
        docs = read_fixture(spark, sf_dir, "documents")
        return minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, n=3, threshold=0.35,
            char_level=False,
        )

    def fixed_queries():
        # the base SF's query set (exists identically at both SFs —
        # tile 0 preserves original ids), so ANN work scales with the
        # CORPUS only
        emb_base = read_fixture(spark, base_dir, "embeddings", split=False)
        return (
            emb_base.filter(F.col("vec_id") % 25 == 0)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )

    def knn_brute():
        emb = read_fixture(spark, sf_dir, "embeddings", split=False)
        return brute_force_topk(emb, fixed_queries(), k=10)

    def knn_ivf():
        emb = read_fixture(spark, sf_dir, "embeddings", split=False)
        return ivf_topk(emb, fixed_queries(), k=10, nlist=16, nprobe=8)

    def knn_ivf_scaled_nlist():
        # the production scaling recipe SCALE.md names: nlist grows with
        # the corpus so CELL SIZE stays constant; nprobe fixed → probed
        # vector count (and per-query cost) stays ~flat across the 10x
        # step, unlike the fixed-nlist run whose cells grow 10x. (A cost
        # demonstration — recall at scaled nlist is the index-build
        # tuning question, measured in test_similarity.py.)
        emb = read_fixture(spark, sf_dir, "embeddings", split=False)
        nlist = 16 if sf_dir == base_dir else 160
        return ivf_topk(emb, fixed_queries(), k=10, nlist=nlist, nprobe=8)

    def passages_hashed():
        # the PRODUCTION path (8-byte xxhash64 shuffle keys) — the
        # registered query is the string-key oracle variant and would
        # measure ~10x the shuffle bytes of the plan proposed for 100 TB
        from uma_etl_iis_loader_spark.operators.passages import (
            repeated_passages,
        )

        docs = read_fixture(spark, sf_dir, "documents")
        out = repeated_passages(docs, k=8, min_docs=2, hashed=True)
        return out["stats"].unionByName(
            out["spans"].withColumnRenamed("start_word", "n_shingles")
            .withColumnRenamed("end_word", "n_repeated")
        )

    def pq_fixed():
        # full production flow: constant-size codebook train + linear
        # encode + ADC/refine over the fixed query set
        from uma_etl_iis_loader_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            train_pq_codebooks,
        )

        emb = read_fixture(spark, sf_dir, "embeddings", split=False)
        books = train_pq_codebooks(emb, m=8, ksub=256)
        return pq_topk(
            pq_encode(emb, books), books, fixed_queries(), k=10,
            refine_corpus=emb, refine_factor=4,
        )

    def pagerank_events():
        from uma_etl_iis_loader_spark.operators.graph import pagerank

        events = read_fixture(spark, sf_dir, "events")
        edges = events.select(
            F.col("user_id").alias("src"),
            (F.xxhash64("event_type") % 1000 + 10_000_000).alias("dst"),
        )
        return pagerank(edges, max_iter=8, tol=0.0)

    def bloom_prejoin():
        from uma_etl_iis_loader_spark.operators.joins import (
            bloom_semi_filter,
            build_bloom,
        )

        customer = read_fixture(spark, sf_dir, "customer")
        orders = read_fixture(spark, sf_dir, "orders")
        build_keys = customer.filter(F.col("c_nationkey") < 3).select(
            F.col("c_custkey").alias("k")
        )
        bloom = build_bloom(build_keys, "k", num_bits=1 << 21, num_hashes=5)
        probe = orders.select(F.col("o_custkey").alias("k"), "o_orderkey")
        return bloom_semi_filter(
            probe, bloom, "k", num_bits=1 << 21, num_hashes=5
        ).join(build_keys, "k")

    def quality_fit_score():
        from uma_etl_iis_loader_spark.functions.text import quality_score
        from uma_etl_iis_loader_spark.operators.quality_model import (
            score_quality,
            train_quality_model,
        )

        docs = read_fixture(spark, sf_dir, "documents")
        labeled = docs.select(
            "text", (quality_score("text") >= 0.6).cast("double").alias("label")
        )
        model = train_quality_model(labeled, max_iter=10)
        return score_quality(docs, model).select("doc_id", "quality_prob")

    def funnel_batch():
        from uma_etl_iis_loader_spark.operators.funnel import funnel_steps

        events = read_fixture(spark, sf_dir, "events")
        return funnel_steps(events, ["view", "click", "purchase"])

    def retention_weekly():
        from uma_etl_iis_loader_spark.operators.funnel import cohort_retention

        events = read_fixture(spark, sf_dir, "events")
        return cohort_retention(events, period_s=7 * 86_400, max_periods=12)

    def resample_daily():
        from uma_etl_iis_loader_spark.operators.timeseries import resample_ffill

        events = read_fixture(spark, sf_dir, "events")
        return resample_ffill(events, "user_id", "ts", ["value"], step_s=86_400)

    def negative_sampling():
        # buckets=None exercises the operator's OWN scaling recipe
        # (corpus count → ~32-64 items/bucket at any scale). The r7
        # harness hand-scaled buckets 256→2560, which kept ~390
        # items/bucket — 4-12x over the documented band — and measured
        # 11.85x at the 10x step; the auto default shrinks the
        # candidate constant so the step reflects the recipe users get.
        from uma_etl_iis_loader_spark.operators.sampling import negative_sample

        events = read_fixture(spark, sf_dir, "events")
        anchors = events.select(F.col("user_id").alias("anchor_id")).distinct()
        corpus = events.select(F.col("event_id").alias("item_id")).distinct()
        return negative_sample(anchors, corpus, k=8)

    def weighted_sampling():
        from uma_etl_iis_loader_spark.operators.sampling import weighted_sample

        orders = read_fixture(spark, sf_dir, "orders")
        return weighted_sample(orders, "o_orderkey", "o_totalprice", k=1000)

    def training_shuffle():
        # one hash exchange + per-shard local sort, never a global sort
        from uma_etl_iis_loader_spark.operators.sampling import (
            shuffle_for_training,
        )

        docs = read_fixture(spark, sf_dir, "documents")
        return shuffle_for_training(docs.select("doc_id"), shards=64)

    def kmeans_assign_corpus():
        # fit on the bounded sample (constant cost), assign the whole
        # corpus through the zero-shuffle matmul kernel — the
        # production clustering shape (SemDeDup/IVF-style)
        from uma_etl_iis_loader_spark.operators.clustering import (
            kmeans_assign,
            kmeans_fit,
        )

        emb = read_fixture(spark, sf_dir, "embeddings", split=False)
        model = kmeans_fit(emb, k=16)
        return kmeans_assign(emb, model)

    def decontam_strike():
        # GPT-3-recipe span strike: 8-byte hashed gram join, bounded
        # explode; test split is a fixed doc_id slice so the blocklist
        # scales with the corpus like a real eval suite would not —
        # still linear in train-side grams
        from uma_etl_iis_loader_spark.operators.contamination import (
            strike_contaminated_spans,
        )

        docs = read_fixture(spark, sf_dir, "documents")
        return strike_contaminated_spans(
            docs.filter("doc_id % 10 <> 0"),
            docs.filter("doc_id % 10 = 0"),
            n=5,
        )

    def zorder_prune():
        # one shuffle z-order write + footer-stats collect + pruned box
        # read — the full layout lifecycle; work ∝ rows written + files
        # statted, no global sort
        import shutil
        import tempfile

        from uma_etl_iis_loader_spark.operators.layout import (
            collect_file_stats,
            pruned_read,
            zorder_layout,
        )

        lineitem = read_fixture(spark, sf_dir, "lineitem")
        tmp = tempfile.mkdtemp(prefix="scale_z_")
        path = tmp + "/z"

        class _Lazy:
            def count(self):
                try:
                    zorder_layout(
                        lineitem.select("l_orderkey", "l_partkey", "l_quantity"),
                        ["l_orderkey", "l_partkey"],
                        out_partitions=32,
                    ).write.parquet(path)
                    stats = collect_file_stats(
                        spark, path, ["l_orderkey", "l_partkey"]
                    )
                    mx = lineitem.agg(
                        F.max("l_orderkey"), F.max("l_partkey")
                    ).collect()[0]
                    return pruned_read(
                        spark,
                        path,
                        stats,
                        {
                            "l_orderkey": (0.0, mx[0] * 0.1),
                            "l_partkey": (0.0, mx[1] * 0.1),
                        },
                    ).count()
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)

        return _Lazy()

    return {
        "flagship_occupancy": from_registry("flagship_occupancy"),
        "etl_job_sync": from_registry("etl_job_sync"),
        "dedup_exact": from_registry("dedup_exact"),
        "dedup_minhash_lsh": lsh_pairs,
        "knn_brute_force_fixed_q": knn_brute,
        "knn_ivf_fixed_q": knn_ivf,
        "knn_ivf_scaled_nlist": knn_ivf_scaled_nlist,
        "pq_fixed_q": pq_fixed,
        "repeated_passages_hashed": passages_hashed,
        "bm25_rank": from_registry("bm25_rank"),
        "text_analysis": from_registry("text_analysis"),
        "llm_prep_ops": from_registry("llm_prep_ops"),
        "corpus_stats_ops": from_registry("corpus_stats_ops"),
        "multimodal_ops": from_registry("multimodal_ops"),
        "stream_windowed_counts": from_registry("stream_windowed_counts"),
        "fuzzy_lookup_supplier": from_registry("normalized_key_lookup"),
        "pagerank_events_8r": pagerank_events,
        "bloom_prejoin_filter": bloom_prejoin,
        "quality_model_fit_score": quality_fit_score,
        "funnel_steps": funnel_batch,
        "cohort_retention_weekly": retention_weekly,
        "resample_ffill_daily": resample_daily,
        "negative_sample_k8": negative_sampling,
        "weighted_sample_top1k": weighted_sampling,
        "training_shuffle_64shards": training_shuffle,
        "kmeans_assign_k16": kmeans_assign_corpus,
        "decontam_strike_5gram": decontam_strike,
        "sampling_ops_incl_dsir_decontam": from_registry("sampling_ops"),
        "zorder_write_prune_read": zorder_prune,
    }


def run(spark, sf_dir: str, base_dir: str) -> dict[str, float]:
    from uma_etl_iis_loader_spark.plans.fixtures import (
        materialize_schedule_fixture,
    )

    materialize_schedule_fixture(spark, sf_dir)
    out = {}
    for name, thunk in workloads(spark, sf_dir, base_dir).items():
        t0 = time.time()
        thunk().count()
        out[name] = round(time.time() - t0, 3)
    return out


def main() -> None:
    from uma_etl_iis_loader_spark.session import build_session

    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scaled = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/testdata_sf1"
    spark = build_session("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up (JIT, Arrow workers) on the tiny region table
    r = spark.read.parquet(os.path.join(base, "region.parquet"))
    r.alias("a").join(r.alias("b"), "r_regionkey").count()

    run(spark, base, base)  # discarded: warms every query's codegen shape
    t_base = run(spark, base, base)
    t_scaled = run(spark, scaled, base)
    ratios = {k: round(t_scaled[k] / max(t_base[k], 1e-3), 2) for k in t_base}
    print(
        json.dumps(
            {
                "metric": "scale_step_10x",
                "base_dir": base,
                "scaled_dir": scaled,
                "base_s": t_base,
                "scaled_s": t_scaled,
                "ratio": ratios,
                "base_total_s": round(sum(t_base.values()), 2),
                "scaled_total_s": round(sum(t_scaled.values()), 2),
                "total_ratio": round(
                    sum(t_scaled.values()) / sum(t_base.values()), 2
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
