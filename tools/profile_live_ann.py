"""Per-phase wall profiler for streaming_ann_topk_serving_live (r14).

Replicates the registry query body exactly, but times each phase —
artifact build, index build, staging, each gate() call, retrain, each
serve() call, read-back — so the optimization effort goes where the
seconds are (guide §1). Decisions/serve output are NOT checked here
(the oracle does that); this is a wall-clock instrument only.

Usage: python tools/profile_live_ann.py [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pypeln_spark.session import get_spark
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S
    from pypeln_spark import streaming as ST
    from pypeln_spark.queries.base import load_table
    from pypeln_spark.queries.similarity import (
        DIM, K, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, NEAR_DUP_T,
    )
    from pypeln_spark.queries.streaming import LIVE_RETRAIN_CELLS

    spark = get_spark(app_name="profile_live_ann")
    spark.range(1000).selectExpr("sum(id)").collect()

    for r in range(runs):
        t_run = time.perf_counter()
        phases: list[tuple[str, float]] = []

        def timed(label, fn):
            t0 = time.perf_counter()
            out = fn()
            phases.append((label, time.perf_counter() - t0))
            return out

        emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
        corpus = emb.filter(F.col("vec_id") % 2 == 0)
        epochs = [emb.filter(F.col("vec_id") % 12 == c) for c in (1, 3, 5, 7)]

        cents = timed("cents(artifact)", lambda: S.trained_artifact(
            spark,
            ("gate_cells_cents", SF, N_CELLS, KMEANS_ITERS, KMEANS_TRAIN_MOD),
            lambda: S.kmeans_centroids(
                corpus, N_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD
            ),
        ))

        def build_index():
            nf = S.with_norms(S.spread(corpus))
            return S.ivf_assign(nf, cents, N_CELLS, keep=1).select(
                "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
            )

        cor = timed("index(cached)", lambda: S.cached_index(
            ("emb_gate_cells_index", SF, N_CELLS, KMEANS_ITERS), build_index
        ))
        index = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"),
            cor.select("vec_id", "bucket"),
            checkpoint_dir=os.environ.get("PYPELN_SPARK_INGEST_COMPACT_DIR") or None,
            comb=cor,
        )

        ingest_root = ST.stream_sink_dir("pypeln_spark_liveingest_")
        serve_root = ST.stream_sink_dir("pypeln_spark_liveserve_")
        out_schema = T.StructType([
            T.StructField("query_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ])
        timed("seed_sink", lambda: ST.seed_sink_schema(spark, out_schema, serve_root))

        gate = S.CellEmbeddingIngestGate(
            index, ingest_root, DIM, cents, N_CELLS, NEAR_DUP_T, nprobe="auto",
            absorb_dedup=False,
            retrain_iters=KMEANS_ITERS, retrain_train_mod=KMEANS_TRAIN_MOD,
        )

        def serve(batch_df, qepoch):
            topk = S.live_topk_serve(
                index, gate.centroids, gate.n_cells, batch_df, k=K, dim=DIM,
                recall_target=0.12, cents_lits=gate.centroid_lits(),
            )
            if topk is None:
                return
            (
                topk.select(
                    "query_id",
                    F.lit(int(qepoch)).cast("int").alias("epoch"),
                    "neighbor_id", "cos", "rank",
                )
                .write.mode("append").parquet(serve_root)
            )

        def body(batch_df, epoch_id):
            if epoch_id % 2 == 0:
                if epoch_id == 2:
                    timed("retrain", lambda: gate.retrain(n_cells=LIVE_RETRAIN_CELLS))
                timed(f"gate[{epoch_id // 2}]", lambda: gate(batch_df, epoch_id // 2))
            else:
                timed(f"serve[{(epoch_id - 1) // 2}]",
                      lambda: serve(batch_df, (epoch_id - 1) // 2))

        timed("harness_total", lambda: ST.staged_foreach_batch(spark, epochs, body))
        D.retire_pipeline_caches()
        timed("readback", lambda: spark.read.parquet(serve_root)
              .localCheckpoint(eager=True))
        ST.remove_sink_dir(spark, serve_root)
        ST.remove_sink_dir(spark, ingest_root)

        wall = time.perf_counter() - t_run
        body_s = sum(dt for name, dt in phases
                     if name.startswith(("gate", "serve", "retrain")))
        harness = next(dt for name, dt in phases if name == "harness_total")
        print(f"run {r}: wall {wall:.3f}s  harness-minus-body "
              f"{harness - body_s:.3f}s")
        for name, dt in phases:
            print(f"    {name}: {dt:.3f}s")
        sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
