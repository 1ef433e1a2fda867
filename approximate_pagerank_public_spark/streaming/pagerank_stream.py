"""Continuous PageRank maintenance over a transcript stream.

The north rule's input is an append-only table of conversation turns at
10^12-turn scale; rebuilding the link graph AND re-running cold
PageRank per refresh wastes both ETL and iteration work. This sink
composes the engine's two incremental primitives into an end-to-end
Structured Streaming job:

- **incremental ETL**: each micro-batch contributes only its OWN edge
  observations (within-batch consecutive turns via the batch window,
  cross-batch boundaries via a durable per-conversation tail state —
  the same linking rule as ``stateful_consecutive_edges`` but owned by
  the sink so it survives any restart), merged into a cumulative
  deduped entity-edge set. Per batch the dedup shuffle moves
  |cumulative E| + |delta| rows — NOT the raw turn history.
- **warm-start recompute**: PageRank re-converges from the previous
  batch's ranks (``pagerank(init_ranks=)``, mapped by ENTITY because
  vertex ids re-densify as the dictionary grows; new entities fill
  1/N). After a small delta this takes a fraction of the cold
  iteration count (asserted by the batch-parity test).

State layout under ``state_dir`` (each name is a versioned directory:
writes go to ``<name>/v<batch_id>/`` and a ``_LATEST`` pointer file is
swapped atomically via ``os.replace`` — a killed batch never leaves a
half-written state visible, the retry overwrites its own version; the
production analogue is an Iceberg MERGE/snapshot per name):

- ``entity_edges`` — cumulative deduped (src_entity, dst_entity)
- ``tails``        — per-conversation (last_turn, last_entity)
- ``ranks``        — (entity, rank) of the latest converged PageRank

Scale notes: everything here is joins/windows/hash-aggs on the
micro-batch plus one dedup over the cumulative edge set; the PageRank
itself runs through the ordinary engine (mode cutover, checkpointing,
both execution paths). Nothing iterates on the driver.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximate_pagerank_public_spark.operators.etl import turn_entity


def _latest_path(root: str, name: str) -> str | None:
    ptr = os.path.join(root, name, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        rel = f.read().strip()
    return os.path.join(root, name, rel)


def _publish(df: DataFrame, root: str, name: str, batch_id: int) -> str:
    """Write ``df`` as version ``v<batch_id>`` and swap the ``_LATEST``
    pointer atomically; prune versions older than the previous one."""
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    version = f"v{batch_id}"
    out = os.path.join(d, version)
    df.write.mode("overwrite").parquet(out)
    tmp = os.path.join(d, f"._LATEST.tmp{batch_id}")
    with open(tmp, "w") as f:
        f.write(version)
    prev = _latest_path(root, name)
    os.replace(tmp, os.path.join(d, "_LATEST"))
    for v in os.listdir(d):
        full = os.path.join(d, v)
        if (
            v.startswith("v")
            and full != out
            and (prev is None or full != prev)
            and os.path.isdir(full)
        ):
            shutil.rmtree(full, ignore_errors=True)
    return out


def _batch_edge_observations(
    batch: DataFrame, tails: DataFrame | None
) -> DataFrame:
    """This micro-batch's entity-edge observations: the three batch-ETL
    rules (operators/etl.py::_raw_entity_edges) where consecutive-turn
    linking also crosses the batch boundary through the tail state."""
    turns = batch.select("conv_id", "turn_idx", turn_entity().alias("entity"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    consec = turns.select(
        F.lag("entity").over(w).alias("src_entity"),
        F.col("entity").alias("dst_entity"),
    ).where(F.col("src_entity").isNotNull())
    out = consec
    if tails is not None:
        first = turns.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        )
        cross = (
            first.join(tails, "conv_id")
            .where(F.col("turn_idx") > F.col("last_turn"))
            .select(
                F.col("last_entity").alias("src_entity"),
                F.col("entity").alias("dst_entity"),
            )
        )
        out = out.unionAll(cross)
    conv_tool = batch.where(F.col("role") == "tool").select(
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("src_entity"),
        F.concat(F.lit("tool:"), F.col("tool")).alias("dst_entity"),
    )
    role_conv = batch.select(
        F.concat(F.lit("role:"), F.col("role")).alias("src_entity"),
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("dst_entity"),
    )
    return (
        out.unionAll(conv_tool)
        .unionAll(role_conv)
        .where(F.col("src_entity") != F.col("dst_entity"))
        .distinct()
    )


def _updated_tails(batch: DataFrame, tails: DataFrame | None) -> DataFrame:
    """New per-conversation (last_turn, last_entity): the max-turn row
    of (old tail ∪ this batch's turns) per conversation."""
    turns = batch.select(
        "conv_id",
        F.col("turn_idx").alias("last_turn"),
        turn_entity().alias("last_entity"),
    )
    allt = turns if tails is None else turns.unionAll(tails)
    w = Window.partitionBy("conv_id").orderBy(F.col("last_turn").desc())
    return (
        allt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("conv_id", "last_turn", "last_entity")
    )


def pagerank_maintenance_sink(
    spark: SparkSession,
    state_dir: str,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    layout_partitions: int | None = None,
):
    """``foreachBatch`` function maintaining converged PageRank over the
    growing transcript-derived graph. Use:

    ``stream.writeStream.foreachBatch(pagerank_maintenance_sink(spark,
    state_dir)).trigger(availableNow=True).option("checkpointLocation",
    ckpt).start()``

    After each batch, ``<state_dir>/ranks/_LATEST`` points at the
    current (entity, rank) parquet and ``manifest.jsonl`` appends the
    batch's iteration metrics.
    """
    from approximate_pagerank_public_spark.operators.etl import (
        edge_layout_ready,
        edge_table_from_entity_edges,
    )
    from approximate_pagerank_public_spark.operators.pagerank import pagerank
    from approximate_pagerank_public_spark.plans.graph import Graph

    os.makedirs(state_dir, exist_ok=True)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        tails_p = _latest_path(state_dir, "tails")
        tails = spark.read.parquet(tails_p) if tails_p else None

        delta = _batch_edge_observations(batch, tails)
        prev_edges_p = _latest_path(state_dir, "entity_edges")
        if prev_edges_p:
            cumulative = (
                spark.read.parquet(prev_edges_p).unionAll(delta).distinct()
            )
        else:
            cumulative = delta
        edges_out = _publish(cumulative, state_dir, "entity_edges", batch_id)
        _publish(_updated_tails(batch, tails), state_dir, "tails", batch_id)

        entity_edges = spark.read.parquet(edges_out).persist()
        vertices, edges = edge_table_from_entity_edges(
            entity_edges, layout_partitions
        )
        n = vertices.count()
        p = layout_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        g = Graph(
            edges,
            num_vertices=n,
            num_partitions=p,
            vertices=vertices,
            layout_ready=edge_layout_ready(n),
        )
        prev_ranks_p = _latest_path(state_dir, "ranks")
        init = None
        if prev_ranks_p:
            init = (
                spark.read.parquet(prev_ranks_p)
                .join(vertices, "entity")
                .select("id", "rank")
            )
        res = pagerank(g, alpha=alpha, tol=tol, max_iter=max_iter, init_ranks=init)
        ranks = res.ranks().join(vertices, "id").select("entity", "rank")
        _publish(ranks, state_dir, "ranks", batch_id)
        with open(os.path.join(state_dir, "manifest.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "batch_id": batch_id,
                        "iterations": res.iterations,
                        "converged": res.converged,
                        "num_vertices": n,
                        "num_edges": g.num_edges,
                        "warm_start": init is not None,
                    }
                )
                + "\n"
            )
        g.unpersist()
        entity_edges.unpersist()

    return _sink


def pagerank_maintenance_query(
    transcripts_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Convenience: wire the sink to a transcripts stream with an
    availableNow trigger (tests / periodic-refresh deployments; drop
    the trigger for a continuously-running job)."""
    spark = transcripts_stream.sparkSession
    return (
        transcripts_stream.writeStream.foreachBatch(
            pagerank_maintenance_sink(spark, state_dir, **kwargs)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("pagerank-maintenance")
    )
