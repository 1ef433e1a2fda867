"""Superstep checkpointing with per-partition lineage + metrics.

The north rule requires every superstep to checkpoint vertex-state so a
killed job resumes mid-computation. The reference's closest analogue is
the per-iteration convergence-error series the FPGA kernel writes back
(``multi_personalized_pagerank.cpp:96-108,223-229``); we extend it to a
durable manifest.

Layout under ``<dir>/`` for driver-resident (S, N) state
(:meth:`CheckpointManager.save` / :meth:`~CheckpointManager.load_latest`,
no Spark involved, so a barrier-gang leader can save from inside a task):

- ``iter_<k>.parquet`` — one pyarrow file ``(id, c0..c{S-1})``, rows
  in id order. Written as ``.iter_<k>.parquet.tmp`` (a dot name, which
  readers and Spark skip) and ``os.replace``-d into place, so a killed
  save leaves at worst a stray temp file, never a partial checkpoint;
- ``manifest.json`` — written LAST, atomically replaced each save:
  ``{"latest": k, "num_vertices", "num_sources", "config",
  "iterations": [{iter, l1_err, sq_l2_err, wall_ms, ...}, ...],
  "lineage": {k: [{partition, rows}, ...]}}``.

Cluster-resident state (:meth:`~CheckpointManager.save_df` /
:meth:`~CheckpointManager.load_latest_df`) stays a Spark write:
``iter_<k>/ranks.parquet`` is a directory of part files, hash-partitioned
by ``id`` as the loop holds it (resume does not reshuffle), and its
lineage lists every partition.

Durable means it survives a killed process: there is no fsync, the
same choice the Spark writer makes. Durable parquet (not
``localCheckpoint``) is used for the resumable checkpoints; the
iterative loops additionally truncate lineage in-memory every
superstep.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def pinned_confs(spark: SparkSession, confs: dict[str, str]):
    """Pin session confs for the duration of an iterative loop, restoring
    the previous values (or unsetting) on exit.

    The superstep loops manage their own partitioning: the checkpointed
    vertex state must stay hash(id, p)-partitioned so the next
    superstep's shuffle-hash join streams it in place. AQE's partition
    coalescing re-plans the join exchange to fewer partitions (measured:
    32 → 16 at |V|=10⁶), the LogicalRDD then reports the drifted layout,
    and outbox parallelism + join locality degrade superstep over
    superstep — so the loops pin ``coalescePartitions.enabled=false``
    and ``shuffle.partitions=p`` while they run, leaving the relational
    ETL stages (where AQE coalescing is the right call) untouched.
    """
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def local_ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint()`` plus the storage-RDD ids it materialized.

    ``DataFrame.unpersist()`` is a NO-OP for localCheckpoint storage
    (the blocks live outside the cache manager), so an iterative loop
    that rotates checkpointed state accumulates every superstep's
    blocks until driver GC + ContextCleaner get around to them — at
    ~100 MB+ per superstep that is an escalating-superstep-time leak.
    The returned ids let :func:`free_local_ckpt` drop the blocks
    deterministically.

    Caveats: the id capture diffs ``getRDDStorageInfo`` around the
    checkpoint, so it must not race concurrent persists on the same
    driver (the superstep loops are sequential); and a freed
    localCheckpoint is UNRECOVERABLE (its lineage was truncated) — only
    free state that has been superseded, never the final result.
    """
    sc = df.sparkSession.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    out = df.localCheckpoint()
    after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    return out, after - before


def free_local_ckpt(spark: SparkSession, ids: set[int]) -> None:
    """Drop the storage blocks of a superseded :func:`local_ckpt`.

    Goes through ``SparkContext.unpersistRDD`` (package-private in
    Scala, public in bytecode) because no public DataFrame API releases
    localCheckpoint blocks."""
    jsc = spark.sparkContext._jsc.sc()
    for rid in ids:
        try:
            jsc.unpersistRDD(rid, False)
        except Exception:  # pragma: no cover — already cleaned
            pass


class CheckpointManager:
    def __init__(self, path: str, every: int = 1):
        self.path = path
        self.every = max(1, every)
        os.makedirs(path, exist_ok=True)
        self._manifest_path = os.path.join(path, "manifest.json")

    # ------------------------------------------------------------ manifest
    def read_manifest(self) -> dict | None:
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit(self, iteration: int, metrics: list[dict], config, lineage, **fields) -> None:
        """Point the manifest at iteration k (atomic replace, written
        after the state it names). ``metrics`` is the caller's full
        history; ``lineage`` the row count of each written partition."""
        manifest = self.read_manifest() or {"lineage": {}}
        manifest.update(fields)
        manifest.update(
            latest=iteration,
            config=config or manifest.get("config", {}),
            updated_unix=time.time(),
            iterations=metrics,
        )
        manifest["lineage"][str(iteration)] = lineage
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic

    def _iter_path(self, iteration: int) -> str:
        return os.path.join(self.path, f"iter_{iteration:05d}.parquet")

    # ---------------------------------------------------------------- save
    def save(
        self,
        iteration: int,
        rank: np.ndarray,
        metrics: list[dict],
        config: dict | None = None,
    ) -> None:
        """Persist an (S, N) rank block + manifest for iteration k."""
        if iteration % self.every != 0:
            return
        rank2d = np.atleast_2d(rank)
        s, n = rank2d.shape
        cols = {"id": np.arange(n, dtype=np.int64)}
        for i in range(s):
            cols[f"c{i}"] = np.ascontiguousarray(rank2d[i], dtype=np.float64)
        path = self._iter_path(iteration)
        tmp = os.path.join(self.path, f".{os.path.basename(path)}.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, path)
        lineage = [{"partition": 0, "rows": int(n)}]
        self._commit(iteration, metrics, config, lineage, num_vertices=int(n), num_sources=int(s))

    # ------------------------------------------------------- DataFrame API
    def save_df(
        self,
        ranks,  # DataFrame (id, <state cols...>), already partitioned
        iteration: int,
        metrics: list[dict],
        config: dict | None = None,
    ) -> None:
        """Durable superstep checkpoint for cluster-resident vertex state:
        the DataFrame is written as-is (no driver collect)."""
        if iteration % self.every != 0:
            return
        it_dir = os.path.join(self.path, f"iter_{iteration:05d}")
        ranks.write.mode("overwrite").parquet(os.path.join(it_dir, "ranks.parquet"))
        lineage_rows = (
            ranks.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        lineage = [{"partition": int(r["partition"]), "rows": int(r["rows"])} for r in lineage_rows]
        self._commit(iteration, metrics, config, lineage, mode="dataframe", columns=ranks.columns)

    def load_latest_df(self, spark: SparkSession):
        """→ (iteration, ranks DataFrame, metric history) or None."""
        manifest = self.read_manifest()
        if not manifest or "latest" not in manifest:
            return None
        it = manifest["latest"]
        path = os.path.join(self.path, f"iter_{it:05d}", "ranks.parquet")
        return it, spark.read.parquet(path), list(manifest.get("iterations", []))

    # ---------------------------------------------------------------- load
    def load_latest(self) -> tuple[int, np.ndarray, list[dict]] | None:
        """Resume point: (iteration, (S,N) rank block, metric history).

        Raises ``ValueError`` naming the file when it is unreadable or
        disagrees with the manifest: row count, ids not exactly
        ``0..N-1``, or columns other than ``id, c0..c{S-1}``."""
        manifest = self.read_manifest()
        if not manifest or "latest" not in manifest:
            return None
        it = manifest["latest"]
        s = manifest["num_sources"]
        n = manifest["num_vertices"]
        path = self._iter_path(it)
        try:
            table = pq.read_table(path)
        except pa.ArrowInvalid as ex:
            raise ValueError(f"checkpoint {path} is unreadable: {ex}") from ex
        cols = [f"c{i}" for i in range(s)]
        if table.column_names != ["id", *cols]:
            raise ValueError(
                f"checkpoint {path} has columns {table.column_names}, "
                f"manifest expects id + c0..c{s - 1}"
            )
        if table.num_rows != n:
            raise ValueError(f"checkpoint {path} has {table.num_rows} rows, manifest expects {n}")
        ids = table.column("id").to_numpy()
        order = np.argsort(ids, kind="stable")
        if not np.array_equal(ids[order], np.arange(n)):
            raise ValueError(f"checkpoint {path} ids do not cover 0..{n - 1} exactly once")
        rank = np.empty((s, n), dtype=np.float64)
        for i, c in enumerate(cols):
            rank[i] = table.column(c).to_numpy()[order]
        return it, rank, list(manifest.get("iterations", []))
