package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Round-state checkpointing for iterative operators (CC label rounds,
  * truss peels, BFS frontiers, rank vectors).
  *
  * Every loop in this package must cut lineage per round — otherwise
  * round N replays rounds 0..N-1 — and `Dataset.localCheckpoint` is the
  * mechanism. Its DEFAULT storage level, however, keeps blocks
  * DESERIALIZED in memory (`MEMORY_AND_DISK`): a large round
  * intermediate (e.g. the ~20M-row triangle table of the m=40 scale
  * point) balloons to row objects several times its serialized size,
  * and under an undersized heap the block manager thrashes — the
  * measured 73.5 s-vs-42.3 s cliff in SCALE_r08. Storing round state
  * SERIALIZED (`MEMORY_AND_DISK_SER`) keeps blocks compact UnsafeRow
  * pages, so memory pressure degrades to cheap disk spill + per-round
  * deserialize instead of churn; `LocalRDDCheckpointData` always forces
  * `useDisk = true` underneath, so no storage level here can recompute
  * truncated lineage.
  *
  * [[free]] releases a superseded round's blocks — `localCheckpoint`
  * never drops its blocks on its own, so an iterative loop that skips
  * this strands O(rounds) block sets for the session lifetime.
  */
object Checkpoints {

  /** Storage for per-round intermediates: serialized pages in memory,
    * spill-whole-to-disk under pressure. Measured both ways on the
    * m=40 peel point (20M-row triple rounds): at query scale (sf0.1,
    * state fits) SER and deserialized tie within ambient noise; at the
    * pressure point SER reads 47.9 s vs 59.5 s deserialized at the 8g
    * heap — compact pages defer eviction and spill cheaper. Round 10
    * re-ran the A/B over the 8-query loop set at sf0.1 and found it flat
    * within noise (OPTIMIZATION_r10.md), so the deserialized level was
    * dropped as an option.
    */
  val RoundLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** The session conf `spark.graft.reliableCheckpoint` (a
    * `-Dspark.graft.reliableCheckpoint=…` launch lands there too, since
    * SparkConf imports `spark.*` JVM properties), else
    * `SPARK_GRAFT_RELIABLE_CHECKPOINT`, routes round state to RELIABLE
    * `Dataset.checkpoint` against a checkpoint directory instead of
    * `localCheckpoint`: on a real cluster an executor loss makes
    * locally-checkpointed round state unrecoverable (lineage is
    * truncated), so the cluster profile trades the extra write for
    * fault tolerance. Value = the checkpoint dir (an HDFS/DBFS path in
    * production); local mode keeps the default localCheckpoint path.
    */
  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption("spark.graft.reliableCheckpoint")
      .orElse(sys.env.get("SPARK_GRAFT_RELIABLE_CHECKPOINT"))
      .filter(_.nonEmpty)

  /** Cut lineage on a round intermediate, spill-safe. `eager = false`
    * lets the round's one action (a convergence agg, a count)
    * materialize the checkpoint as a side effect — an eager checkpoint
    * there would run a second job per round.
    */
  def round(df: DataFrame, eager: Boolean = true): DataFrame =
    reliableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager, RoundLevel)
    }

  /** Frees what a [[round]] result holds (the checkpointed RDD sits
    * directly in the `LogicalRDD` leaf): its block-manager blocks, and
    * on the reliable path its `rdd-*` checkpoint files too, deleted
    * through the Hadoop `FileSystem` of the context's conf — Spark
    * never deletes them otherwise (`cleanCheckpoints` is off by
    * default), so a loop would leave one set per round.
    * Call on each superseded round AFTER the next round is
    * materialized; anything derived from the freed frame must not run
    * again.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(l.rdd.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ => ()
    }
}
