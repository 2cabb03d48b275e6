package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lineage cut in `src/main`: loop round state (CC label
  * rounds, truss peels, BFS frontiers, rank vectors) and shared
  * intermediates alike (a degree table read by several branches, an
  * operator's result computed from caches it releases before
  * returning). Every cut goes through [[round]], so one place decides
  * the storage level and the reliable-checkpoint switch; CI rejects a
  * raw `localCheckpoint`/`checkpoint` call anywhere else.
  *
  * A loop must cut lineage per round — otherwise round N replays rounds
  * 0..N-1. `Dataset.localCheckpoint`'s DEFAULT storage level keeps
  * blocks DESERIALIZED in memory (`MEMORY_AND_DISK`): a large round
  * intermediate (e.g. the ~20M-row triangle table of the m=40 scale
  * point) balloons to row objects several times its serialized size,
  * and under an undersized heap the block manager thrashes — the
  * measured 73.5 s-vs-42.3 s cliff in SCALE_r08. [[RoundLevel]] keeps
  * blocks SERIALIZED as compact UnsafeRow pages instead, so memory
  * pressure degrades to cheap disk spill + per-round deserialize;
  * `LocalRDDCheckpointData` always forces `useDisk = true` underneath,
  * so no storage level here can recompute truncated lineage.
  *
  * [[free]] releases a superseded round's blocks — `localCheckpoint`
  * never drops its blocks on its own, so an iterative loop that skips
  * this strands O(rounds) block sets for the session lifetime.
  */
object Checkpoints {

  /** The one storage level for every cut: serialized pages in memory,
    * spill-whole-to-disk under pressure. Measured both ways on the
    * m=40 peel point (20M-row triple rounds): at query scale (sf0.1,
    * state fits) SER and deserialized tie within ambient noise; at the
    * pressure point SER reads 47.9 s vs 59.5 s deserialized at the 8g
    * heap — compact pages defer eviction and spill cheaper. Round 9
    * kept g_kcore's halfedge rounds deserialized because SER cost
    * ~+1 s of per-round serialize/deserialize on its 2.2M-row table;
    * round 10 re-ran the A/B over the 8-query loop set at sf0.1 and
    * found it flat within noise (OPTIMIZATION_r10.md), so the
    * deserialized level was dropped as an option. The cost is real on
    * large frames that fit in memory: at sf0.1, 4 cores (6 interleaved
    * pairs, bench medians) g_kcore's halfedge rounds read 2.9 s
    * deserialized vs 4.5 s here, and the co-order pair copies of
    * g_link_pred_aa / g_conductance / g_modularity cost +1.5 / +0.6 /
    * +0.7 s.
    */
  val RoundLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** The session conf `spark.graft.reliableCheckpoint` (a
    * `-Dspark.graft.reliableCheckpoint=…` launch lands there too, since
    * SparkConf imports `spark.*` JVM properties), else
    * `SPARK_GRAFT_RELIABLE_CHECKPOINT`, routes every cut to RELIABLE
    * `Dataset.checkpoint` against a checkpoint directory instead of
    * `localCheckpoint`: on a real cluster an executor loss makes
    * locally-checkpointed state unrecoverable (lineage is
    * truncated), so the cluster profile trades the extra write for
    * fault tolerance. Value = the checkpoint dir (an HDFS/DBFS path in
    * production); local mode keeps the default localCheckpoint path.
    */
  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption("spark.graft.reliableCheckpoint")
      .orElse(sys.env.get("SPARK_GRAFT_RELIABLE_CHECKPOINT"))
      .filter(_.nonEmpty)

  /** Cut lineage on `df`, spill-safe. `eager = false`
    * lets the round's one action (a convergence agg, a count)
    * materialize the checkpoint as a side effect — an eager checkpoint
    * there would run a second job per round. An eager cut of a frame
    * built from persisted inputs must run before they are unpersisted:
    * the reliable path's checkpoint write recomputes `df` from them.
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
