package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM scratch space: the one place that creates a temporary
  * directory, for mains and specs alike — queries that round-trip
  * through the filesystem (IO round-trips, partition-evolution
  * rewrites, the malformed-CSV quarantine, streaming sinks), the inputs
  * a query family shares ([[materialize]]), the bench mains' outputs,
  * `WebApi` sessions, and every spec's fixture files.
  *
  * All directories live under ONE root per JVM, and the root dies with
  * the JVM: a shutdown hook deletes it recursively, so repeated
  * verify/bench/test runs leave nothing behind in the temp dir. A user
  * that frees its data earlier (a served `WebApi` session) deletes its
  * own subdirectory. Deliberately driver-local: the data written here
  * is query-fixture scale (a cluster deployment would point the same
  * queries at real table paths, not scratch).
  */
object Scratch {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  /** A fresh directory under the per-JVM root; cleaned up on JVM exit. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private val materialized = TrieMap.empty[(String, String), String]

  /** One materialization per (artifact, data dir) per JVM: the input a
    * query family shares is built once, written to scratch parquet and
    * re-read thereafter. Path-keyed (not session-keyed), so it survives
    * session swaps and the bench's between-rep cache sweeps; this is
    * the production shape too — a pipeline running a family of analyses
    * materializes the shared input once and fans out.
    */
  def materialize(spark: SparkSession, key: String, dataDir: String)(
      build: => DataFrame): DataFrame = {
    val path = materialized.synchronized {
      materialized.getOrElseUpdate((key, dataDir), {
        val p = dir(s"graft_$key") + "/data"
        build.write.mode("overwrite").parquet(p)
        p
      })
    }
    spark.read.parquet(path)
  }

  /** Deletes `p` and everything under it, for a user that is done with
    * its directory before the JVM exits; a missing `p` is a no-op. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
}
