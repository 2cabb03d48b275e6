package graft.operators

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.util.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Checkpoints.round]] routing: local mode cuts lineage via
  * `localCheckpoint` (no checkpoint dir involved); the
  * `spark.graft.reliableCheckpoint` / `SPARK_GRAFT_RELIABLE_CHECKPOINT`
  * switch routes round state to RELIABLE `Dataset.checkpoint` against a
  * checkpoint directory — the cluster profile where an executor loss
  * must not lose locally-checkpointed round state.
  */
class CheckpointsSpec extends SparkSpec {

  test("round() default path localCheckpoints (no checkpoint dir needed)") {
    assert(spark.conf.getOption("spark.graft.reliableCheckpoint").isEmpty)
    val df = Checkpoints.round(spark.range(100).toDF("v")
      .withColumn("w", col("v") * 2))
    assert(df.count() === 100)
    // localCheckpoint leaves the reliable checkpoint dir untouched
    assert(spark.sparkContext.getCheckpointDir.isEmpty ||
      !df.queryExecution.analyzed.toString.contains("ReliableCheckpoint"))
    Checkpoints.free(df)
  }

  /** Runs `body` with the reliable switch on (a fresh scratch dir), and
    * off again afterwards. The switch is session conf, but the
    * checkpoint dir it sets is the SparkContext's and is set once: no
    * separate session can isolate it, so later cases here read the
    * dir the context kept. */
  private def reliable[T](body: String => T): T = {
    val dir = Scratch.dir("graft_relckpt")
    withConf("spark.graft.reliableCheckpoint" -> dir)(body(dir))
  }

  private def rddDirs(under: Path): Long = {
    val walk = Files.walk(under)
    try walk.filter(_.getFileName.toString.startsWith("rdd-")).count()
    finally walk.close()
  }

  /** How many `rdd-*` dirs `body` leaves under the context's checkpoint
    * dir (the first one it was given; none set yet counts as 0). */
  private def rddDirsLeftBy(body: => Unit): Long = {
    def now = spark.sparkContext.getCheckpointDir.fold(0L)(d =>
      rddDirs(new java.io.File(java.net.URI.create(d)).toPath))
    val before = now
    body
    now - before
  }

  test("reliable switch routes round() through Dataset.checkpoint") {
    reliable { dir =>
      val df = Checkpoints.round(spark.range(50).toDF("v")
        .withColumn("w", col("v") + 1))
      assert(df.count() === 50)
      assert(df.agg(sum(col("w"))).head().getLong(0) === (1L to 50L).sum)
      // the reliable path must have set the context checkpoint dir and
      // written RDD checkpoint data under it
      val set = spark.sparkContext.getCheckpointDir
      assert(set.nonEmpty && set.get.contains(
        new java.io.File(dir).getName))
      val wrote = rddDirs(Paths.get(dir))
      assert(wrote >= 1, s"no rdd-* checkpoint data under $dir")
    }
  }

  test("reliable free deletes superseded rounds' rdd-* files: what a loop leaves does not grow with rounds") {
    import spark.implicits._
    val edges = (0L until 30L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    reliable { _ =>
      def left(rounds: Int): Long =
        rddDirsLeftBy(assert(Graphs.components(edges, rounds).count() === 31))
      val (three, six) = (left(3), left(6))
      assert(three >= 1 && three === six, s"3 rounds left $three, 6 left $six")
    }
  }

  test("reliable switch reaches the operators' own cuts: pageRank, triangleTriples, prefixSum") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val nodes = (1L to 4L).toDF("node")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L)).toDF("a", "b")
    val vals = (1L to 20L).map(i => (i % 3, i)).toDF("g", "v")
    val ops = Seq[(String, () => DataFrame)](
      "pageRank" -> (() => Graphs.pageRank(edges, nodes, 3)),
      "triangleTriples" -> (() => Graphs.triangleTriples(pairs)),
      "prefixSum" -> (() => Ids.prefixSum(vals, Seq(col("v")), "cum", Some("v"), Seq("g"))))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val local = ops.map { case (_, op) => rows(op()) }
    // (name, rdd-* dirs written, same rows as with the switch off)
    val seen = reliable { _ =>
      ops.zip(local).map { case ((name, op), expected) =>
        var got = Seq.empty[String]
        val wrote = rddDirsLeftBy { got = rows(op()) }
        (name, wrote, got == expected)
      }
    }
    assert(seen.forall(_._2 >= 1), s"rdd-* dirs written: $seen")
    assert(seen.forall(_._3), s"rows differ from the local path: $seen")
  }
}
