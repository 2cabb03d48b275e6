package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class BenchSpec extends SparkSpec {

  test("Bench.Tally attributes jobs, stages and tasks to the tag each action ran under") {
    val sc = spark.sparkContext
    val run = s"bench-spec-${java.util.UUID.randomUUID()}"
    def tagged[T](tag: String)(body: => T): T = {
      sc.addJobTag(s"$run:$tag")
      try body finally sc.removeJobTag(s"$run:$tag")
    }
    val tally = new Bench.Tally
    sc.addSparkListener(tally)
    try {
      sc.parallelize(1 to 100, 3).count() // untagged warm-up
      tagged("one")(sc.parallelize(1 to 100, 4).count()) // 1 job, 1 stage, 4 tasks
      sc.parallelize(1 to 100, 3).count() // untagged, between two tagged actions
      tagged("two") {
        // 1 job of 2 stages (4 map tasks, 2 reduce tasks), then 1 job of 1 task
        sc.parallelize(1 to 100, 4).map(i => (i % 5, i)).reduceByKey(_ + _, 2).collect()
        sc.parallelize(1 to 10, 1).count()
      }
      // a SQL write runs its jobs on Spark's own threads; they carry the tag too
      tagged("sql") {
        spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
          .write.format("noop").mode("overwrite").save()
      }
      // the bus delivers in order: once the fence's task is seen, so is
      // every event before it
      tagged("fence")(sc.parallelize(Seq(1), 1).count())
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(tally(s"$run:fence").tasks == 1)
      }
    } finally sc.removeSparkListener(tally)

    val one = tally(s"$run:one")
    assert((one.jobs, one.stages, one.tasks) == ((1, 1, 4)))
    assert(one.shuffleWrite == 0 && one.shuffleRead == 0)
    val two = tally(s"$run:two")
    assert((two.jobs, two.stages, two.tasks) == ((2, 3, 7)))
    assert(two.shuffleWrite > 0 && two.shuffleRead > 0)
    val sql = tally(s"$run:sql")
    assert(sql.jobs >= 1 && sql.stages >= 2 && sql.tasks >= 5, sql.json)
    assert(sql.shuffleWrite > 0, sql.json)
    assert(tally.tags.filter(_.startsWith(run)) ==
      Set("one", "two", "sql", "fence").map(t => s"$run:$t"))
    assert(tally("never-set").json ==
      """{"jobs":0,"stages":0,"tasks":0,"shuffle_read_mb":0.000,"shuffle_write_mb":0.000,"input_mb":0.000,"spill_mb":0.000}""")
  }
}
