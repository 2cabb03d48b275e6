package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.DeliveryRecord
import graft.queries.Tables
import graft.util.Scratch

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("typed Dataset boundary enforces the 6-column contract") {
    val ds = DeliveryRecord.typed(graft.etl.Generator.deliveries(spark, 100))
    assert(ds.filter(_.Distance >= 1.0).count() == 100)
    // a frame missing a contract column fails at analysis, not runtime
    val broken = graft.etl.Generator.deliveries(spark, 10).drop("Distance")
    intercept[org.apache.spark.sql.AnalysisException](DeliveryRecord.typed(broken))
  }

  test("partition pruning: partitioned write + filtered read skips files") {
    val dir = Scratch.dir("graft_part")
    Tables.events(spark, Sf)
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).where(col("event_type") === "purchase")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      plan.take(1500))
    // only the purchase partition directory is read
    val scanned = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(df.count() ==
      Tables.events(spark, Sf).where(col("event_type") === "purchase").count())
  }

  test("approx_count_distinct (HLL++) lands within its error bound") {
    // the sketch path for 100 TB cardinalities: mergeable, bounded
    // memory, no exact-distinct shuffle of raw keys
    val li = Tables(spark, Sf, "lineitem")
    val (approx, exact) = li.select(
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("a"),
      countDistinct(col("l_orderkey")).as("e"))
      .as[(Long, Long)].collect().head
    val relErr = math.abs(approx - exact).toDouble / exact
    assert(relErr < 0.05, s"approx=$approx exact=$exact relErr=$relErr")
  }

  test("approx_percentile tracks the exact percentile within rank tolerance") {
    val li = Tables(spark, Sf, "lineitem")
    val (approx, exact) = li.select(
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("a"),
      expr("percentile(l_extendedprice, 0.5)").as("e"))
      .as[(Double, Double)].collect().head
    // 1/accuracy = 0.1% rank tolerance; translate via the value at the
    // p49/p51 band — the approx answer must sit inside it
    val Seq(lo, hi) = li.select(
      expr("percentile(l_extendedprice, 0.49)"),
      expr("percentile(l_extendedprice, 0.51)"))
      .as[(Double, Double)].collect().head.productIterator.toSeq
      .map(_.asInstanceOf[Double])
    assert(approx >= lo && approx <= hi, s"approx=$approx exact=$exact band=[$lo,$hi]")
  }
}
