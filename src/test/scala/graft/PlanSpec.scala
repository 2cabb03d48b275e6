package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Transform
import graft.queries.{EtlQueries, Tables}
import graft.util.Scratch

/** Physical-plan assertions — the 100 TB design contract: the intended
  * join strategies, pushdowns and (absence of) shuffles must actually
  * appear in the executed plan, not just be hoped for.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("weather join is a broadcast hash join, never sort-merge") {
    val plan = planOf(EtlQueries.weatherJoinPipeline(spark, Sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "tiny weather side must broadcast")
  }

  test("ETL scalar chain is shuffle-free (no Exchange before the sink)") {
    // the transform chain itself — no orderBy, inline weather
    val df = EtlQueries.deliveries(spark, Sf)
      .transform(Transform.addTemporalFeatures)
      .withColumn("Weather_Condition", lit("Sunny"))
      .transform(Transform.calculateDuration)
      .transform(Transform.determineDelayStatus)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"scalar ETL chain must not shuffle:\n${plan.take(2000)}")
  }

  test("filter pushdown reaches the parquet scan (q1 shipdate)") {
    val df = Tables(spark, Sf, "lineitem")
      .where(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      .select(col("l_orderkey"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      plan.take(2000))
  }

  test("column pruning: temporal query reads only the 2 needed columns") {
    val plan = planOf(
      EtlQueries.deliveries(spark, Sf).transform(Transform.addTemporalFeatures)
        .select("Delivery_ID", "Hour", "Weekday"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(plan)
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_orderdate"))
    assert(!readSchema.contains("o_totalprice") && !readSchema.contains("o_custkey"),
      readSchema)
  }

  test("whole-stage codegen covers the ETL scalar chain") {
    val df = EtlQueries.fullPipeline(spark, Sf)
    df.collect() // finalize THIS QueryExecution's adaptive plan (count()
                 // would build a separate one) — codegen stages appear then
    // codegen stages print as "*(n)" in the executed plan tree
    assert(planOf(df).contains("*(1)"), planOf(df).take(1500))
  }

  test("broadcast dims in q5: no sort-merge join against nation/region") {
    val plan = planOf(SparkEntry.queries("q5_nation_revenue")(spark, Sf))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("ANN band join carries only ids — no vector arrays through the shuffle") {
    import graft.operators.Similarity
    // AQE's wrapper node hides the join subtree from collect(); the
    // static plan is what we want to assert on anyway
    val joins = withConf("spark.sql.adaptive.enabled" -> "false") {
      val emb = Tables(spark, Sf, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val df = Similarity.lshCandidates(emb, Similarity.planes(16, 64), 4, 4, 0.25)
      // the band self-join inputs must project (id, band, bkey) only; the
      // quantized vectors re-enter later via the id-equi fetch joins
      df.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    }
    val bandJoin = joins.find(_.leftKeys.length == 2).get // (band, bkey)
    val carried = bandJoin.left.output ++ bandJoin.right.output
    assert(carried.forall(a => !a.dataType.typeName.startsWith("array")),
      s"band join must not ship vectors: ${carried.map(a => s"${a.name}:${a.dataType.simpleString}")}")
  }

  test("IVF: codebook joins broadcast; cell assignment is one aggregate") {
    import graft.operators.Similarity
    val emb = Tables(spark, Sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val plan = planOf(Similarity.ivfTopK(
      emb, emb.where(col("id") % 50 === 0), emb.where(col("id") % 25 === 0), 4, 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(1500))
    assert(!plan.contains("SortMergeJoin"),
      "small codebook/probe sides must broadcast at this scale")
  }

  test("brute-force top-k pre-combines per partition — no N×Q window funnel") {
    import graft.operators.Similarity
    val emb = Tables(spark, Sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val df = Similarity.bruteForceTopK(emb, emb.where(col("id") % 50 === 0), 5)
    val plan = planOf(df)
    // the per-query top-k must be a partial-then-final typed aggregate
    // (bounded k-pair buffers map-side), NOT a row_number window over
    // all scored rows
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
      s"top-k must not rank via a window:\n${plan.take(1500)}")
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    // sparkPlan, not executedPlan: AQE's wrapper hides the subtree
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "map-side partial top-k aggregate missing")
  }

  test("relational group-top-N pre-combines per partition — no window funnel") {
    // q_group_topn: same result as the row_number window, but the plan
    // must be a partial-then-final bounded aggregate — with 25 nations a
    // window plan caps at 25 tasks forever, the aggregate does not
    val df = graft.SparkEntry.queries("q_group_topn")(spark, Sf)
    val plan = planOf(df)
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
      s"group-top-N must not rank via a window:\n${plan.take(1500)}")
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "map-side partial top-k aggregate missing")
  }

  test("segment dedup joins on the md5 hash — no text through the shuffle") {
    import graft.operators.CorpusQuality
    val df = CorpusQuality.segmentDuplication(
      Tables(spark, Sf, "documents"), "doc_id", "text", 5)
    val plan = planOf(df)
    assert(!plan.contains("NestedLoop") && !plan.contains("Window"), plan.take(1500))
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    val hashJoin = joins.find(_.leftKeys.exists(_.references.exists(_.name == "seg_hash")))
    assert(hashJoin.isDefined, "docs-per-hash join must key on seg_hash")
    // the shuffled sides must carry only (doc_id, seg_hash)-shaped rows,
    // never the raw document text
    val carried = hashJoin.get.left.output ++ hashJoin.get.right.output
    assert(carried.forall(_.name != "text"),
      s"raw text must not cross the join: ${carried.map(_.name)}")
  }

  test("bm25 top-k pre-combines per partition, query terms broadcast") {
    import graft.operators.Retrieval
    val df = Retrieval.bm25TopK(Tables(spark, Sf, "documents"),
      "doc_id", "text", Seq(0L -> Seq("spark", "query")), 5)
    val plan = planOf(df)
    assert(!plan.contains("Window"),
      s"top-k must not rank via a window:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "map-side partial top-k aggregate missing")
  }

  test("interval overlap join stays an equi-join on the bucket key") {
    import graft.operators.Joins
    val a = Tables(spark, Sf, "orders").select(col("o_orderkey"),
      col("o_orderkey").as("lo"), (col("o_orderkey") + 5).as("hi"))
    val b = Tables(spark, Sf, "nation").select(
      (col("n_nationkey").cast("long") * 100).as("blo"),
      (col("n_nationkey").cast("long") * 100 + 14).as("bhi"))
    val plan = planOf(Joins.intervalOverlapJoin(
      a, col("lo"), col("hi"), b, col("blo"), col("bhi"), 7L))
    assert(!plan.contains("NestedLoop"),
      s"bucketed overlap join must never nested-loop:\n${plan.take(2000)}")
  }

  test("partitioned layout prunes at the scan (PartitionFilters, not post-filter)") {
    val tmp = Scratch.dir("graft_prune")
    Tables(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    val df = spark.read.parquet(tmp).where(col("l_returnflag") === "R")
    val scan = planOf(df).linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("l_returnflag"),
      s"partition filter must reach the scan:\n${planOf(df).take(2000)}")
    // the pruned column is directory metadata, not file data
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(planOf(df)).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("dim-filtered join onto a partitioned fact uses dynamic partition pruning") {
    val tmp = Scratch.dir("graft_dpp_pin")
    val o = Tables(spark, Sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    o.select(col("o_orderkey"), col("o_totalprice"), col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    val dim = o.select(col("o_month")).distinct()
      .where(substring(col("o_month"), 1, 4) === "1994")
    val df = fact.join(dim, Seq("o_month"))
      .groupBy(col("o_month")).agg(count(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a dynamicpruning partition filter:\n${plan.take(2000)}")
  }

  test("quality gate broadcasts the per-language medians, never sort-merges") {
    val plan = planOf(SparkEntry.queries("t_quality_gate")(spark, Sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"),
      "a ~25-row medians table must broadcast back onto the docs")
  }

  test("q17's correlated scalar subquery decorrelates — never a per-row nested loop") {
    val df = SparkEntry.queries("q17_small_quantity")(spark, Sf)
    val plan = planOf(df)
    // Catalyst must rewrite the per-part avg into aggregate-then-join;
    // a NestedLoop (or any subquery re-execution) would be O(rows²)
    assert(!plan.contains("NestedLoop"),
      s"decorrelation failed:\n${plan.take(2000)}")
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // the decorrelated per-partkey avg aggregate exists...
    assert(aggs.exists(_.groupingExpressions.exists(
      _.references.exists(_.name == "l_partkey"))),
      "per-part avg must become a groupBy(l_partkey) aggregate")
    // ...and map-side partials run before its exchange
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "avg aggregate must partial-combine map-side")
  }

  test("q18's HAVING filters above the aggregate; the agg partial-combines") {
    val df = SparkEntry.queries("q18_large_orders")(spark, Sf)
    val sp = df.queryExecution.sparkPlan
    // the HAVING predicate must sit ABOVE a final HashAggregate (it
    // cannot push below the sum it filters on)
    val havingFilter = sp.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.references.exists(_.name == "sum_qty") => f
    }
    assert(havingFilter.nonEmpty, s"HAVING filter missing:\n${sp.toString.take(2000)}")
    assert(havingFilter.exists(_.find {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.aggregateExpressions.exists(_.mode.toString == "Final")
      case _ => false
    }.isDefined), "the filter must apply to the FINAL aggregate's output")
    assert(!planOf(df).contains("NestedLoop"))
  }

  test("q19's OR-of-conjunctions derives and pushes per-side disjunctions") {
    val df = SparkEntry.queries("q19_disjunctive")(spark, Sf)
    val filters = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    def refs(f: org.apache.spark.sql.execution.FilterExec): Set[String] =
      f.condition.references.map(_.name).toSet
    // the lineitem scan gets the quantity disjunction (no part columns)...
    assert(filters.exists(f => refs(f).contains("l_quantity") &&
      !refs(f).exists(_.startsWith("p_")) && f.condition.toString.contains(" OR ")),
      s"quantity OR-chain must reach the lineitem side:\n${filters.mkString("\n")}")
    // ...and the part scan the brand/size disjunction (no lineitem columns)
    assert(filters.exists(f => refs(f).contains("p_brand") &&
      !refs(f).exists(_.startsWith("l_")) && f.condition.toString.contains(" OR ")),
      s"brand/size OR-chain must reach the part side:\n${filters.mkString("\n")}")
  }

  test("q13's join-side filter keeps the join LeftOuter; both aggs partial-combine") {
    val df = SparkEntry.queries("q13_order_histogram")(spark, Sf)
    assert(planOf(df).contains("LeftOuter"),
      "the orders filter must stay inside the join — an inner join drops zero-order customers")
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // level 1: per-customer count; level 2: the histogram over counts
    assert(aggs.exists(_.groupingExpressions.exists(
      _.references.exists(_.name == "c_custkey"))))
    assert(aggs.count(_.aggregateExpressions.exists(_.mode.toString == "Partial")) >= 2,
      "both aggregation levels must run map-side partials")
  }

  test("q16's NOT IN plans as a null-aware anti HASH join, never a nested loop") {
    val plan = planOf(SparkEntry.queries("q16_supplier_count")(spark, Sf))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "single-column NOT IN must take the NAAJ hash-join fast path")
  }

  test("q20's nested INs collapse to semi joins — no subquery re-execution") {
    val df = SparkEntry.queries("q20_nested_in")(spark, Sf)
    val plan = planOf(df)
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"))
    val semis = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.size >= 2,
      s"both INs must become semi joins: ${plan.take(2000)}")
  }

  test("sequence packing windows per shard — hash-partitioned, never one task") {
    val df = SparkEntry.queries("t_pack_sequences")(spark, Sf)
    val plan = planOf(df)
    assert(plan.contains("Window"), plan.take(1500))
    assert(plan.contains("hashpartitioning(shard"),
      s"the cumsum window must partition on shard (a global window is one task):\n${plan.take(2000)}")
  }

  test("PQ ADC join broadcasts the lookup table; no vector arrays cross it") {
    val df = SparkEntry.queries("s_pq_topk")(spark, Sf)
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    // the (sub_id, code)-keyed ADC join must broadcast the per-query
    // lookup table (bounded by queries × m × codewords)...
    assert(joins.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      joins.map(_.getClass.getSimpleName).mkString(","))
    // ...and the scan side of every join carries codes/ids, never the
    // quantized vectors themselves — PQ's whole point is that the
    // original vectors are untouched after encoding
    val adcJoins = joins.filter(_.output.exists(_.name == "code"))
    assert(adcJoins.nonEmpty)
    adcJoins.foreach { j =>
      val arrayCols = j.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"vectors must not cross the ADC join: ${arrayCols.map(_.name)}")
    }
  }

  test("runtime Bloom filter prunes the fact side of a selective fact-fact join") {
    // fact-fact joins too big to broadcast still avoid scanning rows
    // the other side can never match: Catalyst injects a bloom filter
    // built from the selective side into the big side's scan. The
    // size thresholds are deployment knobs — at 100 TB the defaults
    // trigger; at sf0.01 the application side must be allowed to be
    // small. Broadcast is disabled to force the shuffle-join shape
    // this optimization exists for.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val l = Tables(spark, Sf, "lineitem")
      val o = Tables(spark, Sf, "orders").where(col("o_orderpriority") === "1-URGENT")
      val df = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      val plan = planOf(df)
      assert(plan.contains("might_contain"),
        s"bloom runtime filter must reach the lineitem side:\n${plan.take(2000)}")
    }
  }

  test("AQE coalesces post-shuffle partitions to the data, not the config") {
    // 3-group aggregate under shuffle.partitions=4: AQE's runtime stats
    // should collapse the near-empty reducers — the behavior that keeps
    // a 100 TB job from scheduling thousands of vestigial tasks
    val df = Tables(spark, Sf, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"expected AQE-coalesced shuffle read:\n${plan.take(2000)}")
  }

  test("bloom blocklist membership evaluates scan-side — no Exchange, no join") {
    val docs = Tables(spark, Sf, "documents")
    val bf = docs.where(pmod(col("doc_id"), lit(20)) === 0)
      .agg(graft.plans.BloomFilters
        .bloomAgg(xxhash64(col("text")), 1000L, 16384L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val plan = planOf(docs
      .where(graft.plans.BloomFilters.mightContain(lit(bf), xxhash64(col("text"))))
      .select(col("doc_id")))
    assert(!plan.contains("Exchange"),
      s"bloom membership must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      "bloom membership replaces the semi-join, not wraps it")
  }

  test("q21 aggregate reformulation scans lineitem once, not the textbook 3x") {
    val df = SparkEntry.queries("q21_waiting_suppliers")(spark, Sf)
    // AQE hides scan nodes from collect(); count them in the plan text
    val scans = planOf(df).linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    // the EXISTS + NOT EXISTS pair is folded into per-order counts over
    // ONE lineitem pass — at 100 TB the two extra fact-scale self-joins
    // are the difference between one shuffle and three
    assert(scans == 1, s"expected exactly one lineitem scan, got $scans:\n" +
      planOf(df).take(2000))
    assert(planOf(df).contains("partial_"),
      "per-(order,supplier) lateness agg must combine map-side")
  }

  test("SCD2 change-detect and interval-close share one user_id exchange") {
    val df = SparkEntry.queries("ev_scd2_intervals")(spark, Sf)
    val plan = planOf(df)
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // lag (change detection) and lead (validity close-off) both partition
    // on user_id with the same ordering — the filter between them must
    // not force a second fact-scale shuffle
    assert(hashEx == 1, s"expected one hash exchange, got $hashEx:\n${plan.take(2000)}")
    assert(plan.linesIterator.count(_.contains("Window [")) == 2, plan.take(2000))
  }

  test("q2's correlated MIN runs as a window over the joined rows — one fact scan") {
    val df = SparkEntry.queries("q2_min_supplier")(spark, Sf)
    val plan = planOf(df)
    val scans = plan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"groupBy+join-back would scan lineitem twice, got $scans")
    assert(plan.contains("BroadcastHashJoin"), "part/supplier dims must broadcast")
  }

  test("bigram LM scoring join broadcasts the model; text never crosses a join") {
    import graft.operators.CorpusQuality
    val df = CorpusQuality.bigramLmScore(Tables(spark, Sf, "documents"),
      "doc_id", "text")
    val plan = planOf(df)
    // (the vocab-size V enters via a deliberate 1-row broadcast
    // crossJoin, which prints as BroadcastNestedLoopJoin — bounded by
    // construction, so only CartesianProduct is forbidden here)
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    // the event-scale side (doc bigrams) joins the vocab²-bounded model
    // via broadcast — pinned by the hint, so the big side never shuffles
    assert(joins.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"model join must broadcast: ${joins.map(_.getClass.getSimpleName)}")
    // only (doc_id, bg)-shaped rows cross any join — never the doc text
    val carried = joins.flatMap(j => j.left.output ++ j.right.output)
    assert(carried.forall(a => a.name != "s" && a.name != "text"),
      s"raw text must not cross a join: ${carried.map(_.name).distinct}")
    // the model derivation and the scoring pass consume the SAME
    // (doc_id, bg) count aggregate: the gram explode + its shuffle must
    // run once and be REUSED, not recomputed per consumer
    df.collect()
    val finalPlan = planOf(df)
    assert(finalPlan.contains("Reused"),
      s"gram-count exchange must be shared across the two consumers:\n${finalPlan.take(2500)}")
  }

  test("skyline is join-free; passjoin and triangles stay hash-joined") {
    // skyline: two mapPartitions sweeps, never a dominance self-join
    val sky = graft.SparkEntry.queries("q_skyline")(spark, Sf)
    sky.collect()
    val skyPlan = planOf(sky)
    assert(!skyPlan.contains("Join"), s"skyline must be join-free:\n${skyPlan.take(1500)}")
    // passjoin candidates: segment keys make the discovery an EQUI-join —
    // a hash join, never the nested-loop a length-band inequality causes
    val sup = Tables(spark, Sf, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
    val cand = graft.operators.EditBlocking.passJoinCandidates(sup, 2)
    cand.collect()
    val candPlan = planOf(cand)
    assert(candPlan.contains("HashJoin"), candPlan.take(1500))
    assert(!candPlan.contains("NestedLoop"),
      s"candidate generation must never nested-loop:\n${candPlan.take(1500)}")
    // triangle census: the wedge join is an equi-join on the wedge apex
    // (the operator checkpoints its result, so pin the join fragment
    // as built, not the post-checkpoint scan)
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val o1 = pairs.select(col("a").as("u"), col("b").as("x"))
    val o2 = pairs.select(col("a").as("u"), col("b").as("y"))
    val wedge = o1.join(o2, "u").where(col("x") < col("y"))
    val wPlan = wedge.queryExecution.sparkPlan.toString
    assert(wPlan.contains("Join") && !wPlan.contains("NestedLoop") &&
      !wPlan.contains("CartesianProduct"), wPlan.take(1000))
  }

  test("signature-layer queries: equi-join candidates, broadcast small sides") {
    // ppjoin candidates + verify, mutual-kNN rank self-join, and phash
    // banding are all EQUI-joins on hashed keys — a nested loop in any
    // of them is the all-pairs anti-pattern the signatures exist to
    // avoid. (The deliberate broadcast-cross scans of bruteForceTopK /
    // binary Hamming ARE nested-loop-shaped by design, so those two
    // queries are pinned separately below.)
    for (name <- Seq("d_ppjoin_pairs", "s_mutual_knn", "m_phash_pairs")) {
      val df = graft.SparkEntry.queries(name)(spark, Sf)
      df.collect()
      val plan = planOf(df)
      assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
        s"$name must not nested-loop:\n${plan.take(1500)}")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$name candidates must be an equi-join:\n${plan.take(1500)}")
    }
    // binary rerank: signatures scan against BROADCAST query signatures
    // (8 bytes/vector stream past a tiny build side), shortlist via the
    // map-side-partial bounded top-k — never a window rank
    val br = graft.SparkEntry.queries("s_binary_rerank")(spark, Sf)
    br.collect()
    val brPlan = planOf(br)
    assert(brPlan.contains("BroadcastExchange"), brPlan.take(1500))
    assert(!brPlan.contains("Window"),
      s"rerank must rank via bounded aggregates, not windows:\n${brPlan.take(1500)}")
    // neighborhood jaccard: the bounded edge set is TakeOrdered'd then
    // broadcast into the adjacency equi-joins. Since r9 the bounded set
    // is checkpointed (the wedge agg ran twice, once per consumer), so
    // the final plan shows the checkpoint scan — pin the TakeOrdered on
    // the fragment AS BUILT (the triangle-census precedent above) and
    // the broadcast/no-cartesian shape on the executed query.
    val topFrag = spark.range(100)
      .select(col("id").as("a"), (col("id") + 1).as("b"),
        (col("id") % 7).as("n_orders"))
      .orderBy(col("n_orders").desc, col("a"), col("b")).limit(50)
    assert(topFrag.queryExecution.sparkPlan.toString
      .contains("TakeOrderedAndProject"))
    val nj = graft.SparkEntry.queries("g_neighbor_jaccard")(spark, Sf)
    nj.collect()
    val njPlan = planOf(nj)
    assert(njPlan.contains("BroadcastHashJoin"), njPlan.take(1500))
    assert(!njPlan.contains("CartesianProduct"), njPlan.take(1500))
  }

  test("fuzzy-pair discovery never nested-loops (band join is an equi-join)") {
    // The |Δlen| ≤ 2 block runs as lengthBandPairs (exploded length key
    // → hash join) in q_fuzzy_pairs / q_damerau_pairs / q_jaro_buckets,
    // and as PassJoin discovery in q_entity_clusters: a
    // BroadcastNestedLoopJoin here is O(n²) pair EVALUATIONS and the
    // exact anti-pattern these rewrites removed.
    for (name <- Seq("q_fuzzy_pairs", "q_damerau_pairs", "q_jaro_buckets",
        "q_entity_clusters")) {
      val df = graft.SparkEntry.queries(name)(spark, Sf)
      df.collect()
      val plan = planOf(df)
      assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
        s"$name must not nested-loop:\n${plan.take(1500)}")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$name discovery must be an equi-join:\n${plan.take(1500)}")
    }
  }

  test("native dot stays inside whole-stage codegen (no interpreted HOF)") {
    import graft.operators.Similarity
    val emb = Tables(spark, Sf, "embeddings")
      .select(col("vec_id").as("id"), Similarity.quantize(col("embedding")).as("qv"))
    val df = emb.select(Similarity.dotQ(col("qv"), col("qv")).as("d"))
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("*(1)"), s"dot must be codegen'd:\n${plan.take(1500)}")
    assert(!plan.toLowerCase.contains("aggregate(zip_with"),
      "interpreted higher-order-function formulation must be gone")
  }

  test("ewma: ONE user_id exchange feeds the sequential fold; pruned scan") {
    // drop the final orderBy (a grading artifact) to expose the operator
    // core: repartition(user_id) + in-partition sort + mapPartitions
    val core = graft.queries.Tables.events(spark, Sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts", "event_id")
    val plan = planOf(core)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one shuffle:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(user_id"), plan.take(1500))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty &&
      !readSchema.contains("props") && !readSchema.contains("event_type"),
      s"unused columns must be pruned from the scan: $readSchema")
  }

  test("batch observe(): named metrics surface on the QueryExecution") {
    val df = Tables(spark, Sf, "orders")
      .observe("audit", count(lit(1)).as("rows"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      .where(col("o_orderkey") > 0)
    // collect() executes THIS QueryExecution — count() would plan its
    // own and the observed metrics would stay empty on this one
    val n = df.collect().length.toLong
    val m = df.queryExecution.observedMetrics("audit")
    // observe measures at its position in the plan — BEFORE the filter —
    // so the audit row count is the scan's, independent of downstream
    assert(m.getAs[Long]("rows") >= n && m.getAs[Long]("cents") > 0L,
      s"observed metrics must be recorded: $m vs count $n")
  }

  test("join strategy hints are honored: SHUFFLE_HASH and MERGE") {
    val l = Tables(spark, Sf, "lineitem").select(col("l_orderkey"))
    val o = Tables(spark, Sf, "orders").select(col("o_orderkey"))
    val sh = l.join(o.hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
    assert(planOf(sh).contains("ShuffledHashJoin"), planOf(sh).take(1200))
    val sm = l.join(o.hint("MERGE"), col("l_orderkey") === col("o_orderkey"))
    assert(planOf(sm).contains("SortMergeJoin"), planOf(sm).take(1200))
  }

  test("round-5 additions: equi-joins, one-pass lattice, no global rank window") {
    // d_dup_spans: the duplicated-gram candidate path must stay
    // equi-joined on the gram key — a nested loop here is the
    // all-pairs-text disaster the k-gram design exists to avoid
    val spans = planOf(SparkEntry.queries("d_dup_spans")(spark, Sf))
    assert(!spans.contains("BroadcastNestedLoopJoin") &&
      !spans.contains("CartesianProduct"), spans.take(2000))
    // g_link_pred_ra: the bounded source set broadcasts into the 2-hop
    // walk (work ∝ source degrees, never an all-pairs wedge sweep)
    val ra = planOf(SparkEntry.queries("g_link_pred_ra")(spark, Sf))
    assert(ra.contains("BroadcastHashJoin"), ra.take(2000))
    assert(!ra.contains("CartesianProduct"), ra.take(2000))
    // q_k_anonymity: the whole generalization lattice is ONE rollup
    // pass — an Expand feeding aggregates, zero joins
    val ka = planOf(SparkEntry.queries("q_k_anonymity")(spark, Sf))
    assert(ka.contains("Expand"), ka.take(2000))
    assert(!ka.contains("Join"), s"lattice must be join-free:\n${ka.take(2000)}")
    // q_mann_whitney: ranks must come from the chunked prefix-sum scan,
    // never a global row-level rank window (single-task at scale)
    val mw = planOf(SparkEntry.queries("q_mann_whitney")(spark, Sf))
    assert(!mw.contains("Window"),
      s"no global rank window allowed:\n${mw.take(2000)}")
  }

  test("lateral top-n decorrelates: ranked window, no nested-loop join") {
    val plan = planOf(SparkEntry.queries("q_lateral_topn")(spark, Sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"LATERAL must not execute as a per-row rescan:\n${plan.take(2000)}")
    assert(plan.contains("Window") || plan.contains("row_number"),
      s"expected the decorrelated ranked-window shape:\n${plan.take(2000)}")
  }

  test("round-6 additions: pushdown-first retrieval, one-scan stats, bounded lattices") {
    // s_phrase_search: the phrase list broadcasts and the postings are
    // filtered BEFORE the position join — never a cartesian over
    // postings; the adjacency joins are all equi-joins
    val ph = planOf(SparkEntry.queries("s_phrase_search")(spark, Sf))
    assert(ph.contains("BroadcastHashJoin"), ph.take(2000))
    assert(!ph.contains("CartesianProduct") &&
      !ph.contains("BroadcastNestedLoopJoin"), ph.take(2000))
    // q_fdr_bh: the complement moments come from global − nation, so
    // the orders⋈customer join is scanned ONCE (one orders scan in the
    // whole plan) and the 25-row z table joins the frozen ladder
    val fdr = SparkEntry.queries("q_fdr_bh")(spark, Sf)
    val fdrScan = planOf(fdr)
    // ≤2: the checkpointed 25-row moments table feeds both the totals
    // and the z's, so (orders, customer) are each scanned ONCE — never
    // the 25 per-hypothesis rescans a naive "nation vs rest" runs
    assert(fdrScan.split("Scan parquet").length - 1 <= 2,
      s"one scan pair only:\n${fdrScan.take(2000)}")
    // q_ab_bootstrap: per-replicate sums must partial-aggregate
    // (map-side combine) — the shuffle carries B×4 longs, not rows
    val boot = planOf(SparkEntry.queries("q_ab_bootstrap")(spark, Sf))
    assert(boot.contains("partial_"),
      s"replicate sums must map-side combine:\n${boot.take(2000)}")
    // q_record_linkage / q_isotonic: bounded-lattice joins only — no
    // nested loops over the record space
    for (name <- Seq("q_record_linkage", "q_isotonic")) {
      val p = planOf(SparkEntry.queries(name)(spark, Sf))
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }

  test("round-6 statistics queries keep their scale-safe shapes") {
    // q_ks_test: the ECDF window consumes the per-value AGGREGATE (a
    // bounded latency domain), never raw lineitem rows — a groupBy on v
    // must sit in the plan alongside the window
    val ks = planOf(SparkEntry.queries("q_ks_test")(spark, Sf))
    assert(ks.contains("Window ") || ks.contains("Window ["), ks.take(2000))
    assert(ks.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("keys=[v")),
      s"ECDF must run over the collapsed value domain:\n${ks.take(2000)}")
    // q_weighted_median: phase-B refinement joins the tiny crossing
    // table by broadcast — the full-resolution re-aggregation never
    // sort-merges against the fact
    val wm = planOf(SparkEntry.queries("q_weighted_median")(spark, Sf))
    assert(wm.contains("BroadcastHashJoin"), wm.take(2000))
    // q_sprt: running counts come from the distributed prefix sum —
    // NO window operator anywhere in the plan (a 2-partition window
    // would serialize the stream)
    val sp = planOf(SparkEntry.queries("q_sprt")(spark, Sf))
    assert(!sp.contains("Window "), s"q_sprt must be window-free:\n${sp.take(2000)}")
    // q_decile_lift: cutpoints come from the DISTRIBUTED quantile scan
    // and return as plan LITERALS (9 CASE WHEN thresholds) — no
    // percentile buffer aggregate, no SortMergeJoin; the only sort
    // allowed is the final 10-row display ordering
    val dl = planOf(SparkEntry.queries("q_decile_lift")(spark, Sf))
    assert(!dl.contains("SortMergeJoin"), dl.take(2000))
    assert(!dl.contains("percentile"),
      s"cutpoints must be pre-resolved literals, not a value-buffer aggregate:\n${dl.take(2000)}")
    assert(dl.contains("CASE WHEN"), dl.take(2000))
    // t_js_divergence: per-source totals join AFTER alignment by
    // broadcast; no cartesian anywhere
    val js = planOf(SparkEntry.queries("t_js_divergence")(spark, Sf))
    assert(js.contains("BroadcastHashJoin"), js.take(2000))
    assert(!js.contains("CartesianProduct"), js.take(2000))
    // ev_acf / ev_hurst_avm: the lag/scale ladders join the spine as
    // equi-joins or tiny broadcasts — never a cartesian over hours
    for (name <- Seq("ev_acf", "ev_hurst_avm", "g_rich_club")) {
      val p = planOf(SparkEntry.queries(name)(spark, Sf))
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }

  test("round-6 second-widening queries keep their scale-safe shapes") {
    // t_textrank: the +-2 co-occurrence pairing is the offset
    // EQUI-join (pos_b = pos + off), never a per-doc band/nested-loop
    // join — the intermediate stays linear in tokens
    // (the 2-row offs table may legitimately broadcast-nested-loop;
    // what must never appear is a cartesian over token rows)
    val tr = planOf(SparkEntry.queries("t_textrank")(spark, Sf))
    assert(!tr.contains("CartesianProduct"), tr.take(2000))
    // d_cdc_chunks (round 9): chunking happens INSIDE the scan stage —
    // the native graft_ae_chunks expression replaced the per-character
    // explode + window-MAX + lag + text re-join, so the plan must carry
    // NO Window operator and no per-character sequence explode at all
    val cdc = SparkEntry.queries("d_cdc_chunks")(spark, Sf)
    val cdcPlan = planOf(cdc)
    assert(cdcPlan.contains("graft_ae_chunks"),
      s"CDC must chunk via the native expression:\n${cdcPlan.take(2000)}")
    assert(!cdcPlan.contains("Window "),
      s"CDC must not re-grow a per-character window:\n${cdcPlan.take(2000)}")
    assert(!cdcPlan.contains("sequence(1"),
      s"CDC must not explode per-character positions:\n${cdcPlan.take(2000)}")
    // q_kmv_intersect: the sketch build partially aggregates map-side
    // (ObjectHashAggregate partial_kmin), so each task ships <= K longs
    val kmv = planOf(SparkEntry.queries("q_kmv_intersect")(spark, Sf))
    assert(kmv.contains("ObjectHashAggregate") &&
      kmv.contains("partial_kminvaluesagg"),
      s"KMV must partial-aggregate:\n${kmv.take(3000)}")
    // s_dbscan: every candidate join is an equi-join; no cartesian
    val db = planOf(SparkEntry.queries("s_dbscan")(spark, Sf))
    assert(!db.contains("CartesianProduct"), db.take(2000))
    // g_ktruss runs actions internally; pin its delta anti-joins by
    // shape instead: the conformal and Levene single-row statistics
    // must keep their one-pass aggregate shape (no join back to facts)
    val lv = planOf(SparkEntry.queries("q_levene_bf")(spark, Sf))
    assert(!lv.contains("SortMergeJoin"), lv.take(2000))
  }

  test("round-7 additions keep their scale-safe shapes") {
    // q_hhi: the 25-row nation dim must broadcast; supplier revenue
    // never sort-merge-joins a dimension
    val hhi = planOf(SparkEntry.queries("q_hhi")(spark, Sf))
    assert(hhi.contains("BroadcastHashJoin"), hhi.take(2000))
    assert(!hhi.contains("SortMergeJoin"), hhi.take(2000))
    // g_cf_cosine: co-occurrence is the orderkey EQUI-join wedge and
    // the seed/degree tables broadcast — an all-pairs cartesian over
    // items must never appear
    val cf = planOf(SparkEntry.queries("g_cf_cosine")(spark, Sf))
    assert(!cf.contains("CartesianProduct"), cf.take(2000))
    assert(cf.contains("BroadcastHashJoin"), cf.take(2000))
    // t_rake_keywords: the vocabulary-sized word-score table joins
    // back by BROADCAST (raw token rows must not shuffle for it)
    val rake = planOf(SparkEntry.queries("t_rake_keywords")(spark, Sf))
    assert(rake.contains("BroadcastHashJoin"), rake.take(2000))
    assert(!rake.contains("CartesianProduct"), rake.take(2000))
    // s_jl_distortion: the 1024-row projection matrix broadcasts; the
    // only join over data rows is the dimension-index equi-join (the
    // tiny range x range matrix build may nested-loop — what must
    // never appear is a cartesian over vector-component rows)
    val jl = planOf(SparkEntry.queries("s_jl_distortion")(spark, Sf))
    assert(jl.contains("BroadcastHashJoin"), jl.take(2000))
    assert(!jl.contains("CartesianProduct"), jl.take(2000))
    // q_wasserstein / q_runs_test: day- and bin-cardinality series;
    // the single global window is bounded by the AGGREGATE cardinality
    // and must never pull a sort-merge join above it
    val ws = planOf(SparkEntry.queries("q_wasserstein")(spark, Sf))
    assert(!ws.contains("SortMergeJoin"), ws.take(2000))
    val rt = planOf(SparkEntry.queries("q_runs_test")(spark, Sf))
    assert(!rt.contains("SortMergeJoin"), rt.take(2000))
  }

  test("no partition-less window over entity-cardinality rows (r7 sweep)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // The r7-verdict contract: a Window with NO partition key funnels its
    // whole input through one task, so it is only admissible when the
    // input is provably bounded — below a LIMIT, or above a grouped
    // aggregate whose key cardinality is fixed (10 deciles). Queries in
    // `zero` were rewritten onto Ids.prefixSum (the range-partitioned
    // two-pass scan) and must carry NO partition-less window at all;
    // queries in `boundedResidue` keep one, and its child subtree must
    // contain the bounding operator.
    def emptyPartWindows(name: String) = {
      val df = graft.SparkEntry.queries(name)(spark, Sf)
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    }
    for (q <- Seq("q_abc_xyz", "q_abc_class", "q_spearman", "q_auc",
        "q_conformal", "g_degree_gini"))
      assert(emptyPartWindows(q).isEmpty,
        s"$q must not run a partition-less window over entity-cardinality rows")
    for (q <- Seq("ev_qini_uplift", "q_rank_churn",
        "t_token_dispersion", "t_vocab_coverage");
        w <- emptyPartWindows(q)) {
      val bounded = w.child.collect {
        case l: GlobalLimitExec => l.toString
        case t: TakeOrderedAndProjectExec => t.toString
        case a: HashAggregateExec
            if a.groupingExpressions.nonEmpty &&
              a.groupingExpressions.forall(_.toString.contains("decile")) =>
          a.toString
      }
      assert(bounded.nonEmpty,
        s"$q: partition-less window over unbounded input:\n${w.toString.take(1500)}")
    }
  }
}
