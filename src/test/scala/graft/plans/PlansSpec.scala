package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextDedup

/** Native expression + SQL registration + SimHash behavior. */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("bloom filter bridge: no false negatives, bounded false positives") {
    val keys = spark.range(100)
      .select(xxhash64(col("id").cast("string")).as("h"))
    val bf = keys.agg(BloomFilters.bloomAgg(col("h"), 100L, 8192L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val got = spark.range(200)
      .select(col("id"), xxhash64(col("id").cast("string")).as("h"))
      .where(BloomFilters.mightContain(lit(bf), col("h")))
      .select("id").as[Long].collect().toSet
    assert((0L until 100L).toSet.subsetOf(got)) // membership is never missed
    assert(got.size <= 110)                     // ~80 bits/key → FPs ≈ 0
  }

  test("StringHammingDistance: interpreted and codegen'd paths agree") {
    val df = Seq(
      ("0000", "0000", Some(0)),
      ("0101", "0000", Some(2)),
      ("1111", "0000", Some(4)),
      ("abc", "abd", Some(1)),
      ("ab", "abcd", None)) // length mismatch → null
      .toDF("a", "b", "want")
    val got = df.select(
      StringHammingDistance.hamming(col("a"), col("b")).as("d"), col("want"))
      .collect()
    got.foreach { r =>
      assert(Option(r.get(0)).map(_.asInstanceOf[Int]) ==
        Option(r.get(1)).map(_.asInstanceOf[Int]))
    }
    // null input → null
    val n = Seq((null: String, "x")).toDF("a", "b")
      .select(StringHammingDistance.hamming(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("graft_hamming registered for SQL via GraftFunctions") {
    val got = spark.sql("SELECT graft_hamming('10110', '10011') AS d")
      .head().getInt(0)
    assert(got == 2)
  }

  test("DamerauLevenshtein: true (unrestricted) DL semantics, both eval paths") {
    // Expected values verified against DuckDB's damerau_levenshtein
    // (the driver's oracle engine): true DL, where a transposed pair
    // may be edited again later — DL("CA","ABC")=2, not OSA's 3.
    val cases = Seq(
      ("CA", "ABC", 2), ("ab", "ba", 1), ("abc", "acb", 1),
      ("kitten", "sitting", 3), ("", "abc", 3), ("abc", "", 3),
      ("a", "a", 0), ("abcdef", "abcfed", 2), ("xabx", "xbax", 1),
      ("specter", "spectre", 1), ("", "", 0))
    cases.foreach { case (a, b, want) =>
      assert(DamerauLevenshtein.compute(a, b) == want, s"compute($a,$b)")
      assert(DamerauLevenshtein.compute(b, a) == want, s"symmetry($b,$a)")
    }
    // codegen'd path through a DataFrame agrees with the static compute
    val df = cases.toDF("a", "b", "want")
    val got = df.select(
      DamerauLevenshtein.damerauLevenshtein(col("a"), col("b")).as("d"),
      col("want")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // null propagation
    val n = Seq((null: String, "x")).toDF("a", "b")
      .select(DamerauLevenshtein.damerauLevenshtein(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
    // metric properties vs levenshtein on random-ish strings:
    // dl <= lev always; triangle inequality holds (true DL is a metric)
    val words = Seq("delivery", "dleivery", "dlievery", "delivary",
      "deilvery", "package", "pacakge", "packgae", "pckage", "ackagep")
    for (x <- words; y <- words) {
      val dl = DamerauLevenshtein.compute(x, y)
      val lev = org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .levenshteinDistance(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      assert(dl <= lev, s"dl($x,$y)=$dl > lev=$lev")
      for (z <- words)
        assert(dl <= DamerauLevenshtein.compute(x, z) +
          DamerauLevenshtein.compute(z, y), s"triangle $x,$y via $z")
    }
  }

  test("JaroWinkler: DuckDB-verified values, both eval paths") {
    // Expected values verified against DuckDB's jaro_winkler_similarity:
    // standard Winkler (p=0.1, prefix cap 4, boost only when jaro > 0.7),
    // empty-vs-anything (including empty-empty) scores 0.
    val eps = 1e-12
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "abc", 1.0), ("", "abc", 0.0), ("ab", "", 0.0), ("", "", 0.0),
      ("abcdefgh", "abzzzzzz", 0.5), // jaro 0.5 ≤ 0.7: prefix must NOT boost
      ("ab", "axyz", 0.5833333333333334),
      ("a", "ab", 0.8500000000000001),
      ("Supplier#000000001", "Supplier#000000002", 0.9777777777777777))
    cases.foreach { case (a, b, want) =>
      assert(math.abs(JaroWinkler.compute(a, b) - want) < eps, s"compute($a,$b)")
      assert(math.abs(JaroWinkler.compute(b, a) - want) < eps, s"symmetry($b,$a)")
    }
    // codegen'd path through a DataFrame agrees with the static compute
    val df = cases.toDF("a", "b", "want")
    val got = df.select(
      JaroWinkler.jaroWinkler(col("a"), col("b")).as("s"), col("want")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < eps))
    // null propagation
    val n = Seq((null: String, "x")).toDF("a", "b")
      .select(JaroWinkler.jaroWinkler(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
    // range and identity properties on real-ish names
    val words = Seq("delivery", "dleivery", "delivary", "package", "pacakge")
    for (x <- words; y <- words) {
      val s = JaroWinkler.compute(x, y)
      assert(s >= 0.0 && s <= 1.0, s"range($x,$y)=$s")
      if (x == y) assert(s == 1.0)
    }
  }

  test("graft_jaro_winkler registered for SQL via GraftFunctions") {
    val s = spark.sql("SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS s")
      .head().getDouble(0)
    assert(math.abs(s - 0.9611111111111111) < 1e-12)
  }

  test("graft_damerau registered for SQL via GraftFunctions") {
    assert(spark.sql("SELECT graft_damerau('CA', 'ABC') AS d").head().getInt(0) == 2)
  }

  test("LongArrayDot/NormSq: native == interpreted aggregate formulation") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 2L), Seq(3L, 9L, -1L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    val got = df.select(
      LongArrayMath.dot(col("a"), col("b")).as("dot"),
      LongArrayMath.normSq(col("a")).as("nsq"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("dot_ref"),
      aggregate(col("a"), lit(0L), (acc, x) => acc + x * x).as("nsq_ref"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3), r)
    }
    // length mismatch → null, null input → null
    val edge = Seq((Seq(1L), Seq(1L, 2L))).toDF("a", "b")
      .select(LongArrayMath.dot(col("a"), col("b"))).head()
    assert(edge.isNullAt(0))
    assert(spark.sql("SELECT graft_dot(array(1L,2L), array(3L,4L))")
      .head().getLong(0) == 11L)
    assert(spark.sql("SELECT graft_norm_sq(array(3L,4L))")
      .head().getLong(0) == 25L)
  }

  test("HammingIdentityFold rule removes hamming(x, x) from the plan") {
    val df = Seq("abc", null: String).toDF("x")
      .select(col("x"), StringHammingDistance.hamming(col("x"), col("x")).as("d"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("stringhammingdistance"),
      df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => Option(r.get(1)))
    assert(got.toSeq == Seq(Some(0), None))
  }

  test("DotToNormSq rule rewrites dot(a, a) into the single-walk norm") {
    // non-literal input: a LocalRelation of literals would constant-fold
    // the whole expression away before the rule can be observed
    val df = spark.range(1)
      .select(array(col("id") + 3L, col("id") + 4L).as("v"))
      .select(graft.plans.LongArrayMath.dot(col("v"), col("v")).as("d"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("longarraydot"), opt)
    assert(opt.contains("longarraynormsq"), opt)
    assert(df.head().getLong(0) == 25L)
  }

  test("simhash: identical docs identical sigs; near-dups within hamming 3") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "sygma")
    val far = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val docs = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
    val sigs = TextDedup.simHashSignatures(
      TextDedup.wordTokens(docs, "doc_id", "text"))
    val byId = sigs.as[(Long, String)].collect().toMap
    assert(byId(1L) == byId(2L))
    assert(byId.values.forall(_.length == TextDedup.SimHashBits))

    val pairs = TextDedup.simHashPairs(sigs, 3)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 2L))) // identical → hamming 0
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 0)
    assert(pairSet.contains((1L, 3L)) || pairSet.contains((2L, 3L)),
      s"near-dup should fall within hamming 3: $pairs")
    assert(!pairSet.exists(p => p._2 == 4L && p._1 <= 3L) ||
      pairs.filter(p => p._2 == 4L).forall(_._3 <= 3))
  }

  test("simhash pairs are sound near-dups; recall profile as designed") {
    val docs = graft.queries.Tables(spark, Sf, "documents")
    // simhash lives in unigram-token space — soundness ground truth is
    // token-set jaccard, not trigram-shingle jaccard (same words in a
    // different order ARE a near-dup to simhash, by design)
    val exactLoose = TextDedup.jaccardPairs(
      TextDedup.wordTokens(docs, "doc_id", "text")
        .withColumnRenamed("token", "shingle"), 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val exactTight = TextDedup.jaccardPairs(
      TextDedup.wordShingles(docs, "doc_id", "text"), 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sim = TextDedup.simHashPairs(
      TextDedup.simHashSignatures(TextDedup.wordTokens(docs, "doc_id", "text")), 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exactTight.nonEmpty && sim.nonEmpty)
    // soundness: everything simhash flags really is a near-dup pair
    assert(sim.forall(exactLoose.contains), (sim -- exactLoose).take(5))
    // recall: 64-bit/h<=3 targets jaccard>~0.95; the planted dups sit at
    // ~0.9 where expected hamming is ~9, so partial recall is by design
    // (MinHash is the 0.7-0.9 detector and OperatorsSpec pins its recall)
    val recall = exactTight.count(sim.contains).toDouble / exactTight.size
    assert(recall >= 0.15, s"simhash recall $recall on ${exactTight.size} true pairs")
  }

  test("FloatArrayQuantize: native == HOF floor(x*scale+0.5), incl. negatives") {
    // values straddling the rounding boundary both ways, plus exact
    // halves where floor(+0.5) and round() differ for negatives:
    // floor(-0.00005·1e4 + 0.5) = floor(0.0) = 0, NOT -1
    val vecs = Seq(
      Seq(0.1f, -0.1f, 0.00004f, -0.00005f, 0.99999f, -1.5f),
      Seq(0.0f, 123.456f, -123.456f))
    val df = vecs.toDF("vec")
    val got = df.select(
        VectorQuantize.quantize(col("vec"), 10000).as("nq"),
        transform(col("vec"),
          x => floor(x.cast("double") * 10000 + 0.5).cast("long")).as("hq"))
      .as[(Seq[Long], Seq[Long])].collect()
    got.foreach { case (n, h) => assert(n == h) }
    // null row → null out
    val nr = Seq((null: Seq[Float], 1)).toDF("vec", "x")
      .select(VectorQuantize.quantize(col("vec"), 10000)).head()
    assert(nr.isNullAt(0))
  }

  test("HyperplaneSignature: native == per-plane when(dot>0) concat") {
    val planes: Seq[Seq[Int]] = graft.operators.Similarity.planes(16, 8)
    val df = spark.range(200)
      .select(col("id"),
        transform(sequence(lit(0), lit(7)), d =>
          ((pmod(xxhash64(col("id"), d), lit(2001)) - 1000)
            .cast("double") / 1000).cast("float")).as("vec"))
      .select(col("id"), graft.operators.Similarity.quantize(col("vec")).as("qv"))
    val legacy = concat(planes.map { plane =>
      val dot = graft.plans.LongArrayMath.dot(col("qv"), typedLit(plane.map(_.toLong)))
      when(dot > 0, "1").otherwise("0")
    }: _*)
    val mism = df.select(
        VectorQuantize.hyperplaneSignature(col("qv"), planes.map(_.map(_.toLong))).as("n"),
        legacy.as("l"))
      .where(col("n") =!= col("l")).count()
    assert(mism == 0L)
    // wrong-length vector → null (caller bug surfaced, not a silent '0' row)
    val bad = Seq(Seq(1L, 2L)).toDF("qv")
      .select(VectorQuantize.hyperplaneSignature(col("qv"),
        planes.map(_.map(_.toLong)))).head()
    assert(bad.isNullAt(0))
  }

  test("CharNGrams: native == HOF transform/substring, incl. multibyte") {
    val base = Seq("abcdef", "ab", "héllo wörld", "日本語のテスト", "x", "")
      .toDF("s")
    for (n <- Seq(2, 3)) {
      val df = base.where(length(col("s")) >= n) // the call sites' guard
      val mism = df
        .select(CharNGrams.of(col("s"), n).as("nat"),
          expr(s"transform(sequence(1, length(s) - ${n - 1}), " +
            s"i -> substring(s, i, $n))").as("hof"))
        .where(not(col("nat") === col("hof"))).count()
      assert(mism == 0L, s"n=$n")
    }
    // below-n input → EMPTY (not the HOF's descending-sequence artifact)
    val short = Seq("a").toDF("s")
      .select(CharNGrams.of(col("s"), 2)).as[Seq[String]].head()
    assert(short.isEmpty)
    // null → null
    val nr = Seq((null: String, 1)).toDF("s", "x")
      .select(CharNGrams.of(col("s"), 2)).head()
    assert(nr.isNullAt(0))
  }

  test("CharNGrams: 200 seeded random unicode strings (incl. astral) == HOF") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abz09 .é漢🎉𝔘" // 1-, 2-, 3-, and 4-byte code points
    val strs = Seq.fill(200)(
      (0 until (2 + rnd.nextInt(30)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      // mkString over chars splits surrogate pairs; rebuild validly:
      .map(s => new String(s.codePoints().toArray, 0,
        s.codePoints().toArray.length))
    val df = strs.toDF("s").where(length(col("s")) >= 3)
    val mism = df.select(CharNGrams.of(col("s"), 3).as("nat"),
        expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
          .as("hof"))
      .where(not(col("nat") === col("hof"))).count()
    assert(mism == 0L)
  }

  test("FloatArrayQuantize: nullable-element path propagates per-element nulls") {
    val df = Seq(Seq[java.lang.Float](1.5f, null, -0.25f)).toDF("vec")
    val got = df.select(VectorQuantize.quantize(col("vec"), 10000))
      .collect().head.getSeq[Any](0)
    assert(got == Seq(15000L, null, -2500L))
  }

  test("KMinValuesAgg: k smallest distinct values under any partitioning") {
    val rnd = new scala.util.Random(7)
    // duplicates on purpose: KMV is set-semantics
    val vals = Seq.fill(5000)(rnd.nextInt(2000).toLong)
    val expect = vals.distinct.sorted.take(64)
    for (parts <- Seq(1, 7, 32)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(KMinValuesAgg.kmin(col("h"), 64).as("ks"))
        .as[Seq[Long]].head()
      assert(got == expect, s"parts=$parts")
    }
    // fewer distinct values than k: buffer returns all of them
    val small = Seq(5L, 1L, 5L, 3L).toDF("h")
      .agg(KMinValuesAgg.kmin(col("h"), 64).as("ks"))
      .as[Seq[Long]].head()
    assert(small == Seq(1L, 3L, 5L))
  }

  test("KMV estimator: (k-1)/theta is within 20% of the true distinct count") {
    val n = 20000
    val df = spark.range(n)
      .select(conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    val ks = df.agg(KMinValuesAgg.kmin(col("h"), 256).as("ks"))
      .as[Seq[Long]].head()
    assert(ks.length == 256)
    val est = 255.0 * 4294967296.0 / ks.last
    assert(math.abs(est - n) / n < 0.2, s"est=$est")
  }

  test("graft_quantize / graft_char_ngrams registered for SQL") {
    val q = spark.sql(
      "SELECT graft_quantize(array(CAST(0.5 AS FLOAT)), 10000) AS q")
      .as[Seq[Long]].head()
    assert(q == Seq(5000L))
    val g = spark.sql("SELECT graft_char_ngrams('abcd', 2) AS g")
      .as[Seq[String]].head()
    assert(g == Seq("ab", "bc", "cd"))
  }
}
