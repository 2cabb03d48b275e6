package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.util.Scratch

/** Planted-fixture semantics for the compressed-representation queries
  * (`graft.queries.SignatureQueries`) — the oracle gate grades them on
  * real testdata; these cases pin the behaviors the gate can't see at
  * sf0.01 (e.g. phash pairs exist only when payload dups exist) by
  * writing tiny parquet table dirs and driving the queries through the
  * public `SparkEntry.queries` seam.
  */
class SignatureSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = Scratch.dir("graft-sig-spec")

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.map { case (id, text) => (id, text, "en", "src", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("m_phash_pairs finds identical payloads at hamming 0 and nothing else") {
    val dir = tmpDir()
    writeDocs(dir, Seq(
      1L -> "the exact same binary payload bytes",
      2L -> "the exact same binary payload bytes",
      3L -> "a completely different payload"))
    val pairs = SparkEntry.queries("m_phash_pairs")(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("ev_retention_bitmap: cohort = day-0 actives, bit test per horizon day") {
    val dir = tmpDir()
    val ts = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2025-01-${1 + d}%02d $h%02d:00:00")
    // u1 active day0+day7, u2 day0 only, u3 day7 only (not in cohort)
    val events = Seq(
      (1L, ts(0, 1), 10L, "view", 1.0, "{}"),
      (2L, ts(0, 2), 10L, "view", 1.0, "{}"), // same user+day: one bit
      (3L, ts(7, 3), 10L, "purchase", 1.0, "{}"),
      (4L, ts(0, 4), 20L, "view", 1.0, "{}"),
      (5L, ts(7, 5), 30L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ev_retention_bitmap")(spark, dir)
      .select("day_k", "n_cohort", "n_retained")
      .as[(Long, Long, Long)].collect()
      .map { case (k, c, r) => k -> ((c, r)) }.toMap
    assert(out(0L) == ((2L, 2L)))
    assert(out(7L) == ((2L, 1L)))
    assert(out(1L) == ((2L, 0L)))
    assert(out.size == 30 && out.values.forall(_._1 == 2L))
  }

  private def writeEmb(dir: String, rows: Seq[(Long, Seq[Float], Int)]): Unit =
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  test("s_binary_rerank ranks an identical twin first at hamming 0, cosine 1") {
    val dir = tmpDir()
    val dim = 64
    // deterministic pseudo-random vectors; vec 0 is the query (0 % 50 == 0),
    // vec 1 its exact twin
    def v(seed: Int): Seq[Float] =
      (0 until dim).map(i => math.sin(seed * 97 + i * 13).toFloat)
    writeEmb(dir, Seq(
      (0L, v(1), 0), (1L, v(1), 0),
      (2L, v(2), 1), (3L, v(3), 1), (4L, v(4), 0), (5L, v(5), 1),
      (6L, v(6), 0), (7L, v(7), 1)))
    val out = SparkEntry.queries("s_binary_rerank")(spark, dir)
      .select("q_id", "rank", "n_id", "hamming", "cosine")
      .as[(Long, Int, Long, Long, Double)].collect()
    val first = out.find(r => r._1 == 0L && r._2 == 1).get
    assert(first._3 == 1L && first._4 == 0L && first._5 === 1.0)
  }

  test("s_int8_recall survives a constant dimension (mx == mn guard) and stays in [0,1]") {
    val dir = tmpDir()
    val dim = 64
    def v(seed: Int): Seq[Float] =
      (0 until dim).map(i => if (i == 0) 0.5f else math.cos(seed * 31 + i * 7).toFloat)
    writeEmb(dir, (0L to 9L).map(id => (id, v(id.toInt), (id % 3).toInt)))
    val out = SparkEntry.queries("s_int8_recall")(spark, dir)
      .select("q_id", "recall").as[(Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
  }

  test("t_hash_embed puts a single token in its md5 bucket with md5-determined sign") {
    val dir = tmpDir()
    writeDocs(dir, Seq(1L -> "hello"))
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bucket = java.lang.Long.parseLong(hex.substring(0, 2), 16) % 16
    val sign = if (java.lang.Long.parseLong(hex.substring(2, 3), 16) < 8) 1L else -1L
    val out = SparkEntry.queries("t_hash_embed")(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, bucket, sign)))
  }
}
