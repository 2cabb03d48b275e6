package graft

/** Dev utility: print the golden fingerprints (corpus_len, n_rows,
  * hash_sum, hash_xor) of the production-hash fast twins for each given
  * SF dir. The printed constants are committed into
  * `TextQueries.{minhashFastGolden,winnowFastGolden}` — the oracle side
  * of `d_minhash_lsh_fast` / `t_winnow_fast`. Re-run after any change
  * to the fast-twin implementations (a changed fingerprint is exactly
  * what the grade is meant to catch).
  *
  * Partition-count independent by construction: every fingerprint term
  * is a content hash reduced by commutative ops (count / pmod-sum /
  * xor), unlike rand()-seeded streams.
  */
object GoldenFp {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("0.001", "0.01", "0.1").map(sf => s"/root/testdata/sf$sf")
    val spark = Session("graft-golden-fp")
    for (dir <- dirs; q <- Seq("d_minhash_lsh_fast", "t_winnow_fast")) {
      val r = SparkEntry.queries(q)(spark, dir).collect().head
      println(s"GOLDEN $q $dir corpus_len=${r.getAs[Long]("corpus_len")} " +
        s"n_rows=${r.getAs[Long]("n_rows")} hash_sum=${r.getAs[Long]("hash_sum")} " +
        s"hash_xor=${r.getAs[Long]("hash_xor")}")
    }
    spark.stop()
  }
}
