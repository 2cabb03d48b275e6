package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Checkpoints, CorpusQuality, TextDedup}
import Sql.D

/** Corpus-hygiene surface over `documents`: Gopher-style repetition
  * metrics, train-vs-eval n-gram decontamination, and deterministic
  * hash-bucket sampling — the pre-training gates that run BEFORE
  * dedup/quality filtering at 100 TB. Every query has a DuckDB oracle
  * twin restating the same integer-exact math.
  */
object CorpusQueries {

  // --- Gopher repetition metrics ------------------------------------
  private def repetition(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.repetitionMetrics(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def gramCte(n: Int, name: String): String = {
    val concatExpr = (0 until n)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
    s"""$name AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(w)-${n - 1}), i -> $concatExpr)) AS gram
  FROM docs WHERE len(w) >= $n
)"""
  }

  private val repetitionOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
${gramCte(2, "bi")},
${gramCte(3, "tri")},
bic AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
tric AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM tri GROUP BY 1, 2),
bis AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
    CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt
  FROM bic GROUP BY 1
),
tris AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
    CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_trigram_occ
  FROM tric GROUP BY 1
)
SELECT b.doc_id, n_bigrams, top_bigram_cnt,
  CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS top_bigram_frac,
  COALESCE(n_trigrams, 0) AS n_trigrams,
  COALESCE(dup_trigram_occ, 0) AS dup_trigram_occ,
  CASE WHEN COALESCE(n_trigrams, 0) = 0 THEN ${D("0")}
    ELSE CAST(dup_trigram_occ AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
  END AS dup_trigram_frac
FROM bis b LEFT JOIN tris USING (doc_id)
ORDER BY doc_id"""

  // --- decontamination ----------------------------------------------
  /** The "eval set" stand-in: every 97th document. Real use passes the
    * benchmark corpus as the probe side; the dataflow is identical.
    */
  private val ProbeMod = 97
  private val ContamN = 5

  private def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = TextDedup.wordShingles(Tables(s, dir, "documents"), "doc_id", "text", ContamN)
    CorpusQuality.contaminatedDocs(
      sh.where(pmod(col("doc_id"), lit(ProbeMod)) =!= 0),
      sh.where(pmod(col("doc_id"), lit(ProbeMod)) === 0))
      .orderBy("doc_id")
  }

  private val contaminationOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, len(w)-${ContamN - 1}),
      i -> ${(0 until ContamN).map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")})) AS shingle
  FROM docs WHERE len(w) >= $ContamN
),
probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $ProbeMod = 0)
SELECT doc_id, COUNT(*) AS n_shared_grams
FROM sh JOIN probe USING (shingle)
WHERE doc_id % $ProbeMod <> 0
GROUP BY doc_id ORDER BY doc_id"""

  // --- deterministic stratified sampling ----------------------------
  /** Keep ≈20% per source (first md5 byte < 51 of 256) — reproducible
    * under retries and re-partitioning, unlike `rand()`-based sampling.
    */
  private val SampleThreshold = 51

  private def hashSample(s: SparkSession, dir: String): DataFrame = {
    val member = CorpusQuality.hashBucketMember(
      col("source"), col("doc_id"), SampleThreshold)
    Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(member, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("sample_frac",
        col("n_sampled").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  private val hashSampleOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN ${nib(1)} * 16 + ${nib(2)} < $SampleThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
  CAST(SUM(CASE WHEN ${nib(1)} * 16 + ${nib(2)} < $SampleThreshold THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS sample_frac
FROM documents GROUP BY source ORDER BY source"""
  }

  // --- deterministic stratified train/val/test split -----------------
  private def trainValTest(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.assignSplit(Tables(s, dir, "documents"), "source", "doc_id")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("sum_tokens"))
      .orderBy("source", "split")

  private val trainValTestOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val h = s"${nib(1)} * 16 + ${nib(2)}"
    s"""SELECT source,
  CASE WHEN $h < 204 THEN 'train' WHEN $h < 230 THEN 'val' ELSE 'test' END AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(length(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS sum_tokens
FROM documents GROUP BY 1, 2 ORDER BY source, split"""
  }

  // --- corpus vocabulary head (Zipf / data-card stat) -----------------
  /** Top-25 tokens with corpus frequencies: groupBy(token) map-side
    * combines, the top-k is TakeOrderedAndProject (never a full sort) —
    * k-bounded at any corpus size.
    */
  private def vocabTopK(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(25)

  private val vocabTopKOracle = """SELECT token, COUNT(*) AS n
FROM (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
) WHERE token <> ''
GROUP BY token ORDER BY n DESC, token LIMIT 25"""

  // --- BPE merge-pair statistics (tokenizer training, one round) ------
  /** The inner loop of BPE tokenizer training: corpus-weighted adjacent
    * character-pair frequencies, i.e. the statistic whose argmax is the
    * next merge rule. The scale trick is the classic one — collapse the
    * corpus to a (word, freq) VOCABULARY first, then explode character
    * positions per DISTINCT word only: pair-counting work scales with
    * vocabulary size (Heaps' law, ≪ corpus size), while corpus volume
    * only feeds the word-count aggregation, which map-side combines.
    * Overlapping occurrences each count ("aaa" → 2×(aa)), matching
    * reference BPE implementations. Top 30 = the merge-table head.
    */
  /** BPE tokenizer TRAINING (Sennrich et al. 2016) — three full
    * learn-then-merge rounds, not just pair statistics: each round
    * counts corpus-weighted adjacent symbol pairs over the CURRENT
    * segmentation, picks the top pair ((support DESC, pair ASC) — the
    * deterministic rule selection), and applies it greedily
    * left-to-right to every word. The greedy merge is ONE codegen'd
    * `replace` per round on a delimiter-encoded segmentation string
    * (`··`-joined symbols; the pattern `·a··b·` consumes one delimiter
    * from each side, so adjacent merge sites stay independent and both
    * engines' left-to-right non-overlapping replace compute the exact
    * BPE greedy pass). Work per round: one pair-count aggregate over
    * the Heaps-law-bounded vocabulary + one narrow map — the driver
    * sees only the 1-row rule per round, the kmeans-codebook pattern.
    * Output: the 3 learned merge rules with their support.
    */
  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .where(col("w") =!= "" && length(col("w")).between(2, 20) &&
        !col("w").contains("·"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    var seg = words.select(col("n"), expr(
      "concat('··', array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '··'), '··')")
      .as("seg"))
    val rules = Seq.newBuilder[(Long, String, String, String, Long)]
    for (r <- 1 to 3) {
      val top = seg
        .select(col("n"), expr("filter(split(seg, '·+'), x -> x != '')").as("t"))
        .select(col("n"), expr(
          "explode(transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS a, t[i] AS b)))")
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("support"))
        .orderBy(col("support").desc, col("a"), col("b"))
        .limit(1).collect()(0)
      val (a, b, sup) = (top.getString(0), top.getString(1), top.getLong(2))
      rules += ((r.toLong, a, b, a + b, sup))
      seg = seg.select(col("n"),
        org.apache.spark.sql.functions.replace(col("seg"),
          lit("·" + a + "··" + b + "·"), lit("·" + a + b + "·")).as("seg"))
    }
    import s.implicits._
    rules.result().toDF("merge_round", "lhs", "rhs", "merged", "support")
      .orderBy("merge_round")
  }

  private val bpeTrainOracle: String = {
    def round(r: Int): String = s"""p$r AS (
  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS support
  FROM (
    SELECT n, t, unnest(generate_series(1, len(t) - 1)) AS i
    FROM (SELECT n, list_filter(regexp_split_to_array(seg, '·+'), x -> x <> '') AS t
          FROM seg$r)
  ) GROUP BY 1, 2
),
r$r AS (SELECT a, b, support FROM p$r ORDER BY support DESC, a, b LIMIT 1),
seg${r + 1} AS (
  SELECT n, replace(seg,
    '·' || (SELECT a FROM r$r) || '··' || (SELECT b FROM r$r) || '·',
    '·' || (SELECT a FROM r$r) || (SELECT b FROM r$r) || '·') AS seg
  FROM seg$r
)"""
    s"""WITH words AS (
  SELECT w, COUNT(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w FROM documents
  ) WHERE w <> '' AND length(w) BETWEEN 2 AND 20 AND NOT contains(w, '·')
  GROUP BY 1
),
seg1 AS (
  SELECT n, '··' || array_to_string(
    list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)), '··')
    || '··' AS seg
  FROM words
),
${round(1)},
${round(2)},
${round(3)}
SELECT merge_round, lhs, rhs, lhs || rhs AS merged, support FROM (
  SELECT CAST(1 AS BIGINT) AS merge_round, a AS lhs, b AS rhs, support FROM r1
  UNION ALL SELECT 2, a, b, support FROM r2
  UNION ALL SELECT 3, a, b, support FROM r3
) ORDER BY merge_round"""
  }

  private def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words.where(length(col("w")) >= 2)
      .select(col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"), col("w"))
      .select(expr("substr(w, i, 2)").as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(30)
  }

  private val bpePairsOracle = """WITH words AS (
  SELECT token AS w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY 1
)
SELECT substr(w, CAST(i AS INT), 2) AS pair, CAST(SUM(freq) AS BIGINT) AS n
FROM words, unnest(range(1, length(w))) AS t(i)
WHERE length(w) >= 2
GROUP BY 1 ORDER BY n DESC, pair LIMIT 30"""

  // --- count-min sketch heavy hitters (frequency sketch audit) --------
  /** Count-min sketch vs exact truth for the corpus vocabulary head —
    * the streaming-frequency sketch audited the same way
    * `d_minhash_accuracy` audits MinHash. One pass computes the total
    * token count AND the sketch (eps 0.001, confidence 0.99, fixed
    * seed); the exact top-20 counts come from the ordinary groupBy.
    * Graded properties, per heavy hitter: the CMS estimate NEVER
    * undercounts (a hard guarantee of the sketch), and overcounts by
    * at most 2·eps·N (twice the advertised bound, so the 1%-tail draw
    * can never flip the hash). The sketch bytes live in ONE aggregate
    * row (KB-sized): at 100 TB the same plan holds — map-side partial
    * sketches merge associatively; only top-k candidate tokens are
    * driver-side, never the vocabulary.
    */
  private def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val topK = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20).collect()
    val row = toks.agg(count(lit(1)).as("total"),
      expr("count_min_sketch(token, cast(0.001 as double), cast(0.99 as double), 42)")
        .as("sk")).head()
    val total = row.getLong(0)
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
    val bound = math.ceil(2 * 0.001 * total).toLong
    val graded = topK.toSeq.map { r =>
      val (t, n) = (r.getString(0), r.getLong(1))
      val est = sketch.estimateCount(t)
      (t, n, est >= n, est - n <= bound)
    }
    import s.implicits._
    graded.toDF("token", "n", "est_ge_exact", "within_bound")
      .orderBy(col("n").desc, col("token"))
  }

  private val cmsHeavyHittersOracle = """SELECT token, n,
  TRUE AS est_ge_exact, TRUE AS within_bound
FROM (
  SELECT token, COUNT(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
  GROUP BY token ORDER BY n DESC, token LIMIT 20
) ORDER BY n DESC, token"""

  // --- C4-style segment-level duplication ---------------------------
  private val SegWords = 5

  private def segmentDedup(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.segmentDuplication(Tables(s, dir, "documents"), "doc_id", "text", SegWords)
      .orderBy("doc_id")

  private val segmentDedupOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
seg AS (
  SELECT doc_id,
    md5(array_to_string(list_slice(w, i * $SegWords + 1, i * $SegWords + $SegWords), ' ')) AS seg_hash
  FROM (
    SELECT doc_id, w,
      unnest(generate_series(0, (len(w) + ${SegWords - 1}) // $SegWords - 1)) AS i
    FROM docs
  )
),
per AS (SELECT seg_hash, COUNT(DISTINCT doc_id) AS n_docs_with FROM seg GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_segments,
  CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
  CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS dup_segment_frac
FROM seg JOIN per USING (seg_hash)
GROUP BY doc_id ORDER BY doc_id"""

  // --- PII redaction ------------------------------------------------
  /** Deterministic PII-bearing contact strings synthesized from
    * `customer` (emails on keys %3≠0, phones on keys %2=0, an IPv4
    * always) — guaranteed matches for the redaction regexes without
    * needing PII in the shared test tables. The operator under test is
    * [[CorpusQuality.redactPii]]; the construction is restated
    * verbatim in the oracle.
    */
  private def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val contact = concat(
      lit("Reach "), col("c_mktsegment"), lit(" customer"),
      when(pmod(k, lit(3)) =!= 0,
        concat(lit(" at user"), k.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(pmod(k, lit(2)) === 0,
        concat(lit(" call +1-555-"),
          lpad(pmod(k, lit(10000000)).cast("string"), 7, "0")))
        .otherwise(lit("")),
      lit(" ip 10."), pmod(k, lit(256)).cast("string"),
      lit(".0."), col("c_nationkey").cast("string"))
    val base = Tables(s, dir, "customer")
      .select(k.as("c_custkey"), contact.as("contact"))
    CorpusQuality.piiAudit(base, col("contact"))
      .select("c_custkey", "n_emails", "n_phones", "n_ips", "redacted")
      .orderBy("c_custkey")
  }

  private val piiRedactOracle: String = {
    val email = CorpusQuality.EmailRe
    val phone = CorpusQuality.PhoneRe
    val ip = CorpusQuality.Ipv4Re
    val noEmail = s"regexp_replace(contact, '$email', '<EMAIL>', 'g')"
    val noPhone = s"regexp_replace($noEmail, '$phone', '<PHONE>', 'g')"
    s"""WITH c AS (
  SELECT c_custkey,
    'Reach ' || c_mktsegment || ' customer' ||
    CASE WHEN c_custkey % 3 <> 0
      THEN ' at user' || CAST(c_custkey AS VARCHAR) || '@example.com' ELSE '' END ||
    CASE WHEN c_custkey % 2 = 0
      THEN ' call +1-555-' || lpad(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0') ELSE '' END ||
    ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.' || CAST(c_nationkey AS VARCHAR) AS contact
  FROM customer
)
SELECT c_custkey,
  CAST(len(regexp_extract_all(contact, '$email')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all($noEmail, '$phone')) AS INT) AS n_phones,
  CAST(len(regexp_extract_all($noPhone, '$ip')) AS INT) AS n_ips,
  regexp_replace($noPhone, '$ip', '<IP>', 'g') AS redacted
FROM c ORDER BY c_custkey"""
  }

  // --- per-language median quality gate ------------------------------
  /** Keep-above-median length filter per language: the adaptive twin of
    * a fixed token-count threshold (short-doc spam differs per
    * language). Exact interpolated median on both sides; the per-lang
    * medians table is broadcast back onto the docs.
    */
  private def qualityGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("lang"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    // distributed per-value scan, not the every-value-in-one-buffer
    // `percentile` aggregate (graft.operators.Quantiles scaladoc)
    val med = graft.operators.Quantiles.interpolated(
        docs, "n_tokens", Seq("lang"), Seq(0.5))
      .select(col("lang"), col("q").as("median_tokens"))
    docs.join(broadcast(med), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") >= col("median_tokens"), lit(1L)).otherwise(lit(0L)))
          .as("n_kept"),
        min(col("median_tokens")).as("median_tokens"))
      .orderBy("lang")
  }

  private val qualityGateOracle: String = """WITH d AS (
  SELECT lang, CAST(length(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
  FROM documents
), m AS (
  SELECT lang, quantile_cont(n_tokens, 0.5) AS median_tokens FROM d GROUP BY 1
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n_tokens >= median_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  MIN(median_tokens) AS median_tokens
FROM d JOIN m USING (lang)
GROUP BY lang ORDER BY lang"""

  // --- data-mixture oversampling -------------------------------------
  /** Per-source mixture weights as exact (whole, byteThreshold/256)
    * pairs: src0 ×2.5, src1 ×0.25, src5 dropped, everything else ×1.
    */
  private val MixWeights: Map[String, (Int, Int)] = Map(
    "src0" -> (2, 128), "src1" -> (0, 64), "src5" -> (0, 0))

  private def mixture(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.mixtureOversample(
        Tables(s, dir, "documents"), "source", "doc_id", MixWeights)
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_emitted"),
        max(col("copy")).as("max_copy"))
      .orderBy("source")

  private val mixtureOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    def byCase(sel: (Int, Int) => Int, default: Int): String = {
      val whens = MixWeights.toSeq.sortBy(_._1)
        .map { case (k, (w, t)) => s"WHEN '$k' THEN ${sel(w, t)}" }
      s"CASE source ${whens.mkString(" ")} ELSE $default END"
    }
    s"""WITH r AS (
  SELECT source, doc_id,
    ${byCase((w, _) => w, 1)}
      + CASE WHEN ${nib(1)} * 16 + ${nib(2)} < ${byCase((_, t) => t, 0)}
        THEN 1 ELSE 0 END AS reps
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(reps) AS BIGINT) AS n_emitted,
  CAST(MAX(reps) AS INT) AS max_copy
FROM r WHERE reps > 0
GROUP BY source ORDER BY source"""
  }

  // --- deterministic corpus shuffle ----------------------------------
  /** Reproducible global training order: sort by a content hash, take
    * the head. TakeOrdered (sort + limit pushdown) on the Spark side —
    * no full materialized sort for a bounded prefix.
    */
  private def shuffleOrder(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("shuffle_key"))
      .orderBy("shuffle_key")
      .limit(100)

  private val shuffleOrderOracle = """SELECT doc_id,
  md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents ORDER BY shuffle_key LIMIT 100"""

  // --- bigram-LM quality scoring (CCNet shape) ------------------------
  private def bigramLm(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.bigramLmScore(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** [[CorpusQuality.kneserNeyScore]] graded end-to-end — the oracle
    * restates discounting, continuation counts, and the one fixed
    * double tree (term1 + term2, d = 0.75 exact binary) verbatim.
    */
  private def knScore(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.kneserNeyScore(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private val knScoreOracle = s"""WITH t AS (
  SELECT doc_id, lower(text) AS s FROM documents WHERE length(lower(text)) >= 2
),
bi AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, length(s) - 1), i -> substring(s, i, 2))) AS bg
  FROM t
),
c2 AS (SELECT bg, COUNT(*) AS n2 FROM bi GROUP BY bg),
c1 AS (
  SELECT substring(bg, 1, 1) AS a, SUM(n2) AS n1, COUNT(*) AS nfol
  FROM c2 GROUP BY 1
),
cont AS (
  SELECT substring(bg, 2, 1) AS bb, COUNT(*) AS nprec FROM c2 GROUP BY 1
),
v AS (SELECT COUNT(*) AS ntypes FROM c2),
model AS (
  SELECT bg,
    CAST(FLOOR(ln(
      GREATEST(CAST(n2 AS DOUBLE) - ${D("0.75")}, ${D("0")}) / CAST(n1 AS DOUBLE)
      + ((${D("0.75")} * CAST(nfol AS DOUBLE)) / CAST(n1 AS DOUBLE))
        * (CAST(nprec AS DOUBLE) / CAST(ntypes AS DOUBLE))
    ) * 1000000) AS BIGINT) AS lp
  FROM c2 JOIN c1 ON substring(bg, 1, 1) = a
  JOIN cont ON substring(bg, 2, 1) = bb
  CROSS JOIN v
)
SELECT doc_id, COUNT(*) AS n_bigrams, CAST(-SUM(lp) AS BIGINT) AS nll_micro,
  CAST(-SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000 AS avg_nll
FROM bi JOIN model USING (bg)
GROUP BY doc_id ORDER BY doc_id"""

  private val bigramLmOracle = """WITH t AS (
  SELECT doc_id, lower(text) AS s FROM documents WHERE length(lower(text)) >= 2
),
bi AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, length(s) - 1), i -> substring(s, i, 2))) AS bg
  FROM t
),
c2 AS (SELECT bg, COUNT(*) AS n2 FROM bi GROUP BY bg),
c1 AS (SELECT substring(bg, 1, 1) AS a, SUM(n2) AS n1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT substring(bg, 2, 1)) AS vs FROM c2),
model AS (
  SELECT bg,
    CAST(FLOOR(ln((CAST(n2 AS DOUBLE) + 1) / (CAST(n1 AS DOUBLE) + CAST(vs AS DOUBLE))) * 1000000) AS BIGINT) AS lp
  FROM c2 JOIN c1 ON substring(bg, 1, 1) = a CROSS JOIN v
)
SELECT doc_id, COUNT(*) AS n_bigrams, CAST(-SUM(lp) AS BIGINT) AS nll_micro,
  CAST(-SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000 AS avg_nll
FROM bi JOIN model USING (bg)
GROUP BY doc_id ORDER BY doc_id"""

  // --- DSIR importance weights (target = English slice) ---------------
  private def dsir(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.dsirWeights(Tables(s, dir, "documents"), "doc_id", "text",
      col("lang") === "en")
      .orderBy("doc_id")

  private val dsirOracle = """WITH f AS (
  SELECT doc_id, lang = 'en' AS is_t,
    (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 +
    (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) AS b
  FROM (
    SELECT doc_id, lang,
      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
c AS (
  SELECT b, COUNT(*) AS n_raw, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_t
  FROM f GROUP BY b
),
t AS (SELECT SUM(n_raw) AS tot_raw, SUM(n_t) AS tot_t FROM c),
model AS (
  SELECT b, CAST(FLOOR((
      ln((CAST(n_t AS DOUBLE) + 1) / (CAST(tot_t AS DOUBLE) + 256)) -
      ln((CAST(n_raw AS DOUBLE) + 1) / (CAST(tot_raw AS DOUBLE) + 256))
    ) * 1000000) AS BIGINT) AS lw
  FROM c CROSS JOIN t
)
SELECT doc_id, COUNT(*) AS n_feats, CAST(SUM(lw) AS BIGINT) AS logw_micro,
  CAST(SUM(lw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000 AS avg_logw
FROM f JOIN model USING (b)
GROUP BY doc_id ORDER BY doc_id"""

  // --- sequence packing (concat-and-chunk planner) --------------------
  private val PackShards = 8
  private val PackBudget = 512L

  private def packSequences(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.packSequences(
        Tables(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("_tok")),
        "doc_id", col("_tok"), PackShards, PackBudget)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("pack_id"), col("offset_in_pack"))
      .orderBy("doc_id")

  private val packSequencesOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substring(md5('shard:' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH d AS (
  SELECT doc_id,
    CAST((${nib(1)} * 16 + ${nib(2)}) % $PackShards AS INT) AS shard,
    md5('pack:' || CAST(doc_id AS VARCHAR)) AS pack_key,
    CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pack_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
  FROM d
)
SELECT doc_id, shard, n_tokens,
  CAST(start_tok // $PackBudget AS BIGINT) AS pack_id,
  CAST(start_tok % $PackBudget AS BIGINT) AS offset_in_pack
FROM c ORDER BY doc_id"""
  }

  // --- incremental (continual-ingestion) segment dedup -----------------
  /** The "new crawl shard lands" gate: docs with doc_id % 10 = 9 play
    * the new batch, the rest the accepted corpus. Keep a new doc iff
    * < 50% of its 5-word segments already exist in the corpus.
    */
  private def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val isNew = pmod(col("doc_id"), lit(10)) === 9
    CorpusQuality.incrementalSegmentDedup(
        docs.where(isNew), docs.where(!isNew), "doc_id", "text", SegWords)
      .withColumn("keep", col("keep").cast("int"))
      .orderBy("doc_id")
  }

  private val incrementalDedupOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
seg AS (
  SELECT doc_id,
    md5(array_to_string(list_slice(w, i * $SegWords + 1, i * $SegWords + $SegWords), ' ')) AS seg_hash
  FROM (
    SELECT doc_id, w,
      unnest(generate_series(0, (len(w) + ${SegWords - 1}) // $SegWords - 1)) AS i
    FROM docs
  )
),
known AS (SELECT DISTINCT seg_hash FROM seg WHERE doc_id % 10 <> 9),
scored AS (
  SELECT s.doc_id, COUNT(*) AS n_segments,
    CAST(SUM(CASE WHEN k.seg_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known_segments
  FROM seg s LEFT JOIN known k ON s.seg_hash = k.seg_hash
  WHERE s.doc_id % 10 = 9
  GROUP BY 1
)
SELECT doc_id, n_segments, n_known_segments,
  CAST(CASE WHEN n_known_segments * 100 < n_segments * 50 THEN 1 ELSE 0 END AS INT) AS keep
FROM scored ORDER BY doc_id"""

  // --- token-length histogram (padding-waste planner) ------------------
  /** Power-of-2 token-length buckets with the padded-batch waste each
    * bucket pays (`n_docs·bucket_hi − sum_tokens`) — the stat that
    * decides batch-by-length bucketing vs packing. The bucket index is
    * the token count's binary digit count: pure integer math, immune
    * to the `floor(log2(2^k)) = k−1` float-rounding trap on exact
    * powers of two.
    */
  private def lengthBuckets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket_bits", length(bin(col("n_tokens"))).cast("int"))
      .groupBy(col("bucket_bits"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"), max(col("n_tokens")).as("max_tokens"))
      .withColumn("bucket_hi",
        pow(lit(2.0), col("bucket_bits").cast("double")).cast("long") - 1)
      .withColumn("pad_cells",
        col("n_docs") * col("bucket_hi") - col("sum_tokens"))
      .select(col("bucket_bits"), col("bucket_hi"), col("n_docs"),
        col("sum_tokens"), col("min_tokens"), col("max_tokens"), col("pad_cells"))
      .orderBy("bucket_bits")

  private val lengthBucketsOracle: String = """WITH d AS (
  SELECT CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents
),
b AS (
  SELECT CAST(length(bin(n_tokens)) AS INT) AS bucket_bits, COUNT(*) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
    MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
  FROM d GROUP BY 1
)
SELECT bucket_bits, CAST(POWER(2, bucket_bits) AS BIGINT) - 1 AS bucket_hi,
  n_docs, sum_tokens, min_tokens, max_tokens,
  n_docs * (CAST(POWER(2, bucket_bits) AS BIGINT) - 1) - sum_tokens AS pad_cells
FROM b ORDER BY bucket_bits"""

  /** Fixed-size overlapping character chunks (RAG / context-window prep):
    * one output row per (doc, window start), stride < width so adjacent
    * chunks overlap. Shuffle-free — `sequence`+`explode` expand inside
    * the scan's codegen stage and every derived column (substr, length,
    * md5) is a builtin; the only exchange is the final presentation sort.
    * At 100 TB the explode multiplies rows ~2× (stride 150 over ~300-char
    * docs) BEFORE any shuffle, which is exactly where you want the fan-out:
    * no chunk text ever crosses the wire unless a downstream op asks.
    */
  private val ChunkLen = 200
  private val ChunkStride = 150

  private def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val chunk = col("text").substr(col("chunk_start") + 1, lit(ChunkLen))
    Tables(s, dir, "documents")
      // sequence(0, -1, …) throws on an empty doc; the oracle's
      // generate_series yields zero rows — filter to match it exactly
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), length(col("text")) - 1, lit(ChunkStride)))
          .as("chunk_start"))
      .select(col("doc_id"),
        (col("chunk_start") / lit(ChunkStride)).cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        length(chunk).cast("long").as("chunk_len"),
        md5(chunk.cast("binary")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_start")
  }

  private val chunkOverlapOracle: String = s"""WITH starts AS (
  SELECT doc_id, text,
    unnest(generate_series(0, length(text) - 1, $ChunkStride)) AS s
  FROM documents
)
SELECT doc_id,
  CAST(s / $ChunkStride AS BIGINT) AS chunk_idx,
  CAST(s AS BIGINT) AS chunk_start,
  CAST(length(substr(text, s + 1, $ChunkLen)) AS BIGINT) AS chunk_len,
  md5(substr(text, s + 1, $ChunkLen)) AS chunk_hash
FROM starts ORDER BY doc_id, chunk_start"""

  // --- per-source document cap (domain-balance gate) ------------------
  /** Keep at most `SourceCap` docs per source, chosen by a
    * content-stable hash order (md5 of the doc text's first 48 bits as
    * the sort key) — the domain-balancing cap every web-scale corpus
    * applies so one mega-domain can't dominate training. Retry- and
    * partitioning-stable: the kept set depends only on content. The
    * per-group selection is the bounded [[graft.functions.TopKPairs]]
    * aggregate (≤cap rows per source survive each map partition), NOT a
    * row_number window — source is a low-cardinality key, exactly the
    * window-funnel shape q_group_topn's plan pin warns about.
    */
  private val SourceCap = 20

  private def sourceCap(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long")
    Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"), (-h.cast("double")).as("score"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKPairs.topK(SourceCap)(
        col("score"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("p", "x")))
      .select(col("source"), (col("p") + 1).cast("long").as("rk"),
        col("x._2").as("doc_id"), (-col("x._1")).cast("long").as("hash_key"))
      .orderBy("source", "rk")
  }

  private val sourceCapOracle: String = s"""WITH d AS (
  SELECT source, doc_id,
    CAST(('0x' || substring(md5(text), 1, 12)) AS BIGINT) AS hash_key
  FROM documents
)
SELECT source,
  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hash_key, doc_id) AS BIGINT) AS rk,
  doc_id, hash_key
FROM d
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY hash_key, doc_id) <= $SourceCap
ORDER BY source, rk"""

  // --- OOV rate vs the corpus vocabulary head -------------------------
  /** Tokenizer-coverage stat: per-doc fraction of tokens outside the
    * corpus top-`OovVocab` vocabulary. Two passes over the token stream
    * (vocab build, then per-doc membership) — the vocab side is
    * k-bounded (TakeOrdered, broadcasts into the membership join), so
    * the only fact-scale shuffle is the per-doc aggregate.
    */
  private val OovVocab = 100

  private def oovRate(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(OovVocab)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  private val oovRateOracle: String = s"""WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
),
vocab AS (
  SELECT token FROM tok GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT $OovVocab
)
SELECT doc_id, COUNT(*) AS n_tokens,
  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM tok LEFT JOIN vocab v USING (token)
GROUP BY doc_id ORDER BY doc_id"""

  // --- group-wise text top-k (per-source vocabulary heads) -------------
  /** Top-3 tokens per source by frequency: the group-wise text top-k,
    * via the bounded string-payload [[graft.functions.TopKNamed]]
    * aggregate — NOT a row_number window over (source), which would pull
    * each source's ENTIRE vocabulary into one task (5 sources over a
    * million-term vocab = 5 mega-tasks). Counts ≤ 2^53 stay exact in the
    * double score lane.
    */
  private val TokTopK = 3

  private def topTokensPerSource(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKNamed.topK(TokTopK)(
        col("n").cast("double"), col("token")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("p", "x")))
      .select(col("source"), (col("p") + 1).cast("long").as("rk"),
        col("x._2").as("token"), col("x._1").cast("long").as("n"))
      .orderBy("source", "rk")

  private val topTokensOracle: String = s"""WITH tok AS (
  SELECT source, token FROM (
    SELECT source,
      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
),
cnt AS (
  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY 1, 2
)
SELECT source,
  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) AS BIGINT) AS rk,
  token, CAST(n AS BIGINT) AS n
FROM cnt
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) <= $TokTopK
ORDER BY source, rk"""

  // --- composite quality gate with drop-reason attribution -------------
  /** Gopher-style composite gate: four rules evaluated in a FIXED order,
    * each doc keeps or drops with the FIRST failing rule named — the
    * attribution a corpus pipeline needs to debug its own filtering (a
    * bare keep flag can't tell you which rule ate 40% of a crawl). All
    * rule inputs are exact integers off one token pass; the only
    * fact-scale shuffle is the (doc, token) count feeding both the
    * top-token fraction and the length stats.
    */
  private def gopherGate(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val perDoc = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"), sum(length(col("token")).cast("long")).as("l"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_c"),
        sum(col("l")).as("sum_len"))
    val topFrac = col("top_c").cast("double") / col("n_tokens").cast("double")
    val avgLen = col("sum_len").cast("double") / col("n_tokens").cast("double")
    // join back to documents: a zero-token doc has NO token rows but
    // must still be attributed (n_tokens = 0 → too_short), not omitted —
    // it's exactly the doc a filtering audit most needs to see
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens"))
      .withColumn("reason",
        when(col("n_tokens") < 5, "too_short")
          .when(col("n_tokens") > 1000, "too_long")
          .when(topFrac > 0.2, "repetitive")
          .when(avgLen < 2.0 || avgLen > 12.0, "weird_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        col("reason").isNull.as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  private val gopherGateOracle: String = s"""WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
),
tc AS (
  SELECT doc_id, token, COUNT(*) AS c,
    CAST(SUM(length(token)) AS BIGINT) AS l
  FROM tok GROUP BY 1, 2
),
d AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_c,
    CAST(SUM(l) AS BIGINT) AS sum_len
  FROM tc GROUP BY 1
),
r AS (
  SELECT doc_id, COALESCE(n_tokens, 0) AS n_tokens,
    CASE
      WHEN COALESCE(n_tokens, 0) < 5 THEN 'too_short'
      WHEN n_tokens > 1000 THEN 'too_long'
      WHEN CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) > ${D("0.2")}
        THEN 'repetitive'
      WHEN CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) < ${D("2")}
        OR CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) > ${D("12")}
        THEN 'weird_tokens'
    END AS reason
  FROM (SELECT doc_id FROM documents) LEFT JOIN d USING (doc_id)
)
SELECT doc_id, n_tokens, (reason IS NULL) AS keep, reason
FROM r ORDER BY doc_id"""

  // --- token entropy (information-density quality signal) -----------
  /** [[CorpusQuality.tokenEntropy]] over `documents` — the signal that
    * catches boilerplate the repetition filters miss. The oracle
    * restates the identical fixed-point math: each −p·log2(p) term is
    * floored to integer micro-bits BEFORE summing, so aggregation order
    * cannot flip the hash (see [[CorpusQuality.tokenEntropy]] for the
    * per-term log2-ulp residual this does NOT cover).
    */
  private def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    CorpusQuality.tokenEntropy(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private val tokenEntropyOracle = s"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), c AS (
  SELECT doc_id, md5(tok) AS tok_h, COUNT(*) AS c
  FROM toks WHERE length(tok) > 0 GROUP BY 1, 2
), tot AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_types FROM c GROUP BY 1
)
SELECT c.doc_id, CAST(MAX(tot.n) AS BIGINT) AS n_tokens,
  CAST(MAX(tot.n_types) AS BIGINT) AS n_types,
  CAST(SUM(CAST(FLOOR(-((c.c / CAST(tot.n AS DOUBLE)) *
      log2(c.c / CAST(tot.n AS DOUBLE))) * ${D("1000000")} + ${D("0.5")})
    AS BIGINT)) AS BIGINT) / ${D("1000000")} AS entropy_bits
FROM c JOIN tot USING (doc_id)
GROUP BY 1 ORDER BY doc_id"""

  // --- Bloom-filter blocklist pre-filter ----------------------------
  /** Blocklist screening without the shuffle: build a Bloom filter over
    * the dirty-list's `xxhash64(text)` (a few KB of bits, merge is a
    * commutative bit-OR — deterministic), broadcast it, and flag corpus
    * docs scan-side with `might_contain`. At 100 TB the exact semi-join
    * shuffles every corpus row on the join key; the Bloom evaluates in
    * the scan with NO false negatives by construction — the same
    * discoverer/verifier split as LSH→Jaccard, graded the same way:
    * recall vs the exact semi-join must be 1, false-positive mass under
    * 1% of the corpus (the 16 Kbit filter is ~65 bits/key here, so
    * expected FPs ≈ 0).
    */
  private def bloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val dirty = docs.where(pmod(col("doc_id"), lit(20)) === 0).select(col("text"))
    // the filter itself is a ~2 KB bit array — collected once and embedded
    // as a literal (the same driver-side materialization budget as the
    // k-means codebook: O(filter), never O(data)); `might_contain`
    // requires a constant/scalar-subquery filter anyway
    val bloomBytes = dirty.agg(
      graft.plans.BloomFilters.bloomAgg(xxhash64(col("text")), 1000L, 16384L)
        .as("bf")).head().getAs[Array[Byte]]("bf")
    val flagged = docs
      .where(graft.plans.BloomFilters.mightContain(lit(bloomBytes),
        xxhash64(col("text"))))
      .select(col("doc_id"))
    val exact = docs.join(dirty.distinct().withColumnRenamed("text", "t2"),
      col("text") === col("t2"), "left_semi").select(col("doc_id"))
    // one full-outer compare computes true/missed/fp in a single pass —
    // the exact semi-join (the expensive thing the filter replaces) is
    // evaluated once, not once per gate
    val counts = exact.withColumn("e", lit(1))
      .join(flagged.withColumn("f", lit(1)), Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("e").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_true"),
        coalesce(sum(when(col("e").isNotNull && col("f").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_missed"),
        coalesce(sum(when(col("f").isNotNull && col("e").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_fp"))
      .crossJoin(docs.agg(count(lit(1)).as("n_corpus")))
    counts.select(col("n_true"),
      (col("n_missed") === 0).as("no_false_negatives"),
      (col("n_fp").cast("double") <= col("n_corpus").cast("double") * 0.01)
        .as("fp_ok"))
  }

  private val bloomPrefilterOracle = """SELECT
  (SELECT COUNT(*) FROM documents
   WHERE text IN (SELECT text FROM documents WHERE doc_id % 20 = 0)) AS n_true,
  TRUE AS no_false_negatives, TRUE AS fp_ok"""

  // --- winsorization (outlier-robust feature clamp) ------------------
  /** Per-source 5/95-percentile winsorization of `n_chars` — the
    * outlier clamp that precedes any robust normalization. Bounds come
    * from the exact interpolated percentile (same (n−1)·p definition
    * both engines, 2-dp-rounded so the clamp constants are identical
    * doubles), then the clamped sum is exact integer cents — engine
    * aggregation order can never flip the hash. Two passes over the
    * group (bounds, then clamp) is the exact-percentile price; the
    * single-pass alternative is the graded approx_percentile gate
    * (q_approx_median).
    */
  private def winsorize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // distributed per-value scan (Quantiles scaladoc), both bounds in
    // one pass
    val bounds = graft.operators.Quantiles.interpolated(
        docs.select(col("source"), col("n_chars")),
        "n_chars", Seq("source"), Seq(0.05, 0.95))
      .groupBy(col("source"))
      .agg(graft.etl.Transform.round2(
          max(when(col("p") === 0.05, col("q")))).as("lo"),
        graft.etl.Transform.round2(
          max(when(col("p") === 0.95, col("q")))).as("hi"))
    docs.join(bounds, Seq("source"))
      .withColumn("w", least(greatest(col("n_chars").cast("double"),
        col("lo")), col("hi")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        (sum(floor(col("w") * 100 + 0.5).cast("long")) / 100.0)
          .as("winsorized_sum"))
      .orderBy("source")
  }

  private val winsorizeOracle = s"""WITH b AS (
  SELECT source,
    ${Sql.round2("quantile_cont(n_chars, 0.05)")} AS lo,
    ${Sql.round2("quantile_cont(n_chars, 0.95)")} AS hi
  FROM documents GROUP BY source
)
SELECT d.source, COUNT(*) AS n_docs, MAX(b.lo) AS lo, MAX(b.hi) AS hi,
  ${Sql.sumCents("LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi)")}
    AS winsorized_sum
FROM documents d JOIN b USING (source)
GROUP BY d.source ORDER BY d.source"""

  // --- robust scaling (median / MAD outlier detection) ---------------
  /** Median/MAD robust z-score outlier counts per source — the
    * outlier DETECTOR beside [[winsorize]]'s clamp (mean/stddev break
    * under the very outliers they're meant to find; median/MAD don't).
    * The |z| > 3 test is rearranged to multiplication only
    * (0.6745·|x−med| > 3·MAD), so MAD = 0 degenerates gracefully
    * (outlier ⇔ any deviation) instead of dividing by zero, and both
    * engines compare bit-identical doubles. Same two-pass exact-
    * percentile price as winsorize, same sketch escape hatch at scale.
    */
  private def robustScale(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // both medians via the distributed per-value scan (Quantiles
    // scaladoc); adev's half-step doubles group exactly on both engines
    val med = graft.operators.Quantiles.interpolated(
        docs.select(col("source"), col("n_chars")),
        "n_chars", Seq("source"), Seq(0.5))
      .select(col("source"), graft.etl.Transform.round2(col("q")).as("med"))
    val dev = docs.join(med, Seq("source"))
      .withColumn("adev", abs(col("n_chars").cast("double") - col("med")))
    val mad = graft.operators.Quantiles.interpolated(
        dev.select(col("source"), col("adev")),
        "adev", Seq("source"), Seq(0.5))
      .select(col("source"), graft.etl.Transform.round2(col("q")).as("mad"))
    dev.join(mad, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("adev") * 0.6745 > col("mad") * 3.0, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("source")
  }

  private val robustScaleOracle = s"""WITH med AS (
  SELECT source, ${Sql.round2("quantile_cont(n_chars, 0.5)")} AS med
  FROM documents GROUP BY source
), dev AS (
  SELECT d.source, m.med,
    ABS(CAST(d.n_chars AS DOUBLE) - m.med) AS adev
  FROM documents d JOIN med m USING (source)
), mad AS (
  SELECT source, ${Sql.round2("quantile_cont(adev, 0.5)")} AS mad
  FROM dev GROUP BY source
)
SELECT dev.source, COUNT(*) AS n_docs, MAX(dev.med) AS med, MAX(mad.mad) AS mad,
  CAST(SUM(CASE WHEN dev.adev * ${D("0.6745")} > mad.mad * ${D("3.0")}
    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (source)
GROUP BY dev.source ORDER BY dev.source"""

  // --- per-source KL divergence (corpus drift detector) ---------------
  /** KL(source ‖ corpus) over token distributions — the domain-shift /
    * drift detector that flags a source whose vocabulary usage diverges
    * from the blend (e.g. a scrape gone bad or a mislabeled dump).
    * Per-(source, token) probability terms are exact count ratios; each
    * term's double value is floored to nano-units so the per-source SUM
    * is an order-independent integer — the same determinism trick as
    * the DSIR weights. Shuffle shape at 100 TB: one (source, token)
    * aggregation, one equi-join on token to the corpus totals, and a
    * broadcast of the per-source totals (|sources| rows).
    */
  private def klDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val st = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("n_st"))
    val tot = st.groupBy(col("token")).agg(sum(col("n_st")).as("n_t"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    val grand = srcTot.agg(sum(col("n_s")).as("n")) // 1×1
    val p = col("n_st").cast("double") / col("n_s").cast("double")
    val q = col("n_t").cast("double") / col("n").cast("double")
    st.join(tot, Seq("token"))
      .join(srcTot, Seq("source"))
      .crossJoin(grand)
      .select(col("source"),
        floor(p * log(p / q) * lit(1.0e9)).cast("long").as("term_nano"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("term_nano")).as("kl_nano"))
      .withColumn("kl", col("kl_nano").cast("double") / lit(1.0e9))
      .orderBy("source")
  }

  private val klDivergenceOracle: String = {
    val p = "(CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))"
    val q = "(CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), t AS (SELECT source, token FROM tok WHERE token <> ''),
st AS (SELECT source, token, COUNT(*) AS n_st FROM t GROUP BY 1, 2),
tot AS (SELECT token, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
srct AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
grand AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM srct),
terms AS (
  SELECT st.source,
    CAST(FLOOR($p * ln($p / $q) * ${D("1000000000")}) AS BIGINT) AS term_nano
  FROM st JOIN tot USING (token) JOIN srct USING (source) CROSS JOIN grand
)
SELECT source, COUNT(*) AS n_types, CAST(SUM(term_nano) AS BIGINT) AS kl_nano,
  CAST(SUM(term_nano) AS DOUBLE) / ${D("1000000000")} AS kl
FROM terms GROUP BY source ORDER BY source"""
  }

  // --- pairwise vocabulary Jaccard between sources --------------------
  /** Set-overlap complement to t_js_divergence: |V_a ∩ V_b| / |V_a ∪ V_b|
    * over source VOCABULARIES (types, not token mass) for every source
    * pair — JS weighs shared tokens by usage, vocab Jaccard asks
    * whether the sources even speak the same word list (two sources
    * can share 95% of token mass through stopwords while sharing
    * little content vocabulary). One distinct (source, token) table;
    * intersections via one token-equi-join over pairs; unions by
    * inclusion-exclusion on exact counts — no per-pair rescans.
    */
  private def vocabJaccard(s: SparkSession, dir: String): DataFrame = {
    val st = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .distinct()
    val vsz = st.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = st.select(col("source").as("sa"), col("token"))
      .join(st.select(col("source").as("sb"), col("token")), "token")
      .where(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(vsz.select(col("source").as("sa"), col("v").as("va"))),
        "sa")
      .join(broadcast(vsz.select(col("source").as("sb"), col("v").as("vb"))),
        "sb")
      .select(col("sa"), col("sb"), col("va"), col("vb"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("va") + col("vb") - col("n_inter")).cast("double"))
          .as("vocab_jaccard"))
      .orderBy("sa", "sb")
  }

  private val vocabJaccardOracle: String = """WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), st AS (
  SELECT DISTINCT source, token FROM tok WHERE token <> ''
), vsz AS (
  SELECT source, COUNT(*) AS v FROM st GROUP BY 1
), inter AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa, sb, za.v AS va, zb.v AS vb, n_inter,
  CAST(n_inter AS DOUBLE) / CAST(za.v + zb.v - n_inter AS DOUBLE)
    AS vocab_jaccard
FROM inter JOIN vsz za ON sa = za.source JOIN vsz zb ON sb = zb.source
ORDER BY sa, sb"""

  // --- Heaps' law vocabulary-growth fit -------------------------------
  /** Heaps-law exponent per source: vocabulary size V(n) against
    * cumulative token count n, sampled at dyadic document milestones
    * (docs ordered by doc_id), fitted as ln V = β·ln n + c. Natural
    * text sits at β ≈ 0.5–0.7; β → 1 means the source never stops
    * minting new types (OCR noise, ids, mangled encodings) and a
    * too-low β means template spam — the other axis of the
    * t_zipf_alpha health probe. V and n at each milestone come from
    * ONE pass: a token's first-occurrence rank and a doc's token count
    * are both aggregates, and each milestone is a conditional count
    * over the broadcast ladder — vocabulary is never re-scanned per
    * milestone. OLS over milli-floored ln points (exact-integer sums).
    */
  private val HeapsMilestones = Seq(4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)

  private def heapsLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wr = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("w"))
      .withColumn("rank", row_number().over(wr))
    val tok = ranked.select(col("source"), col("rank"),
        explode(col("w")).as("token"))
      .where(col("token") =!= "")
    val minRank = tok.groupBy(col("source"), col("token"))
      .agg(min(col("rank")).as("mr"))
    val perRank = tok.groupBy(col("source"), col("rank"))
      .agg(count(lit(1)).as("nt"))
    val ms = HeapsMilestones.toDF("m")
    val v = minRank.crossJoin(broadcast(ms)).where(col("mr") <= col("m"))
      .groupBy(col("source"), col("m")).agg(count(lit(1)).as("vocab"))
    val n = perRank.crossJoin(broadcast(ms)).where(col("rank") <= col("m"))
      .groupBy(col("source"), col("m")).agg(sum(col("nt")).as("tokens"))
    val maxR = ranked.groupBy(col("source")).agg(max(col("rank")).as("mx"))
    val pts = v.join(n, Seq("source", "m"))
      .join(broadcast(maxR), "source")
      .where(col("m") <= col("mx"))
      .select(col("source"),
        floor(log(col("tokens").cast("double")) * lit(1000.0)).cast("long")
          .as("x"),
        floor(log(col("vocab").cast("double")) * lit(1000.0)).cast("long")
          .as("y"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_points"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .where(col("n_points") >= 3)
      .select(col("source"), col("n_points"),
        ((d(col("n_points")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (d(col("n_points")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
          .as("beta"))
      .orderBy("source")
  }

  private val heapsLawOracle: String = {
    val mvals = HeapsMilestones.map(m => s"($m)").mkString(", ")
    s"""WITH ranked AS (
  SELECT source, doc_id,
    string_split_regex(trim(lower(text)), '\\s+') AS w,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rank
  FROM documents
), tok AS (
  SELECT source, rank, unnest(w) AS token FROM ranked
), t AS (SELECT source, rank, token FROM tok WHERE token <> ''),
minrank AS (
  SELECT source, token, MIN(rank) AS mr FROM t GROUP BY 1, 2
), perrank AS (
  SELECT source, rank, COUNT(*) AS nt FROM t GROUP BY 1, 2
), ms(m) AS (VALUES $mvals),
v AS (
  SELECT source, m, COUNT(*) AS vocab
  FROM minrank JOIN ms ON mr <= m GROUP BY 1, 2
), n AS (
  SELECT source, m, CAST(SUM(nt) AS BIGINT) AS tokens
  FROM perrank JOIN ms ON rank <= m GROUP BY 1, 2
), maxr AS (
  SELECT source, MAX(rank) AS mx FROM ranked GROUP BY 1
), pts AS (
  SELECT v.source,
    CAST(FLOOR(ln(CAST(tokens AS DOUBLE)) * ${D("1000")}) AS BIGINT) AS x,
    CAST(FLOOR(ln(CAST(vocab AS DOUBLE)) * ${D("1000")}) AS BIGINT) AS y
  FROM v JOIN n ON v.source = n.source AND v.m = n.m
       JOIN maxr ON v.source = maxr.source
  WHERE v.m <= maxr.mx
), t2 AS (
  SELECT source, COUNT(*) AS n_points, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY 1
)
SELECT source, n_points,
  (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta
FROM t2 WHERE n_points >= 3 ORDER BY source"""
  }

  // --- Neyman allocation for stratified sampling ----------------------
  /** Optimal (Neyman) sample allocation across sources for a fixed
    * label/audit budget: n_h ∝ N_h·σ_h, where σ_h is the per-source
    * std-dev of document length — the allocation that minimizes the
    * variance of the stratified mean, and the difference between
    * auditing 1000 docs WELL and auditing 1000 docs proportionally.
    * N_h·σ_h collapses to √(N_h·Σx² − (Σx)²), computed from exact
    * integer moments, then micro-floored so the weight TOTAL is an
    * exact integer sum (never a float accumulation); each allocation
    * is one integer (B·w_h) div W — bit-stable in any engine.
    */
  private val NeymanBudget = 1000L

  private def neymanAlloc(s: SparkSession, dir: String): DataFrame = {
    val m = Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val w = m.withColumn("w_micro",
      floor(sqrt(d(col("n_docs") * col("s2") - col("s1") * col("s1"))) *
        lit(1.0e6)).cast("long"))
    val tot = w.agg(sum(col("w_micro")).as("tw"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("w_micro").cast("double") / lit(1.0e6) /
          col("n_docs").cast("double")).as("sigma_chars"),
        expr(s"($NeymanBudget * w_micro) div tw").as("alloc"))
      .orderBy("source")
  }

  private val neymanAllocOracle: String = s"""WITH m AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS s1,
    CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY 1
), w AS (
  SELECT source, n_docs,
    CAST(FLOOR(sqrt(CAST(n_docs * s2 - s1 * s1 AS DOUBLE))
      * ${D("1000000")}) AS BIGINT) AS w_micro
  FROM m
), tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
SELECT source, n_docs,
  CAST(w_micro AS DOUBLE) / ${D("1000000")} / CAST(n_docs AS DOUBLE)
    AS sigma_chars,
  ($NeymanBudget * w_micro) // tw AS alloc
FROM w, tot ORDER BY source"""

  // --- Flesch–Kincaid readability -------------------------------------
  /** Flesch–Kincaid grade level and Flesch reading ease per source —
    * the readability pair classic quality filters gate on (wire-service
    * prose sits near grade 8–10; word salad and boilerplate drift to
    * the extremes). Syllables use the deterministic vowel-group rule:
    * count of [aeiouy]+ runs, minus one for a silent trailing 'e' when
    * more than one run, floored at 1 — no dictionary, so both engines
    * agree exactly. Sentences are [.!?]+ runs floored at 1. Per-doc
    * scores are double trees over the three exact counts, floored to
    * micro units before the per-source integer sum (the repo's
    * unbounded-float-sum convention); one explode-aggregate pass, no
    * joins.
    */
  private def readability(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .where(col("w") =!= "")
    val g = size(expr("regexp_extract_all(w, '[aeiouy]+', 0)"))
    val syl = greatest(lit(1),
      g - when(endswith(col("w"), lit("e")) && g > 1, 1).otherwise(0))
    val perDoc = tok
      .withColumn("syl", syl.cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("nw"), sum(col("syl")).as("nsyl"),
        greatest(lit(1),
          max(size(expr("regexp_extract_all(text, '[.!?]+', 0)"))))
          .cast("long").as("ns"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val scored = perDoc.select(col("source"),
      floor((lit(0.39) * (d(col("nw")) / d(col("ns")))
        + lit(11.8) * (d(col("nsyl")) / d(col("nw"))) - lit(15.59)) * 1e6)
        .cast("long").as("fk_micro"),
      floor((lit(206.835) - lit(1.015) * (d(col("nw")) / d(col("ns")))
        - lit(84.6) * (d(col("nsyl")) / d(col("nw")))) * 1e6)
        .cast("long").as("ease_micro"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fk_micro")).as("fk_sum"),
        sum(col("ease_micro")).as("ease_sum"))
      .select(col("source"), col("n_docs"),
        (d(col("fk_sum")) / lit(1e6) / d(col("n_docs")))
          .as("mean_fk_grade"),
        (d(col("ease_sum")) / lit(1e6) / d(col("n_docs")))
          .as("mean_reading_ease"))
      .orderBy("source")
  }

  private val readabilityOracle: String = s"""WITH tok AS (
  SELECT doc_id, source, text,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), syl AS (
  SELECT doc_id, source, text,
    GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))
      - CASE WHEN w LIKE '%e'
          AND len(regexp_extract_all(w, '[aeiouy]+')) > 1
        THEN 1 ELSE 0 END) AS s
  FROM tok WHERE w <> ''
), perdoc AS (
  SELECT doc_id, source, COUNT(*) AS nw, CAST(SUM(s) AS BIGINT) AS nsyl,
    GREATEST(1, CAST(MAX(len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT))
      AS ns
  FROM syl GROUP BY 1, 2
), scored AS (
  SELECT source,
    CAST(FLOOR((${D("0.39")} * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      + ${D("11.8")} * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE))
      - ${D("15.59")}) * ${D("1e6")}) AS BIGINT) AS fk_micro,
    CAST(FLOOR((${D("206.835")}
      - ${D("1.015")} * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      - ${D("84.6")} * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE)))
      * ${D("1e6")}) AS BIGINT) AS ease_micro
  FROM perdoc
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(fk_micro) AS DOUBLE) / ${D("1e6")} / CAST(COUNT(*) AS DOUBLE)
    AS mean_fk_grade,
  CAST(SUM(ease_micro) AS DOUBLE) / ${D("1e6")} / CAST(COUNT(*) AS DOUBLE)
    AS mean_reading_ease
FROM scored GROUP BY 1 ORDER BY source"""

  // --- content-defined chunking (AE / asymmetric extremum) ------------
  /** Content-defined chunking by the ASYMMETRIC-EXTREMUM rule (Zhang et
    * al., AE chunking — the FastCDC ancestor built for exactly this
    * one-pass-free setting): a cut lands at position i when that
    * character's 32-bit hash strictly exceeds every hash in the
    * preceding w=31 positions. Unlike Rabin/gear rolling hashes, the
    * extremum test needs NO sequential carry — it is a bounded window
    * MAX, so chunking distributes as one windowed aggregate over
    * (doc, pos) keys and boundaries stay shift-resistant (insert a
    * byte and only the chunks around the edit move, the property that
    * makes CDC dedup robust where fixed-size blocks break). Per-source
    * readout: chunk count, distinct chunks, dup ratio, mean length —
    * the dedup-planning numbers a binary/layout store needs. Heavy
    * strings are dropped before the window (only (doc, pos, hash)
    * shuffles); text is re-joined at the ~boundaries-per-doc rows only.
    */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val chunks = graft.operators.TextDedup.aeChunks(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("len"), col("h"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_distinct"),
        sum(col("len")).as("total_len"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double")
          / col("n_chunks").cast("double")).as("dup_ratio"),
        (col("total_len").cast("double") / col("n_chunks").cast("double"))
          .as("mean_len"))
      .orderBy("source")
  }

  private val cdcChunksOracle: String = """WITH docs AS (
  SELECT doc_id, source, text FROM documents
), chars AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
    CAST(('0x' || substring(md5(substring(text, CAST(i AS INTEGER), 1)), 1, 8))
      AS BIGINT) AS g
  FROM docs, unnest(generate_series(1, len(text))) AS t(i)
), b0 AS (
  SELECT doc_id, i,
    MAX(g) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN 31 PRECEDING AND 1 PRECEDING) AS pmax,
    g
  FROM chars
), bounds AS (
  SELECT doc_id, i FROM b0 WHERE i >= 32 AND g > COALESCE(pmax, -1)
), ends AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT doc_id, i FROM bounds
    UNION ALL SELECT doc_id, CAST(len(text) AS INTEGER) FROM docs
  )
), spans AS (
  SELECT doc_id, i,
    COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS start
  FROM ends
), chunks AS (
  SELECT d.source, CAST(s.i - s.start + 1 AS BIGINT) AS len,
    md5(substring(d.text, s.start, s.i - s.start + 1)) AS h
  FROM spans s JOIN docs d ON s.doc_id = d.doc_id
  WHERE s.i >= s.start
)
SELECT source, COUNT(*) AS n_chunks,
  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
  CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT h) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS dup_ratio,
  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_len
FROM chunks GROUP BY 1 ORDER BY source"""

  // --- TextRank keyword extraction ------------------------------------
  /** TextRank (Mihalcea & Tarau '04) over the corpus word
    * co-occurrence graph: words within ±2 positions in a document are
    * linked, edge weight = co-occurrence count, and keywords are the
    * top-20 by weighted PageRank — the unsupervised keyword extractor
    * that beats raw frequency by crediting words that CONNECT the
    * vocabulary, not just appear. Reuses [[graft.operators.Graphs
    * .pageRank]] verbatim (integer micro-unit trajectory, 5
    * iterations, damping 0.85 as `(85·inflow) div 100` — exact longs,
    * so the unrolled oracle reproduces every bit). Word ids are 32-bit
    * md5 slices (portable to SQL; a collision would merge two words
    * identically in both engines). The ±2 window keeps the pair
    * explode linear in corpus size — never quadratic in doc length.
    */
  private def textrank(s: SparkSession, dir: String): DataFrame = {
    def wid(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    // unfiltered positions: pairing offsets are defined over the raw
    // split positions (empty tokens hold a slot but never form a pair —
    // identical to the exploded original, which filtered AFTER posexplode)
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+"))
          .as(Seq("pos", "w")))
    // ±1/±2 co-occurrence via lead over the per-doc position order: ONE
    // tokenization scan and ONE doc_id exchange, where the previous
    // offset self-join tokenized twice and shuffled both sides on
    // (doc, pos). Same pair set by construction (lead k = the token at
    // pos + k; posexplode positions are dense).
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val co = tok
      .withColumn("w1", lead(col("w"), 1).over(wl))
      .withColumn("w2", lead(col("w"), 2).over(wl))
      .select(col("w"), explode(array(col("w1"), col("w2"))).as("wb"))
      .where(col("w") =!= "" && col("wb").isNotNull && col("wb") =!= "" &&
        col("w") =!= col("wb"))
      .select(least(col("w"), col("wb")).as("x"),
        greatest(col("w"), col("wb")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
    val edges = co.select(wid(col("x")).as("src"), wid(col("y")).as("dst"),
        col("w"))
      .union(co.select(wid(col("y")).as("src"), wid(col("x")).as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    // vocabulary is tiny next to the token stream — checkpoint it once
    // and reuse for the node universe AND the final display join (each
    // consumer previously re-ran the whole tokenization scan)
    val words = Checkpoints.round(
      tok.where(col("w") =!= "").select(col("w")).distinct())
    val nodes = words.select(wid(col("w")).as("node")).distinct()
    val ranks = graft.operators.Graphs.pageRank(edges, nodes, 5)
    ranks.join(words.select(wid(col("w")).as("node"), col("w").as("word")),
        Seq("node"))
      .select(col("word"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("word")).limit(20)
  }

  private val textrankOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
  SELECT n.node, 150000 + (85 * COALESCE(t.inflow, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM((r.r * e.w) // e.w_out) AS inflow
    FROM e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst) t
  ON t.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH tok AS (
  SELECT doc_id, w, CAST(pos AS BIGINT) AS pos FROM (
    SELECT doc_id,
      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
      unnest(generate_series(1,
        len(string_split_regex(trim(lower(text)), '\\s+')))) AS pos
    FROM documents
  ) WHERE w <> ''
), offs(off) AS (VALUES (1), (2)),
co AS (
  SELECT LEAST(a.w, b.w) AS x, GREATEST(a.w, b.w) AS y, COUNT(*) AS w
  FROM tok a JOIN offs ON true
  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + offs.off
  WHERE a.w <> b.w
  GROUP BY 1, 2
), widco AS (
  SELECT CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT) AS xid,
    CAST(('0x' || substring(md5(y), 1, 8)) AS BIGINT) AS yid, w
  FROM co
), edges AS (
  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT xid AS src, yid AS dst, w FROM widco
    UNION ALL SELECT yid, xid, w FROM widco
  ) GROUP BY 1, 2
), outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS w_out FROM edges GROUP BY 1
), e AS (
  SELECT edges.src, edges.dst, edges.w, outw.w_out
  FROM edges JOIN outw ON edges.src = outw.src
), words AS (SELECT DISTINCT w FROM tok),
nodes AS (
  SELECT DISTINCT CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS node
  FROM words
), r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
),
$iters
SELECT words.w AS word, CAST(r5.r AS BIGINT) AS rank_micro
FROM r5 JOIN words
  ON CAST(('0x' || substring(md5(words.w), 1, 8)) AS BIGINT) = r5.node
ORDER BY rank_micro DESC, word LIMIT 20"""
  }

  // --- Burrows' Delta stylometry --------------------------------------
  /** Burrows' Delta between every source pair: z-score each source's
    * relative frequency of the top-30 corpus words (the
    * most-frequent-word profile that carries authorial/template
    * signal), then Delta = mean city-block distance between z-profiles
    * — the standard attribution distance (Burrows '02). Exactness:
    * frequencies are ppm integers (cnt·1e6 div n_s, safe from overflow
    * where ppb is not at S·f² scale), deviations S·f − Σf and their
    * squares stay exact longs, z = dev/√(var/S) is one double tree,
    * and per-pair word terms are floored to nano units before the
    * integer sum (the unbounded-float-sum convention). Dense
    * source×word grid via broadcast crossJoin of two bounded lists.
    */
  private val DeltaWords = 30

  private def burrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .where(col("w") =!= "")
    val cnt = tok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val nS = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val top = cnt.groupBy(col("w")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("w")).limit(DeltaWords)
      .select(col("w"))
    val grid = nS.crossJoin(broadcast(top))
      .join(cnt, Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        expr("(coalesce(c, CAST(0 AS BIGINT)) * 1000000) div n").as("f"))
    val stats = grid.groupBy(col("w")).agg(
      count(lit(1)).as("ns"), sum(col("f")).as("sf"),
      sum(col("f") * col("f")).as("sff"))
    // zero-variance words (identical ppm in every source) would z to
    // 0/0 = NaN, which the engines then CAST differently — exclude on
    // both sides
    val z = grid.join(broadcast(stats), Seq("w"))
      .where(col("ns") * col("sff") - col("sf") * col("sf") > 0)
      .select(col("source"), col("w"),
        ((col("ns") * col("f") - col("sf")).cast("double") /
          sqrt(((col("ns") * col("sff") - col("sf") * col("sf"))
            .cast("double")) / col("ns").cast("double"))).as("z"))
    val za = z.select(col("w"), col("source").as("sa"), col("z").as("za"))
    val zb = z.select(col("w"), col("source").as("sb"), col("z").as("zb"))
    za.join(zb, Seq("w")).where(col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        floor(abs(col("za") - col("zb")) * 1e9).cast("long").as("t"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_words"), sum(col("t")).as("delta_nano"))
      .select(col("sa"), col("sb"), col("n_words"),
        (col("delta_nano").cast("double") / lit(1e9) /
          col("n_words").cast("double")).as("delta"))
      .orderBy("sa", "sb")
  }

  private val burrowsDeltaOracle: String = s"""WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), tk AS (SELECT source, w FROM tok WHERE w <> ''),
cnt AS (SELECT source, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
top AS (
  SELECT w FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS tc FROM cnt GROUP BY 1)
  ORDER BY tc DESC, w LIMIT $DeltaWords
), grid AS (
  SELECT ns.source, top.w,
    CAST(COALESCE(cnt.c, 0) * 1000000 // ns.n AS BIGINT) AS f
  FROM ns CROSS JOIN top
  LEFT JOIN cnt ON cnt.source = ns.source AND cnt.w = top.w
), stats AS (
  SELECT w, COUNT(*) AS ns, CAST(SUM(f) AS BIGINT) AS sf,
    CAST(SUM(f * f) AS BIGINT) AS sff
  FROM grid GROUP BY 1
), z AS (
  SELECT g.source, g.w,
    CAST(s.ns * g.f - s.sf AS DOUBLE)
      / sqrt(CAST(s.ns * s.sff - s.sf * s.sf AS DOUBLE)
        / CAST(s.ns AS DOUBLE)) AS z
  FROM grid g JOIN stats s ON g.w = s.w
  WHERE s.ns * s.sff - s.sf * s.sf > 0
), terms AS (
  SELECT a.source AS sa, b.source AS sb,
    CAST(FLOOR(ABS(a.z - b.z) * ${D("1e9")}) AS BIGINT) AS t
  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
)
SELECT sa, sb, COUNT(*) AS n_words,
  CAST(SUM(t) AS DOUBLE) / ${D("1e9")} / CAST(COUNT(*) AS DOUBLE) AS delta
FROM terms GROUP BY 1, 2 ORDER BY sa, sb"""

  // --- mean segmental type-token ratio (lexical diversity) ------------
  /** MSTTR-50 per source: documents are cut into consecutive 50-token
    * segments (by original token position; incomplete tail segments
    * are DROPPED — the standard fix for TTR's length sensitivity, which
    * makes raw TTR incomparable across document lengths), each
    * segment's type count is tallied, and the source readout is
    * Σtypes / (50·segments). A boilerplate-heavy or template-generated
    * source shows a depressed MSTTR long before eyeballing catches it.
    * Type counts are exact integers, so the only division is the final
    * readout — no per-segment float ever aggregates.
    */
  private val MsttrSeg = 50

  private def msttr(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+"))
          .as(Seq("p", "token")))
      .where(col("token") =!= "")
    val seg = tok
      .groupBy(col("source"), col("doc_id"),
        (col("p") / MsttrSeg).cast("long").as("seg"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("token")).as("n_types"))
      .where(col("n_tok") === MsttrSeg)
    seg.groupBy(col("source"))
      .agg(count(lit(1)).as("n_segments"), sum(col("n_types")).as("sum_types"))
      .withColumn("msttr", col("sum_types").cast("double") /
        (col("n_segments") * MsttrSeg).cast("double"))
      .orderBy("source")
  }

  private val msttrOracle: String = s"""WITH docs AS (
  SELECT source, doc_id,
    string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents
), tok AS (
  SELECT source, doc_id,
    unnest(generate_series(1, len(w))) - 1 AS p,
    unnest(w) AS token
  FROM docs
), seg AS (
  SELECT source, doc_id, p // $MsttrSeg AS seg,
    COUNT(*) AS n_tok, COUNT(DISTINCT token) AS n_types
  FROM tok WHERE token <> '' GROUP BY 1, 2, 3
  HAVING COUNT(*) = $MsttrSeg
)
SELECT source, COUNT(*) AS n_segments,
  CAST(SUM(n_types) AS BIGINT) AS sum_types,
  CAST(SUM(n_types) AS DOUBLE)
    / CAST(COUNT(*) * $MsttrSeg AS DOUBLE) AS msttr
FROM seg GROUP BY source ORDER BY source"""

  // --- token dispersion (variance-to-mean over documents) -------------
  /** Fisher dispersion index VMR = σ²/μ of per-document counts for the
    * top-20 corpus tokens: function words spread evenly (VMR ≈ 1,
    * Poisson-like); topical words clump into few documents (VMR ≫ 1) —
    * the classic burstiness split that frequency alone can't see, and
    * a direct input to stop-list construction. Zero-count documents
    * are part of the distribution, handled in closed form:
    * VMR = (N·Σx² − cf²) / (N·cf) over docs-containing sums only —
    * exact int64 numerator and denominator, ONE double division, no
    * N-row zero-fill ever materialized.
    */
  private def tokenDispersion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dt = docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("x"))
    val perTok = dt.groupBy(col("token"))
      .agg(sum(col("x")).as("cf"), count(lit(1)).as("df"),
        sum(col("x") * col("x")).as("sxx"))
    // top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
    // heap + merge), NOT a vocab-cardinality global rank window; the
    // residual row_number runs over the 20 survivors only
    val w = Window.orderBy(col("cf").desc, col("token"))
    perTok.orderBy(col("cf").desc, col("token")).limit(20)
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(nDocs))
      .select(col("rk"), col("token"), col("cf"), col("df"),
        ((col("n_docs") * col("sxx") - col("cf") * col("cf")).cast("double") /
          (col("n_docs") * col("cf")).cast("double")).as("vmr"))
      .orderBy("rk")
  }

  private val tokenDispersionOracle: String = """WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), dt AS (
  SELECT doc_id, token, COUNT(*) AS x FROM tok WHERE token <> '' GROUP BY 1, 2
), pertok AS (
  SELECT token, CAST(SUM(x) AS BIGINT) AS cf, COUNT(*) AS df,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM dt GROUP BY 1
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
ranked AS (
  SELECT token, cf, df, sxx,
    ROW_NUMBER() OVER (ORDER BY cf DESC, token) AS rk
  FROM pertok
)
SELECT CAST(rk AS BIGINT) AS rk, token, cf, df,
  CAST(n_docs * sxx - cf * cf AS DOUBLE)
    / CAST(n_docs * cf AS DOUBLE) AS vmr
FROM ranked, nd WHERE rk <= 20 ORDER BY rk"""

  // --- pairwise Jensen-Shannon divergence between sources -------------
  /** Symmetric, bounded divergence JS(a,b) = ½KL(p‖m) + ½KL(q‖m),
    * m = (p+q)/2, for every source PAIR — the corpus-mixture design
    * readout (KL against the pooled corpus says "how far from average";
    * JS says which sources are interchangeable and which bring novel
    * token mass, and it never blows up on disjoint vocabularies: it
    * tops out at ln 2). Per-pair token alignment is a FULL OUTER
    * equi-join of the per-source count tables (a token absent on one
    * side contributes only the other side's ½·q·ln(q/m) term — m > 0
    * always, so no smoothing constant to tune). Each term is floored to
    * nano-units before the integer sum (order-independent, the same
    * DSIR/KL trick); |pairs| = |sources|², so everything after the one
    * token-count scan is vocabulary-bounded, not corpus-bounded.
    */
  private def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val st = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("n")).as("n_s"))
    val pairs = srcTot.select(col("source").as("sa"))
      .crossJoin(srcTot.select(col("source").as("sb")))
      .where(col("sa") < col("sb"))
    val aSide = st.join(broadcast(pairs), col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("token"), col("n").as("n_a"))
    val bSide = st.join(broadcast(pairs), col("source") === col("sb"))
      .select(col("sa").as("sa2"), col("sb").as("sb2"),
        col("token").as("token2"), col("n").as("n_b"))
    val aligned = aSide.join(bSide,
        col("sa") === col("sa2") && col("sb") === col("sb2") &&
          col("token") === col("token2"), "full_outer")
      .select(coalesce(col("sa"), col("sa2")).as("sa"),
        coalesce(col("sb"), col("sb2")).as("sb"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .join(broadcast(srcTot.select(col("source").as("sa"),
        col("n_s").as("na_tot"))), "sa")
      .join(broadcast(srcTot.select(col("source").as("sb"),
        col("n_s").as("nb_tot"))), "sb")
    val p = col("n_a").cast("double") / col("na_tot").cast("double")
    val q = col("n_b").cast("double") / col("nb_tot").cast("double")
    val m = (p + q) / lit(2.0)
    val term = (when(col("n_a") > 0, p * log(p / m)).otherwise(lit(0.0)) +
      when(col("n_b") > 0, q * log(q / m)).otherwise(lit(0.0))) / lit(2.0)
    aligned
      .select(col("sa"), col("sb"),
        floor(term * lit(1.0e9)).cast("long").as("term_nano"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_types"), sum(col("term_nano")).as("js_nano"))
      .withColumn("js", col("js_nano").cast("double") / lit(1.0e9))
      .orderBy("sa", "sb")
  }

  private val jsDivergenceOracle: String = {
    val p = "(CAST(n_a AS DOUBLE) / CAST(na_tot AS DOUBLE))"
    val q = "(CAST(n_b AS DOUBLE) / CAST(nb_tot AS DOUBLE))"
    val m = s"(($p + $q) / ${D("2.0")})"
    s"""WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), t AS (SELECT source, token FROM tok WHERE token <> ''),
st AS (SELECT source, token, COUNT(*) AS n FROM t GROUP BY 1, 2),
srct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_s FROM st GROUP BY 1),
pr AS (SELECT a.source AS sa, b.source AS sb
       FROM srct a JOIN srct b ON a.source < b.source),
aside AS (
  SELECT pr.sa, pr.sb, st.token, st.n AS n_a
  FROM st JOIN pr ON st.source = pr.sa
), bside AS (
  SELECT pr.sa, pr.sb, st.token, st.n AS n_b
  FROM st JOIN pr ON st.source = pr.sb
), aligned AS (
  SELECT COALESCE(a.sa, b.sa) AS sa, COALESCE(a.sb, b.sb) AS sb,
    CAST(COALESCE(a.n_a, 0) AS BIGINT) AS n_a,
    CAST(COALESCE(b.n_b, 0) AS BIGINT) AS n_b
  FROM aside a FULL JOIN bside b
    ON a.sa = b.sa AND a.sb = b.sb AND a.token = b.token
), wt AS (
  SELECT aligned.*, ta.n_s AS na_tot, tb.n_s AS nb_tot
  FROM aligned JOIN srct ta ON aligned.sa = ta.source
               JOIN srct tb ON aligned.sb = tb.source
), terms AS (
  SELECT sa, sb,
    CAST(FLOOR(((CASE WHEN n_a > 0 THEN $p * ln($p / $m)
                 ELSE ${D("0.0")} END
               + CASE WHEN n_b > 0 THEN $q * ln($q / $m)
                 ELSE ${D("0.0")} END) / ${D("2.0")})
      * ${D("1000000000")}) AS BIGINT) AS term_nano
  FROM wt
)
SELECT sa, sb, COUNT(*) AS n_types, CAST(SUM(term_nano) AS BIGINT) AS js_nano,
  CAST(SUM(term_nano) AS DOUBLE) / ${D("1000000000")} AS js
FROM terms GROUP BY 1, 2 ORDER BY sa, sb"""
  }

  // --- Zipf rank-frequency fit (power-law diagnostics) ----------------
  /** Per-source Zipf exponent: OLS slope of ln(frequency) on ln(rank)
    * over the token vocabulary, published as alpha = −slope (healthy
    * natural text sits near 1). A broken scrape (boilerplate spam,
    * truncated pages) bends the rank-frequency line, so alpha is a
    * one-number corpus-health probe per source. Each point's ln is
    * floored to MILLI-units before the five OLS sums — order-independent
    * integer aggregation (the DSIR trick), with milli not nano chosen so
    * `sum(x²)` stays in BIGINT at Heaps-law vocabulary sizes. The final
    * slope ratio is evaluated in DOUBLE because `sx·sy` would overflow
    * BIGINT; both engines run the identical expression tree. The rank
    * window sorts one source's vocabulary per task — Heaps-bounded,
    * never corpus-volume-bounded.
    */
  private def zipfAlpha(s: SparkSession, dir: String): DataFrame = {
    val st = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("token"))
    val pts = st.withColumn("r", row_number().over(w))
      .select(col("source"),
        floor(log(col("r").cast("double")) * lit(1000.0)).cast("long").as("x"),
        floor(log(col("n").cast("double")) * lit(1000.0)).cast("long").as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("alpha",
        -((col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_types").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))))
      .select(col("source"), col("n_types"), col("alpha"))
      .orderBy("source")
  }

  private val zipfAlphaOracle: String = s"""WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), st AS (
  SELECT source, token, COUNT(*) AS n FROM tok WHERE token <> '' GROUP BY 1, 2
), pts AS (
  SELECT source,
    CAST(FLOOR(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) AS DOUBLE)) * ${D("1000")}) AS BIGINT) AS x,
    CAST(FLOOR(ln(CAST(n AS DOUBLE)) * ${D("1000")}) AS BIGINT) AS y
  FROM st
), t AS (
  SELECT source, COUNT(*) AS n_types, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY 1
)
SELECT source, n_types,
  -((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
    (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS alpha
FROM t ORDER BY source"""

  // --- bigram PMI collocations (phrase mining) ------------------------
  /** Top-20 adjacent-bigram collocations by pointwise mutual
    * information, min support 5 — the phrase-mining signal that feeds
    * tokenizer vocabularies ("new york" belongs together; "of the" does
    * not, PMI separates them where raw counts cannot). Bigrams come
    * from one `zip_with` over the token array inside the scan stage —
    * no positional self-join; PMI is one double expression over five
    * exact integer counts, floored to nano-units so the ranking is
    * engine-exact.
    */
  private def bigramPmi(s: SparkSession, dir: String): DataFrame = {
    val arr = Tables(s, dir, "documents")
      .select(split(trim(lower(col("text"))), "\\s+").as("a"))
    val bi = arr.select(explode(expr(
        """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
           (x, y) -> named_struct('w1', x, 'w2', y))""")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .where(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 5)
    val uni = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
    val totals = uni.agg(sum(col("n_tok")).as("n_uni")) // 1×1
    // total bigram count includes sub-support pairs: one scan-side size sum
    val nbi = arr.select(
        (size(col("a")) - lit(1)).cast("long").as("k"))
      .where(col("k") > 0)
      .agg(sum(col("k")).as("n_bi")) // counts "" edge bigrams too — see oracle
    bi.join(uni.select(col("token").as("w1"), col("n_tok").as("n_a")), Seq("w1"))
      .join(uni.select(col("token").as("w2"), col("n_tok").as("n_b")), Seq("w2"))
      .crossJoin(totals).crossJoin(nbi)
      .select(col("w1"), col("w2"), col("n_ab"),
        floor(log((col("n_ab").cast("double") / col("n_bi").cast("double")) /
            ((col("n_a").cast("double") / col("n_uni").cast("double")) *
             (col("n_b").cast("double") / col("n_uni").cast("double"))))
          * lit(1.0e9)).cast("long").as("pmi_nano"))
      .orderBy(col("pmi_nano").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val bigramPmiOracle: String = s"""WITH arr AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS a FROM documents
), bi0 AS (
  SELECT a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2
  FROM arr, unnest(range(1, len(a))) AS t(i)
), bi AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM bi0
  WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2 HAVING COUNT(*) >= 5
), uni AS (
  SELECT token, COUNT(*) AS n_tok FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY 1
), totals AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_uni FROM uni),
nbi AS (
  SELECT CAST(SUM(k) AS BIGINT) AS n_bi FROM (
    SELECT CAST(len(a) - 1 AS BIGINT) AS k FROM arr
  ) WHERE k > 0
)
SELECT w1, w2, n_ab,
  CAST(FLOOR(ln((CAST(n_ab AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
      ((CAST(na.n_tok AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
       (CAST(nb.n_tok AS DOUBLE) / CAST(n_uni AS DOUBLE))))
    * ${D("1000000000")}) AS BIGINT) AS pmi_nano
FROM bi JOIN uni na ON bi.w1 = na.token
JOIN uni nb ON bi.w2 = nb.token
CROSS JOIN totals CROSS JOIN nbi
ORDER BY pmi_nano DESC, w1, w2 LIMIT 20"""

  // --- deterministic weighted sampling (Efraimidis-Spirakis) ----------
  /** Weighted sampling without replacement, fully deterministic: each
    * doc draws its "uniform" u from its own md5 (60-bit prefix mapped
    * into (0, 1]), and the Efraimidis-Spirakis key ln(u)/w — monotone
    * with u^(1/w) — picks the top-20 by char-length weight. Retries,
    * partitionings, and engines agree bit-for-bit because there is no
    * RNG anywhere; the key is floored to nano-units before ranking. At
    * 100 TB the top-k is a bounded TakeOrdered, never a global sort.
    */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    Tables(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("w"), h.as("h"))
      .where(col("w") > 0)
      .select(col("doc_id"), col("w"),
        floor(log((col("h") + lit(1L)).cast("double") /
            lit(1152921504606846977L).cast("double")) /
          col("w").cast("double") * lit(1.0e9)).cast("long").as("key_nano"))
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(20)
  }

  private val weightedSampleOracle: String = s"""WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, w,
  CAST(FLOOR(ln(CAST(h + 1 AS DOUBLE) / CAST(1152921504606846977 AS DOUBLE))
    / CAST(w AS DOUBLE) * ${D("1000000000")}) AS BIGINT) AS key_nano
FROM d WHERE w > 0
ORDER BY key_nano DESC, doc_id LIMIT 20"""

  // --- pairwise source similarity (sparse cosine) ---------------------
  /** Source-by-source cosine similarity over token-count vectors — the
    * companion readout to [[klDivergence]]: KL flags one drifting
    * source, this matrix says WHICH sources are interchangeable (near-1)
    * vs complementary, the signal that drives mixture re-weighting. The
    * sparse dot product is an equi-join on token between per-source
    * count rows — vectors are never materialized, the shuffle carries
    * (token, count) pairs, and the output is |sources|² tiny. Dot and
    * squared norms are exact integers; cosine is one fixed double
    * expression over them.
    */
  private def sourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val st = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    val norms = st.groupBy(col("source"))
      .agg(sum(col("n") * col("n")).as("nrm2"))
    val a = st.select(col("source").as("src_a"), col("token"), col("n").as("na"))
    val b = st.select(col("source").as("src_b"), col("token"), col("n").as("nb"))
    a.join(b, Seq("token"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("na") * col("nb")).as("dot"))
      .join(norms.select(col("source").as("src_a"), col("nrm2").as("nrm2_a")), Seq("src_a"))
      .join(norms.select(col("source").as("src_b"), col("nrm2").as("nrm2_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("nrm2_a").cast("double")) * sqrt(col("nrm2_b").cast("double"))))
          .as("cosine"))
      .orderBy("src_a", "src_b")
  }

  private val sourceSimilarityOracle: String = s"""WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), st AS (
  SELECT source, token, COUNT(*) AS n FROM tok WHERE token <> '' GROUP BY 1, 2
), norms AS (
  SELECT source, CAST(SUM(n * n) AS BIGINT) AS nrm2 FROM st GROUP BY 1
), dots AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(SUM(a.n * b.n) AS BIGINT) AS dot
  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, dot,
  CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))) AS cosine
FROM dots JOIN norms na ON dots.src_a = na.source
JOIN norms nb ON dots.src_b = nb.source
ORDER BY src_a, src_b"""

  // --- TF-IDF keyword extraction ------------------------------------
  /** Top-3 TF-IDF keywords per document: tf and df are exact integer
    * counts; the per-term score tf·ln((N+1)/(df+1)) is floored to
    * micro-units BEFORE ranking, so the (score, token) rank order is an
    * integer sort and the ln-ulp residual can only flip a rank when two
    * scores collide within 1e-6 — broken deterministically by the token
    * tiebreak. df and N come from one distinct (doc, token) pass; the
    * final top-3 is a row_number window partitioned by doc_id (high-
    * cardinality key — no single-partition funnel at scale).
    */
  private def tfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = tok.agg(countDistinct(col("doc_id")).as("nd"))
    val scored = tf.join(df, Seq("token")).crossJoin(broadcast(nDocs))
      .withColumn("score_micro",
        floor(col("tf").cast("double")
          * log((col("nd").cast("double") + 1) / (col("df").cast("double") + 1))
          * 1e6).cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("token"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"),
        col("score_micro"))
      .orderBy("doc_id", "rk")
  }

  private val tfidfKeywordsOracle = """WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), tok2 AS (
  SELECT doc_id, token FROM tok WHERE LENGTH(token) > 0
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS nd FROM tok2
), scored AS (
  SELECT doc_id, token, tf, df,
    CAST(FLOOR(CAST(tf AS DOUBLE)
      * ln((CAST(nd AS DOUBLE) + 1) / (CAST(df AS DOUBLE) + 1))
      * 1000000) AS BIGINT) AS score_micro
  FROM tf JOIN df USING (token), nd
), rk AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
    ORDER BY score_micro DESC, token) AS BIGINT) AS rk
  FROM scored
)
SELECT doc_id, rk, token, tf, df, score_micro
FROM rk WHERE rk <= 3 ORDER BY doc_id, rk"""

  /** Corpus-order n-gram novelty: for each document, the fraction of
    * its distinct 5-grams never seen in any earlier (lower doc_id)
    * document — the "how much NEW text does this doc add" signal that
    * ranks sources for dedup-aware training-data curation (a doc full
    * of already-seen grams is a near-dup even when no single pair
    * crosses a Jaccard threshold). Engine shape: distinct (doc, gram)
    * → per-gram argmin(doc) → join back — two shuffles on the 32-byte
    * gram hash space, never all-pairs; the first-occurrence table is
    * the same size as the gram vocabulary, not the corpus.
    */
  private def gramNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = CorpusQuality
      .ngramOccurrences(Tables(s, dir, "documents"), "doc_id", "text", 5)
      .distinct()
    val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  private val gramNoveltyOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
${gramCte(5, "g5")},
dg AS (SELECT DISTINCT doc_id, gram FROM g5),
first AS (SELECT gram, MIN(doc_id) AS first_doc FROM dg GROUP BY 1)
SELECT dg.doc_id, COUNT(*) AS n_grams,
  CAST(SUM(CASE WHEN first_doc = dg.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  CAST(SUM(CASE WHEN first_doc = dg.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM dg JOIN first USING (gram)
GROUP BY dg.doc_id ORDER BY doc_id"""

  /** Tokenizer ENCODE: map every token to its frequency-rank vocab id
    * (the text→ids step before any training run). The vocabulary is
    * ranked WITHOUT a global window by composing
    * [[graft.operators.Ids.prefixSum]] over (count desc, token) —
    * vocab ids come from range-partitioned offsets, so a 1e9-term
    * vocabulary ranks in parallel; the encode itself is one
    * token-equi-join (broadcast while the vocab head is small). Graded
    * on the first 8 positions of every document.
    */
  private def encodeTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos0", "token")))
      .where(col("token") =!= "")
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val ids = graft.operators.Ids.prefixSum(
        vocab, Seq(col("cnt").desc, col("token")), "token_id")
      .select(col("token").as("v_token"), col("token_id"))
    toks.where(col("pos") <= 8)
      .join(ids, col("token") === col("v_token"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token_id"))
      .orderBy("doc_id", "pos")
  }

  private val encodeTokensOracle: String = """WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), toks AS (
  SELECT doc_id, i AS pos, w[i] AS token
  FROM docs, UNNEST(generate_series(1, len(w))) AS t(i)
  WHERE w[i] <> ''
), vocab AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
), ids AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS token_id
  FROM vocab
)
SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos, ids.token_id
FROM toks t JOIN ids ON t.token = ids.token
WHERE t.pos <= 8 ORDER BY doc_id, pos"""

  /** Tokenizer FERTILITY per language: subword tokens emitted per
    * whitespace word (and chars per subword token) — the
    * tokenizer-equity metric multilingual pipelines budget with (a
    * language at fertility 2.5 pays 2.5× the context window of one at
    * 1.1 for the same prose; cf. the SentencePiece/MegatronLM
    * compression reports). Uses the repo's deterministic BPE-ish
    * segmentation ([[graft.functions.TextFunctions.bpeishTokenCount]]);
    * all counts are exact longs from one scan, the two ratios are
    * final double divisions.
    */
  private def fertility(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long")).as("n_words"),
        sum(graft.functions.TextFunctions.bpeishTokenCount(col("text"))
          .cast("long")).as("n_subwords"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        (col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")

  private val fertilityOracle: String = """SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_words,
  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))
    AS BIGINT) AS n_subwords,
  CAST(SUM(len(regexp_extract_all(lower(text),
      '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
    / CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) AS fertility,
  CAST(SUM(len(text)) AS DOUBLE)
    / CAST(SUM(len(regexp_extract_all(lower(text),
        '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE) AS chars_per_token
FROM documents GROUP BY 1 ORDER BY lang"""

  /** Vocabulary coverage curve: the share of total corpus token MASS
    * covered by the top-k frequency-ranked words at k ∈ {10, 100,
    * 1000, 10000} — the planning curve that sizes a tokenizer vocab or
    * a stopword list (Zipfian text saturates fast: if the 1000-word
    * prefix already covers 95%, a bigger vocab buys tail-only). Ranks
    * come from one count aggregate + one bounded window over the
    * vocabulary (types, not tokens); coverage is exact-integer
    * cumulative mass over total mass.
    */
  private val CoverageKs = Seq(10L, 100L, 1000L, 10000L)

  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // only ranks <= max(CoverageKs) are ever read: take that bounded
    // head via orderBy+limit (map-side top-k) and let the rank/cum
    // window run over the 10k survivors, never the full vocabulary
    val maxK = CoverageKs.max.toInt
    val ranked = cnt.orderBy(col("c").desc, col("w")).limit(maxK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("c").desc, col("w"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = cnt.agg(sum(col("c")).as("total"),
      count(lit(1)).as("vocab_size"))
    val ks = s.createDataset(CoverageKs)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("k")
    broadcast(ks).crossJoin(broadcast(tot))
      .join(ranked.select(col("rk"), col("cum")),
        col("rk") === col("k"), "left")
      .select(col("k"), col("vocab_size"), col("total"),
        // a k beyond the vocabulary covers everything
        coalesce(col("cum"), col("total")).as("cum_mass"),
        (coalesce(col("cum"), col("total")).cast("double")
          / col("total").cast("double")).as("coverage"))
      .orderBy("k")
  }

  private val vocabCoverageOracle: String = s"""WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), cnt AS (
  SELECT w, COUNT(*) AS c FROM tok WHERE w <> '' GROUP BY 1
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
    CAST(SUM(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING)
      AS BIGINT) AS cum
  FROM cnt
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total, COUNT(*) AS vocab_size FROM cnt
), ks(k) AS (VALUES ${CoverageKs.map(k => s"($k)").mkString(", ")})
SELECT CAST(k AS BIGINT) AS k, tot.vocab_size, tot.total,
  CAST(COALESCE(r.cum, tot.total) AS BIGINT) AS cum_mass,
  CAST(COALESCE(r.cum, tot.total) AS DOUBLE) / CAST(tot.total AS DOUBLE)
    AS coverage
FROM ks CROSS JOIN tot LEFT JOIN ranked r ON r.rk = ks.k
ORDER BY k"""

  /** Hapax share per source: the fraction of vocabulary TYPES seen
    * exactly once and the token MASS they carry — the productivity/
    * noise readout beside [[heapsLaw]]'s growth exponent (natural prose
    * runs ~40-60% hapax types; template output collapses toward zero,
    * OCR noise inflates it). Exact counts; two final divisions.
    */
  private def hapaxShare(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    def d(c0: org.apache.spark.sql.Column) = c0.cast("double")
    cnt.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("c")).as("n_tokens"))
      .select(col("source"), col("n_types"), col("n_hapax"),
        col("n_tokens"),
        (d(col("n_hapax")) / d(col("n_types"))).as("hapax_type_share"),
        (d(col("n_hapax")) / d(col("n_tokens"))).as("hapax_mass_share"))
      .orderBy("source")
  }

  private val hapaxShareOracle: String = """WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, COUNT(*) AS c FROM tok WHERE w <> '' GROUP BY 1, 2
)
SELECT source, COUNT(*) AS n_types,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS hapax_type_share,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(SUM(c) AS DOUBLE) AS hapax_mass_share
FROM cnt GROUP BY 1 ORDER BY source"""

  /** Exact token-budget apportionment (largest-remainder / Hamilton
    * method): split a 1M-token training budget across sources in
    * proportion to their token counts such that the allocations are
    * integers that sum EXACTLY to the budget — floor quotas first, then
    * +1 to the largest fractional remainders. All integer arithmetic
    * (quota = B·nᵢ div N, remainder = B·nᵢ mod N), so both engines
    * apportion identically; the post-aggregate window runs over
    * sources-cardinality rows.
    */
  private def budgetApportion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 1000000L
    val w = Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long")).as("n_tok"))
    val tot = w.agg(sum(col("n_tok")).as("N"))
    val quotas = w.crossJoin(tot)
      .select(col("source"), col("n_tok"),
        expr(s"($B * n_tok) div N").as("quota"),
        expr(s"($B * n_tok) % N").as("rem"))
    val leftover = quotas.agg((lit(B) - sum(col("quota"))).as("leftover"))
    quotas.crossJoin(leftover)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("n_tok"),
        (col("quota") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("budget"))
      .orderBy("source")
  }

  private val budgetApportionOracle: String = s"""WITH w AS (
  SELECT source,
    CAST(SUM(length(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tok
  FROM documents GROUP BY source
), t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS N FROM w
), q AS (
  SELECT source, n_tok,
    (1000000 * n_tok) // N AS quota, (1000000 * n_tok) % N AS rem
  FROM w, t
), l AS (SELECT 1000000 - CAST(SUM(quota) AS BIGINT) AS leftover FROM q
), r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM q
)
SELECT source, n_tok,
  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS budget
FROM r, l ORDER BY source"""

  /** Dataset card — the summary block a curated corpus ships with,
    * computed as ONE (metric, value) long table: doc/token/char
    * volumes, language and source cardinalities, exact-duplicate count
    * and the post-dedup keeper count. Each metric is a plain aggregate
    * (the dup counts reuse the md5 fingerprint of the exact-dedup
    * operator); the union is rows-of-scalars, so the card costs two
    * scans regardless of corpus size.
    */
  private def datasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
        .as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val dup = d.select(graft.functions.TextFunctions.fingerprint(col("text"))
        .as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_unique_fp"),
        sum(col("c") - 1).as("n_dup_docs"))
    base.crossJoin(dup).select(
      expr("stack(7, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
        "'n_chars', n_chars, 'n_langs', n_langs, 'n_sources', n_sources, " +
        "'n_unique_fp', n_unique_fp, 'n_dup_docs', n_dup_docs) " +
        "AS (metric, value)"))
      .orderBy("metric")
  }

  private val datasetCardOracle = """WITH base AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(length(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
  FROM documents
), fp AS (
  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f,
    COUNT(*) AS c
  FROM documents GROUP BY 1
), dup AS (
  SELECT COUNT(*) AS n_unique_fp, CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
  FROM fp
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, n_docs AS value FROM base
  UNION ALL SELECT 'n_tokens', n_tokens FROM base
  UNION ALL SELECT 'n_chars', n_chars FROM base
  UNION ALL SELECT 'n_langs', n_langs FROM base
  UNION ALL SELECT 'n_sources', n_sources FROM base
  UNION ALL SELECT 'n_unique_fp', n_unique_fp FROM dup
  UNION ALL SELECT 'n_dup_docs', n_dup_docs FROM dup
) ORDER BY metric"""

  // --- maximal duplicated k-gram spans (exact substring dedup) --------
  /** Cross-document duplicated SPANS — the exact-substring dedup signal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better") at token-k-gram resolution: every 8-gram occurring
    * in ≥ 2 distinct docs marks its positions, and duplicated positions
    * within k of each other merge into maximal spans via gap-k islands
    * (a lag-based gap flag + running sum — plain pos−row_number islands
    * would only merge strictly-adjacent positions, leaving overlapping
    * spans whose tokens double-count in the ranking). A suffix array
    * finds character-exact spans; the k-gram formulation is the
    * shuffle-friendly equivalent (one groupBy on the gram, one per-doc
    * window) that distributes — k bounds the minimum span, gap-k
    * merging recovers maximal NON-OVERLAPPING spans above it. At 100 TB the gram key would be xxhash64(gram) (the
    * md5-long trick every dedup op here uses) so the shuffle ships 8
    * bytes, not the text — kept as the raw string ONLY for oracle
    * string-equality parity. Top 30 spans by token length.
    */
  private val SpanK = 8

  private def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val g = docs.where(size(col("w")) >= SpanK)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (SpanK - 1))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        concat_ws(" ", slice(col("w"), col("p"), lit(SpanK))).as("gram"))
    val dup = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select("gram")
    val dp = g.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // gap-k islands: a new span starts where the gap to the previous
    // duplicated position exceeds SpanK (merges overlapping AND
    // touching spans); both windows are per-doc, bounded by doc length
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dp.withColumn("flag",
        when(col("pos") - lag(col("pos"), 1).over(win) <= SpanK, 0L)
          .otherwise(1L))
      .withColumn("grp", sum(col("flag")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + (SpanK - 1)).as("end_tok"),
        (max(col("pos")) - min(col("pos")) + SpanK).as("span_tokens"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        col("span_tokens"))
      .orderBy(col("span_tokens").desc, col("doc_id"), col("start_tok"))
      .limit(30)
  }

  // --- benchmark decontamination (train/test n-gram overlap) ---------
  /** Benchmark DECONTAMINATION — the train/eval overlap scan every
    * serious LLM corpus runs (GPT-3 appendix C's 13-gram scrub; here
    * k = [[SpanK]] to fit the ~54-token docs): hold out the doc_id ≡ 0
    * (mod 20) slice as the "benchmark", flag every training doc
    * sharing ANY k-gram with it, with the shared-gram and hit-doc
    * counts that decide scrub-vs-keep. Set semantics per doc (a gram
    * repeated inside one doc counts once).
    *
    * Scale shape: one distinct-gram groupBy + one gram equi-join. The
    * benchmark side is the small fraction (eval suites are MBs against
    * a 100 TB corpus), so Catalyst broadcasts it — the train side
    * never shuffles its text; at 100 TB the gram key becomes
    * xxhash64(gram) exactly as [[dupSpans]] documents.
    */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .where(size(col("w")) >= SpanK)
    val grams = docs
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - (SpanK - 1))).as("p"),
        col("w"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("w"), col("p"), lit(SpanK))).as("gram"))
      .distinct()
    val bench = grams.where(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("gram"), col("doc_id").as("bench_id"))
    val train = grams.where(pmod(col("doc_id"), lit(20)) =!= 0)
    train.join(bench, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("n_shared_grams").desc, col("doc_id"))
  }

  private val decontaminateOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), g0 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - ${SpanK - 1}),
    i -> array_to_string(w[i:i+${SpanK - 1}], ' '))) AS gram
  FROM docs WHERE len(w) >= $SpanK
), g AS (SELECT DISTINCT doc_id, gram FROM g0),
b AS (SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 20 = 0),
t AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0)
SELECT t.doc_id, COUNT(DISTINCT t.gram) AS n_shared_grams,
  COUNT(DISTINCT b.bench_id) AS n_bench_docs
FROM t JOIN b USING (gram)
GROUP BY t.doc_id
ORDER BY n_shared_grams DESC, doc_id"""

  private val dupSpansOracle: String = s"""WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), g AS (
  SELECT doc_id,
    unnest(generate_series(1, len(w) - ${SpanK - 1})) AS pos,
    unnest(list_transform(generate_series(1, len(w) - ${SpanK - 1}),
      i -> array_to_string(w[i:i+${SpanK - 1}], ' '))) AS gram
  FROM docs WHERE len(w) >= $SpanK
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), isl0 AS (
  SELECT doc_id, pos,
    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              <= $SpanK THEN 0 ELSE 1 END AS flag
  FROM dp
), isl AS (
  SELECT doc_id, pos,
    SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS grp
  FROM isl0
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
  CAST(MAX(pos) + ${SpanK - 1} AS BIGINT) AS end_tok,
  CAST(MAX(pos) - MIN(pos) + $SpanK AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, grp
ORDER BY span_tokens DESC, doc_id, start_tok LIMIT 30"""

  // --- dedup savings forecast --------------------------------------------
  /** What exact dedup would SAVE, per source: total vs post-dedup docs
    * and whitespace tokens when one copy per distinct text survives
    * (md5-keyed groups, the d_dedup_exact discipline — raw text never
    * shuffles), plus the token-savings share. The cost forecast a
    * pipeline runs BEFORE paying for the dedup pass — at 100 TB the
    * answer decides whether the job is worth scheduling at all.
    */
  private def dedupImpact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("source"),
      md5(col("text")).as("h"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    d.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("copies"), max(col("toks")).as("toks"))
      .groupBy(col("source"))
      .agg(sum(col("copies")).as("n_docs"), count(lit(1)).as("n_unique"),
        sum(col("copies") * col("toks")).as("tokens_total"),
        sum(col("toks")).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        col("tokens_total"), col("tokens_kept"),
        (lit(1.0) - col("tokens_kept").cast("double")
          / col("tokens_total").cast("double")).as("savings"))
      .orderBy("source")
  }

  private val dedupImpactOracle = """WITH d AS (
  SELECT source, md5(text) AS h,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
  FROM documents
), per AS (
  SELECT source, h, COUNT(*) AS copies, CAST(MAX(toks) AS BIGINT) AS toks
  FROM d GROUP BY 1, 2
)
SELECT source, CAST(SUM(copies) AS BIGINT) AS n_docs,
  COUNT(*) AS n_unique,
  CAST(SUM(copies * toks) AS BIGINT) AS tokens_total,
  CAST(SUM(toks) AS BIGINT) AS tokens_kept,
  CAST(1 AS DOUBLE) - CAST(SUM(toks) AS DOUBLE)
    / CAST(SUM(copies * toks) AS DOUBLE) AS savings
FROM per GROUP BY 1 ORDER BY source"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("t_dedup_impact", dedupImpact, Some(dedupImpactOracle)),
    QueryDef("d_dup_spans", dupSpans, Some(dupSpansOracle)),
    QueryDef("d_decontaminate", decontaminate, Some(decontaminateOracle)),
    QueryDef("t_dataset_card", datasetCard, Some(datasetCardOracle)),
    QueryDef("t_budget_apportion", budgetApportion, Some(budgetApportionOracle)),
    QueryDef("t_encode_tokens", encodeTokens, Some(encodeTokensOracle)),
    QueryDef("t_fertility", fertility, Some(fertilityOracle)),
    QueryDef("t_vocab_coverage", vocabCoverage, Some(vocabCoverageOracle)),
    QueryDef("t_hapax_share", hapaxShare, Some(hapaxShareOracle)),
    QueryDef("t_gram_novelty", gramNovelty, Some(gramNoveltyOracle)),
    QueryDef("t_idf_keywords", tfidfKeywords, Some(tfidfKeywordsOracle)),
    QueryDef("t_zipf_alpha", zipfAlpha, Some(zipfAlphaOracle)),
    QueryDef("t_bigram_pmi", bigramPmi, Some(bigramPmiOracle)),
    QueryDef("t_weighted_sample", weightedSample, Some(weightedSampleOracle)),
    QueryDef("q_source_similarity", sourceSimilarity, Some(sourceSimilarityOracle)),
    QueryDef("t_kl_divergence", klDivergence, Some(klDivergenceOracle)),
    QueryDef("t_js_divergence", jsDivergence, Some(jsDivergenceOracle)),
    QueryDef("t_msttr", msttr, Some(msttrOracle)),
    QueryDef("t_readability", readability, Some(readabilityOracle)),
    QueryDef("t_textrank", textrank, Some(textrankOracle)),
    QueryDef("d_cdc_chunks", cdcChunks, Some(cdcChunksOracle)),
    QueryDef("t_burrows_delta", burrowsDelta, Some(burrowsDeltaOracle)),
    QueryDef("t_heaps_law", heapsLaw, Some(heapsLawOracle)),
    QueryDef("t_vocab_jaccard", vocabJaccard, Some(vocabJaccardOracle)),
    QueryDef("t_neyman_alloc", neymanAlloc, Some(neymanAllocOracle)),
    QueryDef("t_token_dispersion", tokenDispersion,
      Some(tokenDispersionOracle)),
    QueryDef("t_robust_scale", robustScale, Some(robustScaleOracle)),
    QueryDef("d_bloom_prefilter", bloomPrefilter, Some(bloomPrefilterOracle)),
    QueryDef("t_winsorize", winsorize, Some(winsorizeOracle)),
    QueryDef("t_token_entropy", tokenEntropy, Some(tokenEntropyOracle)),
    QueryDef("t_gopher_gate", gopherGate, Some(gopherGateOracle)),
    QueryDef("t_top_tokens_per_source", topTokensPerSource, Some(topTokensOracle)),
    QueryDef("t_source_cap", sourceCap, Some(sourceCapOracle)),
    QueryDef("t_oov_rate", oovRate, Some(oovRateOracle)),
    QueryDef("t_chunk_overlap", chunkOverlap, Some(chunkOverlapOracle)),
    QueryDef("t_pack_sequences", packSequences, Some(packSequencesOracle)),
    QueryDef("d_incremental_dedup", incrementalDedup, Some(incrementalDedupOracle)),
    QueryDef("t_length_buckets", lengthBuckets, Some(lengthBucketsOracle)),
    QueryDef("t_bigram_lm", bigramLm, Some(bigramLmOracle)),
    QueryDef("t_kn_score", knScore, Some(knScoreOracle)),
    QueryDef("t_bpe_train", bpeTrain, Some(bpeTrainOracle)),
    QueryDef("t_dsir_weights", dsir, Some(dsirOracle)),
    QueryDef("t_train_val_split", trainValTest, Some(trainValTestOracle)),
    QueryDef("t_vocab_topk", vocabTopK, Some(vocabTopKOracle)),
    QueryDef("t_bpe_pairs", bpePairs, Some(bpePairsOracle)),
    QueryDef("t_cms_heavyhitters", cmsHeavyHitters, Some(cmsHeavyHittersOracle)),
    QueryDef("t_mixture_sample", mixture, Some(mixtureOracle)),
    QueryDef("t_shuffle_order", shuffleOrder, Some(shuffleOrderOracle)),
    QueryDef("t_repetition", repetition, Some(repetitionOracle)),
    QueryDef("d_contamination", contamination, Some(contaminationOracle)),
    QueryDef("t_sample_hash", hashSample, Some(hashSampleOracle)),
    QueryDef("d_segment_dedup", segmentDedup, Some(segmentDedupOracle)),
    QueryDef("t_pii_redact", piiRedact, Some(piiRedactOracle)),
    QueryDef("t_quality_gate", qualityGate, Some(qualityGateOracle)))
}
