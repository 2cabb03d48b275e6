package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, Spark-first:
  *
  *   - exact dedup: one hash-groupBy — a single shuffle on a 32-byte key
  *     regardless of document size (group on `md5(text)`, never on the
  *     raw text: at 100 TB the shuffle moves hashes, not documents);
  *   - n-gram Jaccard: exact pairwise similarity via a shingle self-join —
  *     correct but quadratic in docs-per-shingle, so it's the VERIFIER,
  *     not the discoverer, at scale;
  *   - MinHash + LSH banding: the scale path — per-doc signatures (one
  *     groupBy), band-bucket join that only pairs plausible near-dups.
  *     Hashes are md5 strings so results are engine-portable and
  *     deterministic (no JVM-specific hashCode anywhere).
  *
  * The intended 100 TB flow: LSH candidates → exact Jaccard on candidates
  * only → connected components ([[Graphs.components]])/keeper selection.
  */
object TextDedup {

  /** (id, shingle) pairs: distinct word n-grams per document. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1)
    df.select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w)-${n - 1}), i -> concat_ws(' ', ${(0 until n).map(j => s"w[i-1+$j]").mkString(", ")}))"))
        .as("shingle"))
      .distinct()
  }

  /** Exact-duplicate groups keyed on a text hash: (key, keeper_id,
    * n_copies). Keeper = min id, the reference policy for "keep first".
    */
  def exactDupGroups(df: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    df.groupBy(keyExpr.as("dup_key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact pairwise n-gram Jaccard over a shingle table
    * ((doc_id, shingle), as from [[wordShingles]]): pairs with
    * jaccard >= threshold. The self-join shuffles on the shingle string;
    * the per-doc size table (one row per document — corpus-sized, so
    * never hint-broadcast) joins back by id and Catalyst picks
    * broadcast-vs-shuffle from its measured size, like the ANN vector
    * re-fetch joins in Similarity.
    */
  def jaccardPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = shingles.select(col("doc_id").as("a_id"), col("shingle"))
    val b = shingles.select(col("doc_id").as("b_id"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("_na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("_nb")), Seq("b_id"))
      .withColumn("n_union", col("_na") + col("_nb") - col("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union").cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  /** Prefix-filtered exact set-similarity join (AllPairs/SSJoin prefix
    * filtering, Bayardo et al. WWW'07): same output as [[jaccardPairs]]
    * (pairs with Jaccard >= threshold) but candidates are generated
    * ONLY from each document's PREFIX — its first
    * `p = n − ⌈τ·n⌉ + 1` shingles under a global (df ASC, shingle ASC)
    * rarest-first total order. Any pair with J ≥ τ must share a prefix
    * shingle (pigeonhole on the ⌈τ·n⌉ suffix), so completeness is
    * guaranteed while the candidate join touches only rare shingles —
    * the deterministic-threshold complement to probabilistic MinHash
    * banding. ⌈τ·n⌉ is computed in INTEGER arithmetic
    * (`(num·n + den − 1) div den`), so the prefix boundary can never
    * drift between engines. The verify stage computes intersections
    * only for candidate pairs (work ∝ Σ|candidate doc sizes|, never the
    * full co-shingle join).
    *
    * The per-doc ranking window partitions on doc_id — bounded by
    * document size, the same budget as shingling itself.
    */
  def ppjoinPairs(shingles: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen)
    val threshold = tauNum.toDouble / tauDen
    // shingle strings are hashed ONCE to 60-bit md5 longs (the repo's
    // engine-portable collision-free key, as in tableFingerprint) and
    // never travel again: every downstream shuffle/join moves 8-byte
    // keys instead of 3-word strings. Any global total order satisfies
    // the prefix-filter guarantee, so (df ASC, h ASC) replaces
    // (df ASC, shingle ASC).
    val sh = shingles.select(col("doc_id"),
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    // rank and doc size ride the SAME doc_id exchange (row_number's sort
    // serves both) — no separate sizes join on the prefix path
    val prefix = sh.join(dfreq, Seq("h"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .where(col("rk") <=
        col("n") - expr(s"($tauNum * n + ${tauDen - 1}) div $tauDen") + 1)
      .select(col("doc_id"), col("h"), col("rk"), col("n"))
    // PPJoin's two candidate prunes (Xiao et al. WWW'08), both in exact
    // integer arithmetic so neither boundary can drift:
    //  - length filter: J >= τ forces τ·na <= nb <= na/τ;
    //  - positional filter: at a shared token at ranks (rka, rkb) the
    //    remaining overlap is <= 1 + min(na−rka, nb−rkb); a qualifying
    //    pair needs overlap o >= α = ⌈τ(na+nb)/(1+τ)⌉, and the bound
    //    holds at the pair's FIRST shared prefix token, so filtering
    //    per-token then distinct keeps every qualifying pair.
    val alpha = expr(s"($tauNum * (n + nb) + ${tauNum + tauDen - 1}) div ${tauNum + tauDen}")
    val cand = prefix.select(col("doc_id").as("a_id"), col("h"),
        col("rk"), col("n"))
      .join(prefix.select(col("doc_id").as("b_id"), col("h"),
        col("rk").as("rkb"), col("n").as("nb")), Seq("h"))
      .where(col("a_id") < col("b_id") &&
        lit(tauNum) * col("n") <= lit(tauDen) * col("nb") &&
        lit(tauNum) * col("nb") <= lit(tauDen) * col("n") &&
        lit(1) + least(col("n") - col("rk"), col("nb") - col("rkb")) >= alpha)
      .select("a_id", "b_id").distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("h")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("_na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("_nb")), Seq("b_id"))
      .withColumn("n_union", col("_na") + col("_nb") - col("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union").cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  /** Directed Jaccard CONTAINMENT over a shingle table: pairs where
    * one doc's shingle set is mostly inside the other's —
    * `containment(A in B) = |A∩B| / |A|`. Catches the asymmetric dups
    * plain Jaccard misses (a doc quoted inside a much larger one has
    * tiny Jaccard but containment ≈ 1). Emits (a_id < b_id) once with
    * both directions' scores; `threshold` applies to the larger.
    * Same scale shape as [[jaccardPairs]]: intersection shuffles on
    * the shingle, per-doc sizes re-join by id (Catalyst sizes the
    * join), quadratic by design — the VERIFIER for LSH candidates,
    * not the discoverer.
    */
  def containmentPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = shingles.select(col("doc_id").as("a_id"), col("shingle"))
    val b = shingles.select(col("doc_id").as("b_id"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("_na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("_nb")), Seq("b_id"))
      .withColumn("cont_a", col("n_inter").cast("double") / col("_na").cast("double"))
      .withColumn("cont_b", col("n_inter").cast("double") / col("_nb").cast("double"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("cont_a"), col("cont_b"))
  }

  /** Distinct lowercase whitespace tokens per document. */
  def wordTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .distinct()

  val SimHashBits = 64

  /** 64-bit SimHash over a (doc_id, token) table: bit b of the signature
    * is the sign of Σ_tokens (±1), where the per-token bit comes from the
    * md5 hex digest (nibble b/4, bit b%4 — pure string/integer ops, so
    * the DuckDB oracle reproduces it exactly). Emitted as a 64-char
    * '0'/'1' string: one groupBy with 64 integer sum-aggregates,
    * map-side combined.
    *
    * 64-bit/hamming≤3 is the classic near-dup config and targets VERY
    * similar docs (jaccard ≳ 0.95; expected hamming for jaccard-0.9
    * token sets is already ~9 bits). For mid-similarity dedup (0.7-0.9)
    * use the MinHash path — simhash trades recall there for a far more
    * selective band join (32-bit bands produced ~1.5M candidates on 5k
    * small-vocab docs; 16-bit bands collapse that).
    */
  def simHashSignatures(tokens: DataFrame): DataFrame =
    tokens
      .withColumn("_h", md5(col("token")))
      .groupBy(col("doc_id"))
      .agg(graft.plans.SimHashAgg.simhash(col("_h")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found
    * via band-join: the signature splits into (maxHamming+1) bands, and
    * any pair within the threshold must agree on >= 1 whole band
    * (pigeonhole) — so the band equi-join is candidate-COMPLETE, not
    * approximate. Distance is scored by the native codegen'd
    * [[graft.plans.StringHammingDistance]] expression.
    */
  def simHashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    val bandLen = SimHashBits / bands
    val bandRows = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          substring(col("simhash"), b * bandLen + 1, bandLen).as("bkey"))): _*))
        .as("x"))
      .select(col("doc_id"), col("simhash"),
        col("x.band").as("band"), col("x.bkey").as("bkey"))
    val a = bandRows.select(col("band"), col("bkey"),
      col("doc_id").as("a_id"), col("simhash").as("a_sig"))
    val b = bandRows.select(col("band"), col("bkey"),
      col("doc_id").as("b_id"), col("simhash").as("b_sig"))
    a.join(b, Seq("band", "bkey"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.plans.StringHammingDistance.hamming(col("a_sig"), col("b_sig"))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** MinHash signatures: k independent min-hashes per doc — one groupBy
    * with k min-aggregates (single shuffle, map-side partials).
    *
    * Hash economics: one md5 digest is 128 bits = FOUR independent
    * 32-bit lanes, so lane i is
    * `substring(md5("<i/4>:" || shingle), (i%4)*8+1, 8)` — ⌈k/4⌉
    * digests per shingle instead of k (3 not 9 at k=9, ~3× less
    * hashing on the hot path). The digests are computed ONCE in a
    * projection below the agg so each is evaluated exactly once per
    * row; everything is md5+substring, reproducible verbatim in the
    * DuckDB oracle. Min-of-8-hex-chars is a valid min-hash: each lane
    * is uniform on [0, 2^32) and the hex encoding is order-preserving.
    */
  def minHashSignatures(shingles: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val nDigests = (k + 3) / 4
    val digests = shingles.select(col("doc_id") +:
      (0 until nDigests).map(d =>
        md5(concat(lit(s"$d:"), col("shingle"))).as(s"_d$d")): _*)
    digests.groupBy(col("doc_id")).agg(
      min(substring(col("_d0"), 1, 8)).as("h0"),
      (1 until k).map(i =>
        min(substring(col(s"_d${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"h$i")): _*)
  }

  /** As [[minHashSignatures]] with a pluggable per-seed hash. md5 strings
    * are the engine-portable default (DuckDB-oracle parity); production
    * swaps `(i, s) => xxhash64(lit(i), s)` — native 64-bit ints, ~5-10×
    * cheaper (see `d_minhash_lsh_fast` in the bench).
    */
  def minHashSignaturesWith(shingles: DataFrame, k: Int,
      hashFn: (Int, Column) => Column): DataFrame =
    shingles.groupBy(col("doc_id")).agg(
      min(hashFn(0, col("shingle"))).as("h0"),
      (1 until k).map(i => min(hashFn(i, col("shingle"))).as(s"h$i")): _*)

  /** LSH banding over [[minHashSignatures]] output: docs sharing any
    * band-key (md5 of that band's signature slice) become candidate
    * pairs. Probability a pair with Jaccard j collides:
    * 1 − (1 − j^rows)^bands.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    lshCandidatesWith(sigs, bands, rows,
      cols => md5(concat(cols: _*)))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm): hash every char k-gram of the normalized text,
    * slide a w-gram window, keep the minimal hash per window (rightmost
    * on ties). Guarantees: any shared substring of length ≥ k+w-1
    * yields a shared fingerprint, and selection density is ~2/(w+1).
    *
    * Output: distinct (doc_id, fp_hash, fp_pos). Engine-portable
    * determinism: the per-window argmin is encoded as
    * `min(hash || '#' || lpad(bigN - pos))` — one string `MIN`, same
    * result in any engine, no nested-window tricks. Scales as a single
    * per-doc window (shuffle keyed on doc_id), no self-joins.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame =
    winnowingFingerprintsWith(df, idCol, textCol, k, w, md5, 32)

  /** As [[winnowingFingerprints]] with a pluggable fixed-width string
    * gram hash (md5/32 is the portable oracle default; production:
    * `c => lpad(hex(xxhash64(c)), 16, "0")` with width 16 — native
    * 64-bit hashing, no digest allocation).
    *
    * Skew control: documents are split into `chunkChars`-char chunks
    * with a k+w-2 char overlap BEFORE the per-window min, and the
    * window partitions on (doc_id, chunk) — so one multi-GB document
    * can never pin a whole window partition to a single task. The
    * overlap makes chunking invisible in the output: every w-gram
    * window (spanning k+w-1 chars) lies wholly inside ≥1 chunk, chunk-
    * local windows shorter than w are skipped (the previous chunk owns
    * them), keys encode GLOBAL positions, and the trailing `distinct`
    * collapses windows computed in two chunks — the fingerprint set is
    * exactly the unchunked one.
    */
  def winnowingFingerprintsWith(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, hashFn: Column => Column, hashLen: Int,
      chunkChars: Int = 8192): DataFrame = {
    val minLen = k + w - 1
    val stride = chunkChars - (k + w - 2)
    require(stride >= 1, s"chunkChars ($chunkChars) must exceed k+w-2 (${k + w - 2})")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("off")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    df.select(col(idCol).as("doc_id"),
      lower(regexp_replace(col(textCol), "[^a-zA-Z0-9]+", "")).as("s"))
      .where(length(col("s")) >= minLen)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST(floor((length(s)-1) / $stride) AS INT)),
           c -> named_struct('off', c * $stride, 'cs', substring(s, c * $stride + 1, $chunkChars)))"""))
        .as("ch"))
      .select(col("doc_id"), col("ch.off").as("off"), col("ch.cs").as("cs"))
      .where(length(col("cs")) >= minLen)
      .select(col("doc_id"), col("off"), posexplode(
        expr(s"transform(sequence(1, length(cs) - ${k - 1}), i -> substring(cs, i, $k))"))
        .as(Seq("j0", "gram")))
      .select(col("doc_id"), col("off"), (col("j0") + 1).as("pos"),
        concat(hashFn(col("gram")), lit("#"),
          lpad((lit(99999999) - col("off") - col("j0") - 1).cast("string"), 8, "0")).as("key"))
      .withColumn("sel", min(col("key")).over(win))
      .where(col("pos") >= w)
      .select(col("doc_id"),
        substring(col("sel"), 1, hashLen).as("fp_hash"),
        (lit(99999999) - substring(col("sel"), hashLen + 2, 8).cast("int")).as("fp_pos"))
      .distinct()
  }

  /** [[winnowingFingerprints]] semantics through the native one-pass
    * [[graft.plans.WinnowFingerprints]] expression: same chunking, same
    * output (property-tested equal to the declarative form), but the
    * per-gram hashing and sliding min run as one monotonic-deque pass
    * inside the expression — no gram explode, no window sort, and only
    * the ~2/(w+1)-density selections ever become rows. The declarative
    * window formulation above stays as the cross-checkable reference
    * (and the shape any engine without expression extension would run).
    */
  def winnowingFingerprintsNative(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, useMd5: Boolean = true,
      chunkChars: Int = 8192): DataFrame = {
    val minLen = k + w - 1
    val stride = chunkChars - (k + w - 2)
    require(stride >= 1, s"chunkChars ($chunkChars) must exceed k+w-2 (${k + w - 2})")
    df.select(col(idCol).as("doc_id"),
        lower(regexp_replace(col(textCol), "[^a-zA-Z0-9]+", "")).as("s"))
      .where(length(col("s")) >= minLen)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST(floor((length(s)-1) / $stride) AS INT)),
           c -> named_struct('off', c * $stride, 'cs', substring(s, c * $stride + 1, $chunkChars)))"""))
        .as("ch"))
      .select(col("doc_id"), explode(graft.plans.WinnowFingerprints.of(
        col("ch.cs"), col("ch.off"), k, w, useMd5)).as("fp"))
      .select(col("doc_id"), col("fp.fp_hash").as("fp_hash"),
        col("fp.fp_pos").as("fp_pos"))
      .distinct()
  }

  /** Content-defined chunking by the ASYMMETRIC-EXTREMUM rule (Zhang
    * et al.; see `d_cdc_chunks` for the full motivation): a cut lands
    * at position i when that character's 32-bit hash strictly exceeds
    * every hash in the preceding w=31 positions. Input needs
    * (doc_id, text); returns one row per chunk:
    * (doc_id, start, len, h = md5(chunk)).
    *
    * Production path is the native one-pass monotonic-deque expression
    * [[graft.plans.AeChunkBoundaries]]: the whole chunking happens
    * inside the scan stage — zero intermediate rows, no shuffle. The
    * declarative window-MAX formulation it bit-matches is kept as
    * [[aeChunksDeclarative]] (the oracle-shaped reference twin,
    * property-tested equal in AeChunkSpec).
    */
  def aeChunks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.plans.AeChunkBoundaries.of(col("text"))).as("c"))
      .select(col("doc_id"), col("c.start").as("start"),
        col("c.len").as("len"), col("c.h").as("h"))

  /** Declarative reference twin of [[aeChunks]] — the bounded-window
    * MAX formulation over an exploded (doc, pos, hash) keyspace. Kept
    * as the spec oracle for the native expression; the explode moves
    * ~16× the text bytes through a shuffle, which is why production
    * uses the native. Gear hash is inline md5-per-char — a broadcast
    * alphabet lookup was measured SLOWER (the distinct-alphabet build
    * re-pays the position explode, 8.6 s vs 4.2 s at sf0.1).
    */
  def aeChunksDeclarative(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    val chars = d
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")))).as("i"),
        expr("substring(text, i, 1)").as("ch"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(col("ch")), 1, 8), 16, 10).cast("long").as("g"))
    val wv = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(-31, -1)
    val bounds = chars
      .withColumn("pmax", max(col("g")).over(wv))
      .where(col("i") >= 32 && col("g") > coalesce(col("pmax"), lit(-1L)))
      .select(col("doc_id"), col("i"))
    val ends = bounds
      .union(d.select(col("doc_id"), length(col("text")).cast("int").as("i")))
      .distinct()
    val wl = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    ends
      .withColumn("start", coalesce(lag(col("i"), 1).over(wl), lit(0)) + 1)
      .where(col("i") >= col("start")) // doc-length row may equal a bound
      .join(d, Seq("doc_id"))
      .select(col("doc_id"), col("start"),
        (col("i") - col("start") + 1).cast("long").as("len"),
        md5(expr("substring(text, start, i - start + 1)")).as("h"))
  }

  /** As [[lshCandidates]] with a pluggable band-key hash (md5-of-concat
    * is the portable default; `xxhash64(cols: _*)` the fast path).
    */
  def lshCandidatesWith(sigs: DataFrame, bands: Int, rows: Int,
      keyFn: Seq[Column] => Column): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val key = keyFn((0 until rows).map(r => col(s"h${b * rows + r}")))
      struct(lit(b).as("band"), key.cast("string").as("bkey"))
    }
    val bandsDf = sigs.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bkey").as("bkey"))
    bandsDf.select(col("band"), col("bkey"), col("doc_id").as("a_id"))
      .join(bandsDf.select(col("band"), col("bkey"), col("doc_id").as("b_id")),
        Seq("band", "bkey"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }
}
