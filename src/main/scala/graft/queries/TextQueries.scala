package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** LLM-training-data pipeline operators over the `documents` table:
  * exact dedup, n-gram-Jaccard near-dup (inverted-index join), MinHash-LSH
  * and SimHash candidate generation with exact verification, language-ID
  * heuristic, quality scoring, token counting, document fingerprinting,
  * and the multimodal binary-column plumbing.
  *
  * Scale design: no all-pairs/cartesian shapes anywhere. The exact n-gram
  * dedup uses an inverted-index (shingle-equality) join; MinHash/SimHash
  * prune candidates to same-bucket pairs before the verify join. For the
  * approximate operators the DuckDB oracle re-verifies the *candidate
  * pairs* (written to a side parquet) exactly — the bucketing is
  * hash-function-specific, the verification math is engine-independent
  * (per VERDICT.md round-1 guidance).
  *
  * Choosing a dedup family (exact/URL/n-gram/PPJoin/MinHash/SimHash/
  * ExactSubstr/SemDeDup, what each catches, measured costs, and the
  * recommended pipeline order): see the dedup family decision table
  * in PLANS.md — the dedup twin of the ANN index table.
  */
object TextQueries {

  import CoreQueries.Q

  /** DuckDB twin of the codegen'd `word_shingles_distinct` expression
    * (same tokenization, same n-grams, same per-doc set semantics). */
  private def shinglesSqlCte(n: Int): String = {
    val parts = (0 until n)
      .map(o => s"string_split(text, ' ')[i + $o]").mkString(" || ' ' || ")
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(string_split(text, ' ')) >= $n THEN
       |      list_transform(range(1, len(string_split(text, ' ')) - ${n - 2}),
       |        i -> $parts)
       |    ELSE CAST([] AS VARCHAR[]) END)) AS s
       |  FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** Distinct (doc_id, shingle) inverted-index relation. Set semantics
    * come from a shuffle distinct on the exploded rows — cheaper and
    * scale-friendlier than per-row array_distinct/array_intersect, which
    * are quadratic in shingle count per document. Persisted because the
    * dedup pipelines scan it several times (signatures + sizes + both
    * sides of the verify join); callers must go through
    * [[withShingleIndex]] so the cache is dropped when the pipeline is
    * done — a long-lived session must not accumulate executor memory
    * per dedup run. */
  private def shingleIndexOf(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      // Set semantics per document BEFORE the explode: the codegen'd
      // word_shingles_distinct builds + dedups each row's shingles in
      // one JIT-compiled pass (linear, map-side, no exchange) — both
      // cheaper than the interpreted transform-lambda + array_distinct
      // pair and infinitely cheaper than a global distinct() that would
      // shuffle the full exploded index — the largest relation in every
      // dedup pipeline.
      .select(col("doc_id"),
        explode(expr(s"word_shingles_distinct(tk, $n)")).as("s"))
      .persist()
  }

  /** Scoped-cache harness for the dedup pipelines: builds the persisted
    * shingle index, runs `body`, materializes its (small) result to
    * `resultPath`, unpersists the index, and returns the materialized
    * result. Eager materialization is what makes the unpersist safe —
    * a lazily returned plan would silently recompute the index per
    * downstream scan. Callers re-apply their ORDER BY after read-back
    * (a parallel parquet read does not preserve global order). */
  private def withShingleIndex(s: SparkSession, docs: DataFrame, n: Int,
      resultPath: String)(body: DataFrame => DataFrame): DataFrame = {
    val idx = shingleIndexOf(docs, n)
    // Populate the cache in one deliberate pass BEFORE the pipeline
    // fans out: the verify join scans the index from three sides whose
    // shuffle-map stages are independent — scheduled concurrently
    // against a cold cache, each would recompute the tokenize/explode
    // lineage instead of hitting it.
    idx.count()
    // Blocking: the cache-drop is billed to THIS pipeline, instead of
    // landing as an async block-removal storm on whatever query runs
    // next in the session.
    try body(idx).write.mode("overwrite").parquet(resultPath)
    finally idx.unpersist(blocking = true)
    s.read.parquet(resultPath)
  }

  /** Per-doc distinct-shingle-set size as a pure row function —
    * size(word_shingles_distinct(tk, n)) over the docs scan. Aggregating
    * the exploded inverted index for the same number costs a full
    * partial+final exchange of the LARGEST relation in the pipeline;
    * this is a map-only pass over the (much smaller) document rows. */
  private def sizesOf(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        size(expr(s"word_shingles_distinct(tk, $n)")).cast("long").as("n"))
  }

  /** Exact Jaccard over (doc_a, doc_b) pairs given their shingle-set
    * intersection size; keeps pairs with jaccard >= threshold. `sizes`
    * = (doc_id, n distinct shingles), from [[sizesOf]]. */
  private def jaccardFilter(pairsWithInter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val na = sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))
    val nb = sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))
    pairsWithInter.join(na, "doc_a").join(nb, "doc_b")
      .withColumn("jacraw",
        col("inter") * 1.0 / (col("na") + col("nb") - col("inter")))
      // Threshold on the raw ratio (as the oracle does); round only in
      // the projection.
      .filter(col("jacraw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jacraw"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Relational intersection counts for an explicit candidate-pair set:
    * cand ⋈ index(doc_a) ⋈ index(doc_b, same shingle) → count. */
  private def interFor(cand: DataFrame, idx: DataFrame): DataFrame = {
    val a = idx.select(col("doc_id").as("doc_a"), col("s"))
    val b = idx.select(col("doc_id").as("doc_b"), col("s"))
    cand.join(a, "doc_a").join(b, Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
  }

  /** Oracle twin of verifyPairs over a candidate parquet side-file. */
  private def verifySql(candPath: String, threshold: Double,
      n: Int = 3): String =
    s"""WITH cand AS (SELECT DISTINCT doc_a, doc_b
       |  FROM read_parquet('$candPath/*.parquet')),
       |${shinglesSqlCte(n)},
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  round(i.inter * 1.0 / (sa.n + sb.n - i.inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- MinHash-LSH: 32 hashes, 16 bands x 2 rows ----------------------
  private val numHashes = 32
  private val bandRows = 2
  private val numBands = numHashes / bandRows

  /** Per-document (doc_id, shingle-set array) — the map-only input the
    * sketch signatures are computed from. */
  private def docShingles(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), expr(s"word_shingles_distinct(tk, $n)").as("sh"))
  }

  /** Same-bucket candidate pairs from per-band bucket values: the LSH
    * prune that avoids all-pairs. Only (doc_id, band, bucket) rows —
    * ~24 B each — reach the exchange. */
  private def bandedPairs(bands: DataFrame): DataFrame = {
    val l = bands.select(col("doc_id").as("doc_a"), col("b"), col("v"))
    val r = bands.select(col("doc_id").as("doc_b"), col("b"), col("v"))
    l.join(r, Seq("b", "v")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash signatures via the codegen'd minhash_sig expression — a
    * pure map over each document row (round 2 shuffled the exploded
    * shingle index into a typed Aggregator to rebuild exactly this
    * per-document state; the signature is a function of the row). */
  /** (doc_id, b, v) banded-bucket relation of the MinHash signatures —
    * the map-only LSH fingerprint a near-dup index persists. */
  private def minhashBands(docs: DataFrame): DataFrame = {
    val sigs = docShingles(docs, 3)
      .select(col("doc_id"), expr("minhash_sig(sh)").as("sig"))
    val bandStructs = (0 until numBands).map { j =>
      struct(lit(j).as("b"),
        hash(col("sig").getItem(bandRows * j),
          col("sig").getItem(bandRows * j + 1)).as("v"))
    }
    sigs.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.v").as("v"))
  }

  private[graft] def minhashCandidates(docs: DataFrame): DataFrame =
    bandedPairs(minhashBands(docs))

  /** The incremental candidate join (batch bands ⋈ persisted band
    * index). Exposed as a probe so PlanQualitySpec can assert the base
    * side enters as a parquet SCAN of the index — exactly one
    * minhash_sig pass in the whole plan (the new batch), never a
    * re-signature of the accumulated corpus. */
  private[graft] def incMinhashCandidateProbe(s: SparkSession, d: String): DataFrame = {
    val baseBands = s.read.parquet(ensureBandIndex(s, d))
      .select(col("doc_id").as("doc_a"), col("b"), col("v"))
    minhashBands(t(s, d, "documents").filter(col("doc_id") % 4 === 3))
      .select(col("doc_id").as("doc_b"), col("b"), col("v"))
      .join(baseBands, Seq("b", "v"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Build-once persisted MinHash band index of the "previous
    * snapshot" (doc_id % 4 <> 3) — the NEAR-dup twin of
    * ensureDigestIndex's exact-digest table: (doc_id, b, v) LSH
    * buckets, the artifact a continuously-ingesting pipeline carries
    * across syncs so new batches can be near-dup-checked without
    * re-signaturing the accumulated corpus. */
  private def ensureBandIndex(s: SparkSession, d: String): String = {
    val dir = s"${graft.Tables.scratchRoot}/graft_bandidx_${graft.Tables.dirTag(d)}_v1"
    // Freshness keys on the source fingerprint (per-file size+mtime)
    // plus every signature parameter — not a bare mtime comparison
    // (r8 ADVICE: a same-tick regeneration changes size, and a
    // band/hash-count or predicate change must invalidate the index).
    // Limit: a same-SIZE timestamp-preserving content swap is still
    // invisible — detecting that needs a content hash, which would
    // cost a full source read per freshness check.
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(d, "documents.parquet")),
      s"minhash:$numHashes:$numBands:$bandRows:shingle3:base_mod4ne3")
    graft.Tables.ensureDerived(dir, fp) {
      minhashBands(t(s, d, "documents").filter(col("doc_id") % 4 =!= 3))
        .write.mode("overwrite").parquet(dir)
    }
  }

  // ---- SimHash: 64-bit signature over distinct 3-gram shingles,
  // 4x16-bit bands. Shingles, not raw tokens: with a small vocabulary
  // every document contains nearly every token, so token-feature
  // signatures collapse into one bucket; shingle sets stay distinctive.
  //
  // Candidate generation is the shared sorted-neighborhood scan over
  // the 64-bit signatures (simhashNeighborCandidates below): the fixed
  // 16-bit band width has an intrinsic RANDOM-collision floor
  // (unrelated signatures agree on one band with p = 4/2^16, so raw
  // same-bucket pairs grow as ~N^2/2^14 regardless of skew — the 100x
  // soak measured 8.3M candidates of which ~2k were real), and the
  // Hamming pre-verify on the full signature kills those random
  // collisions (P[hamming <= 16 | random] ~ 1e-5) before the shingle
  // verify; true near-dups at the 0.7 jaccard bar sit well inside 16
  // differing bits.
  private[graft] def simhashCandidates(docs: DataFrame): DataFrame =
    simhashNeighborCandidates(docShingles(docs, 3)
      .select(col("doc_id"), expr("simhash_sig(sh)").as("sig")))

  // ---- Multimodal perceptual near-dup: byte-level fuzzy fingerprint.
  // The binary-column twin of q_dedup_simhash: images/audio near-dup
  // on CONTENT, not just the exact digest. With no media libs in the
  // environment the codec boundary is the documented deterministic
  // stub (graft.multimodal), so the signature here is computed over
  // the raw payload's byte 4-grams — the ssdeep/TLSH family of fuzzy
  // hashing, which is exactly what a binary-blob pipeline runs BEFORE
  // any decode (codec-independent, works on any payload). A real
  // image pipeline swaps the shingle source for decoded-pixel
  // features (pHash DCT coefficients) at the Multimodal.decode
  // boundary; every plan shape downstream — signature map, band
  // explode, bucket join, Hamming pre-verify, exact verify — is
  // unchanged by that swap.
  //
  // Byte 4-grams ride as 8-hex-char strings via the codegen'd
  // byte_shingles_distinct expression (one JIT loop per payload — the
  // substr-over-hex SQL formulation is an interpreted per-shingle
  // lambda that dominated executor profiles under the 10x soak, and
  // its hex-position sweep also produced half-byte-aligned shingles;
  // this one is byte-aligned, the ssdeep/TLSH convention).

  /** (doc_id, payload) binary view; payloads under 4 bytes have no
    * 4-gram and drop out. */
  private def payloadOf(docs: DataFrame): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .filter(length(col("payload")) >= 4)
  }

  private val byteShingleExpr = "byte_shingles_distinct(payload, 4)"

  /** Exploded distinct byte-4-gram inverted index (verify side). */
  private def byteShingleIndex(docs: DataFrame): DataFrame =
    payloadOf(docs)
      .select(col("doc_id"), explode(expr(byteShingleExpr)).as("s"))

  /** Per-payload distinct byte-shingle-set size — map-only, same
    * rationale as sizesOf. */
  private def byteSizes(docs: DataFrame): DataFrame =
    payloadOf(docs).select(col("doc_id"),
      size(expr(byteShingleExpr)).cast("long").as("n"))

  /** Sorted-neighborhood candidate generation over 64-bit simhash
    * signatures (Manku et al.'s permuted-prefix scan), shared by the
    * word-shingle (q_dedup_simhash) and byte-shingle
    * (q_multimodal_neardup) pipelines: within each 16-bit band bucket,
    * members sort by the signature ROTATED so the bucket's band
    * occupies the top bits (numerically-close remainders — i.e.
    * small-Hamming neighbors — cluster adjacently; the top bits are
    * constant within the bucket, so the signed sort is the unsigned
    * one), and each member pairs with only its next `NeighborWindow`
    * neighbors in that order. Per-bucket work is size×W, NOT size² —
    * the earlier capped all-pairs form measured 1.3-1.5x per-row
    * under bucket skew at the 10x soak; this form is linear in N with
    * no cap-truncation recall cliff (every member keeps W
    * similarity-ordered neighbors). Buckets no larger than W+1 are
    * paired exhaustively, so at the oracle SFs (single-digit
    * occupancy) the candidate set is identical to the
    * all-pairs-in-bucket form. The signature rides the band rows, so
    * the Hamming pre-verify (<=16) needs no sig re-join. */
  private val NeighborWindow = 16

  private[graft] def simhashNeighborCandidates(sigs: DataFrame): DataFrame = {
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("b"),
        expr(s"(sig >> ${16 * c}) & 65535").as("v"))
    }
    val bands = sigs
      .select(col("doc_id"), col("sig"), explode(array(chunks: _*)).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.b").as("b"), col("band.v").as("v"))
      // rotl(sig, 48 - 16b): band b becomes the (constant-in-bucket)
      // top 16 bits; the remaining 48 sort the bucket.
      .withColumn("key",
        expr("(sig << (48 - 16 * b)) | (sig >>> (16 + 16 * b))"))
    val w = Window.partitionBy("b", "v").orderBy("key", "doc_id")
    val ranked = bands.withColumn("rn", row_number().over(w))
    val probes = ranked.select(
      col("doc_id").as("id_l"), col("sig").as("sig_l"),
      col("b"), col("v"),
      explode(sequence(col("rn") + 1, col("rn") + NeighborWindow)).as("rn"))
    probes
      .join(ranked.select(col("doc_id").as("id_r"), col("sig").as("sig_r"),
        col("b"), col("v"), col("rn")), Seq("b", "v", "rn"))
      .filter(expr("bit_count(sig_l ^ sig_r) <= 16"))
      .select(least(col("id_l"), col("id_r")).as("doc_a"),
        greatest(col("id_l"), col("id_r")).as("doc_b"))
      .distinct()
  }

  private[graft] def multimodalNeardupCandidates(docs: DataFrame): DataFrame =
    simhashNeighborCandidates(payloadOf(docs)
      .select(col("doc_id"), expr(s"simhash_sig($byteShingleExpr)").as("sig")))

  /** Unmaterialized eval-suite-scale decontamination plan (shared by
    * the gate query and PlanQualitySpec's two-regime gate). Bench =
    * doc_id % 3 == 0 (an eval-suite-sized THIRD of the corpus — the
    * slice that outgrows a broadcast at scale); corpus = the rest. */
  private[graft] def decontaminateLargePlan(s: SparkSession,
      d: String): DataFrame = {
    val docs = t(s, d, "documents")
    graft.functions.SketchFunctions.register(s)
    def sh(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        explode(expr("word_shingles_distinct(tk, 5)")).as("s"))
    val bench = sh(docs.filter(col("doc_id") % 3 === 0))
      .select("s").distinct()
    // Bounded scalar: est derived from the bench side, bits clamped to
    // 2^26 — the filter stays a literal even when the relation cannot
    // be broadcast.
    val bloomBytes = graft.queries.ExtraQueries.bloomFilterFor(bench, "s")
    val corpusSh = sh(docs.filter(col("doc_id") % 3 =!= 0))
      .filter(call_function("bloom_might_contain",
        lit(bloomBytes), xxhash64(col("s"))))
    // No broadcast hint: the size-based planner owns the join strategy.
    val contaminated = corpusSh.join(bench, "s")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") % 3 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
  }

  /** The full unmaterialized near-dup pipeline over an arbitrary
    * (doc_id, text-as-payload) frame — shared by the gate query, the
    * plan probe, and MultimodalSpec's semantic tests. */
  private[graft] def multimodalNeardupOn(docs: DataFrame,
      threshold: Double): DataFrame =
    jaccardFilter(
      interFor(multimodalNeardupCandidates(docs), byteShingleIndex(docs)),
      byteSizes(docs), threshold)

  /** The multimodal near-dup derivation shared by q_multimodal_neardup
    * and q_multimodal_cluster: write THE candidate side-file (one path,
    * one derivation — the oracle of both gates re-verifies exactly this
    * set), restrict the byte-shingle verify index to in-play docs, and
    * persist the verified pairs under the derived-artifact protocol
    * (content-fingerprint build-once) — the TWO gates that consume
    * this pipeline then cost ONE signature+verify pass per fixture
    * generation, not one each (bench: the cluster gate rode a full
    * duplicate pass at ~3 s before this). See q_multimodal_neardup's
    * entry comment for why candidates materialize first. */
  private def verifiedBytePairs(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Tables.dirTag(d)
    val resPath = s"${graft.Tables.scratchRoot}/graft_res_mmnear_$tag"
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(d, "documents.parquet")),
      "mmnear:bytegram4_simband_w16_j0.8_v1")
    // Candidates live INSIDE the fingerprinted dir: they share its
    // build-once fate, so a /tmp sweep can never strand the oracle's
    // candidate read while the pair result survives (or vice versa).
    graft.Tables.ensureDerived(resPath, fp) {
      // Fresh dir per (re)build — a stale generation's files must not
      // coexist with the new layout.
      graft.sink.SnapshotSwap.rm(java.nio.file.Paths.get(resPath))
      val docs = t(s, d, "documents")
      multimodalNeardupCandidates(docs)
        .write.mode("overwrite").parquet(s"$resPath/cand")
      val cand = s.read.parquet(s"$resPath/cand")
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      val inPlay = docs.join(candDocs, Seq("doc_id"), "left_semi")
      jaccardFilter(interFor(cand, byteShingleIndex(inPlay)),
        byteSizes(inPlay), 0.8)
        .write.mode("overwrite").parquet(s"$resPath/pairs")
    }
    s.read.parquet(s"$resPath/pairs")
  }

  /** Oracle twin of the byte-shingle verify over the candidate
    * side-file (byte-4-gram analogue of verifySql). */
  private def byteVerifyCtes(candPath: String): String =
    s"""cand AS (SELECT DISTINCT doc_a, doc_b
       |  FROM read_parquet('$candPath/*.parquet')),
       |hx AS (SELECT doc_id, upper(hex(encode(text))) AS h
       |  FROM documents WHERE octet_length(encode(text)) >= 4),
       |sh AS (SELECT DISTINCT doc_id, substr(h, CAST(i AS INT), 8) AS s
       |  FROM (SELECT doc_id, h,
       |    unnest(generate_series(1, length(h) - 7, 2)) AS i FROM hx)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY 1, 2)""".stripMargin

  private def byteVerifySql(candPath: String, threshold: Double): String =
    "WITH " + byteVerifyCtes(candPath) + s"""
       |SELECT i.doc_a, i.doc_b,
       |  round(i.inter * 1.0 / (sa.n + sb.n - i.inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle twin of q_multimodal_cluster: the byteVerifySql derivation
    * (same candidate side-file) continued into min-label connected
    * components over the verified pair graph via a recursive
    * reachability walk — the dedup_cluster oracle's CC tail on the
    * byte-gram pair set. */
  private def byteClusterSql(candPath: String, threshold: Double): String =
    "WITH RECURSIVE " + byteVerifyCtes(candPath) + s""",
       |dup AS (
       |  SELECT i.doc_a, i.doc_b FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= $threshold),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
       |      UNION SELECT doc_b, doc_a FROM dup),
       |r AS (SELECT a AS id, a AS m FROM e
       |      UNION
       |      SELECT r.id, e.b FROM r JOIN e ON e.a = r.m)
       |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
       |FROM r GROUP BY id ORDER BY doc_id""".stripMargin

  /** Persist candidates for the oracle's verify-only pass, then verify.
    * The side-file exists solely so the DuckDB oracle can re-verify the
    * EXACT candidate set Spark generated — the driver only reads it at
    * the verify SF, so at any other scale the (pure, lazy, cache-free)
    * candidate plan feeds the verify join directly with no parquet
    * round-trip. */
  private def candidateVerify(s: SparkSession, d: String, cand: DataFrame,
      idx: DataFrame, sizes: DataFrame, path: String,
      threshold: Double): DataFrame = {
    val persisted =
      if (graft.Tables.dirTag(d) ==
          graft.Tables.dirTag(graft.Tables.VerifySfDir)) {
        cand.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      } else cand
    jaccardFilter(interFor(persisted, idx), sizes, threshold)
  }

  /** Unmaterialized pipeline plans for plan-quality inspection (the
    * gate queries materialize eagerly inside withShingleIndex, so their
    * returned plan is just the result-file scan). Not part of the
    * driver contract. */
  private[graft] def planProbe(s: SparkSession, d: String,
      which: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val idx = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        explode(expr(
          s"word_shingles_distinct(tk, ${if (which == "ngram") 5 else 3})")).as("s"))
    which match {
      case "ngram" =>
        val a = idx.select(col("doc_id").as("doc_a"), col("s"))
        val b = idx.select(col("doc_id").as("doc_b"), col("s"))
        val pairs = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        jaccardFilter(pairs, sizesOf(t(s, d, "documents"), 5), 0.5)
      case "minhash" => jaccardFilter(
        interFor(minhashCandidates(t(s, d, "documents")), idx),
        sizesOf(t(s, d, "documents"), 3), 0.7)
      case "simhash" => jaccardFilter(
        interFor(simhashCandidates(t(s, d, "documents")), idx),
        sizesOf(t(s, d, "documents"), 3), 0.7)
      case "contain" =>
        val a = idx.select(col("doc_id").as("doc_a"), col("s"))
        val b = idx.select(col("doc_id").as("doc_b"), col("s"))
        val pairs = a.join(b, Seq("s")).filter(col("doc_a") =!= col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        containmentFilter(pairs, sizesOf(t(s, d, "documents"), 5), 7)
      case "mmnear" => multimodalNeardupOn(t(s, d, "documents"), 0.8)
      case "exact" => entriesExactPlan(s, d)
    }
  }

  /** Directional containment C(a in b) = |Sa ∩ Sb| / |Sa| over
    * (doc_a, doc_b) pairs with their intersection counts: keeps pairs
    * where containment >= thresholdTenths/10 and |Sa| >= 10. The
    * threshold compare is exact integer cross-multiplication, so every
    * engine agrees bit-for-bit; the ratio rounds only in the
    * projection. */
  private def containmentFilter(pairsWithInter: DataFrame, sizes: DataFrame,
      thresholdTenths: Int): DataFrame = {
    val na = sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))
    pairsWithInter.join(na, "doc_a")
      .filter(col("na") >= 10 &&
        col("inter") * 10 >= col("na") * thresholdTenths)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") * 1.0 / col("na"), 6).as("containment"))
  }

  /** Build-once persisted digest index of the "previous snapshot"
    * (doc_id % 4 <> 3) — the fingerprint table a continuously-ingesting
    * pipeline carries across syncs (the reference's whole sync model is
    * repeated snapshot refresh, reference: sql.py:129-159). Rebuilt only
    * when the fixture is newer than the dump (same freshness protocol
    * as StreamQueries.ensureStreamDump); the gated incremental query
    * only ever READS it. */
  private[queries] def ensureDigestIndex(s: SparkSession, d: String): String = {
    val dir = s"${graft.Tables.scratchRoot}/graft_digidx_${graft.Tables.dirTag(d)}_v1"
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(d, "documents.parquet")),
      "sha256:base_mod4ne3")
    graft.Tables.ensureDerived(dir, fp) {
      t(s, d, "documents").filter(col("doc_id") % 4 =!= 3)
        .select(sha2(col("text"), 256).as("digest")).distinct()
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** The fold itself (exposed for PlanQualitySpec): base index scan ∪
    * acceptance-dir scans → distinct. No document scan anywhere. */
  private[graft] def indexCompactPlan(s: SparkSession, d: String,
      root: String): DataFrame =
    s.read.parquet(ensureDigestIndex(s, d)).select("digest")
      .unionByName(s.read.parquet(s"$root/idx").select("digest"))
      .distinct()

  /** Incremental cross-snapshot dedup: dedup a NEW batch (doc_id % 4 =
    * 3) against the previous snapshot's persisted digest index without
    * rescanning the accumulated corpus. The batch collapses map-side on
    * its 32-byte digest (the q_dedup_exact shape), then a LEFT ANTI
    * join against the index drops everything the corpus has already
    * seen; survivors are the rows an append-only sync would land. At
    * 100 TB the index side outgrows a broadcast and the anti-join flips
    * to SMJ on the digest — the same size-based-planner posture as the
    * relational family — while the accumulated corpus itself is never
    * read. Invariant (EdgeCasesSpec): |dedup(base ∪ batch)| =
    * |dedup(base)| + |accepted|. */
  private[graft] def incrementalDedupPlan(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(ensureDigestIndex(s, d))
    val batch = t(s, d, "documents").filter(col("doc_id") % 4 === 3)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    batch.join(idx, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Shared retrieval workload — the query relation q_text_bm25_multi
    * scores and q_rank_fusion's lexical leg consumes (query 1 is the
    * original q_text_bm25 term set). In production this is a TABLE
    * (thousands of queries); here it is a literal broadcast relation,
    * which is exactly how a query workload joins at any corpus scale —
    * the corpus side is the big side, the workload broadcasts. */
  private[graft] val RetrievalQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("vector", "stream", "merge"),
    2 -> Seq("join", "hash", "window"),
    3 -> Seq("scan", "filter", "sort"))

  private def entriesExactPlan(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(sha2(col("text"), 256).as("fp"))
      .agg(min("doc_id").as("doc_id"), first("text").as("text"),
        count(lit(1)).as("n_copies"))
      .select("doc_id", "text", "n_copies")
      .orderBy("doc_id")

  private val stopEn = Seq("the", "and", "of", "to", "a", "in", "is")
  private val stopDe = Seq("der", "die", "und", "das", "ist", "nicht")
  private val stopEs = Seq("el", "la", "de", "y", "que", "los")

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Bind lang_hits/rep_stats (graft.functions.TextStats) for this
    * session — the codegen'd one-pass replacements for the interpreted
    * higher-order stopword/repetition lambdas. */
  private def registerTextStats(s: SparkSession): Unit =
    graft.functions.TextStatFunctions.register(s, Seq(stopEn, stopDe, stopEs))

  /** BPE tokenizer training (q_bpe_train): learn `iters` merge rules
    * over the corpus word HISTOGRAM — the property that makes BPE
    * trainable at 100 TB at all: the corpus is scanned exactly once
    * (the wordcount shuffle); every later pass runs over the
    * distinct-word relation (vocabulary-sized — millions of rows when
    * the corpus is billions), so per-iteration cost tracks the vocab,
    * not the data. Each iteration is (a) adjacent-pair counting — a
    * map-side explode of symbol pairs weighted by word count into a
    * partial+final sum — (b) a one-row argmax with a total tie-break
    * (count desc, then pair lexicographic), and (c) the merge applied
    * to every word as a left-to-right greedy fold over its symbol
    * list (the textbook BPE apply), broadcast-joined as a one-row rule
    * relation — map-only over the vocab. The vocab state is
    * localCheckpointed per iteration (Pregel posture, see sssp):
    * both next-iteration consumers re-embed its lineage. */
  /** The word histogram with each word exploded to space-joined
    * character symbols — BPE's initial state. */
  private[graft] def bpeVocab(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .withColumn("sym", array_join(split(col("word"), ""), " "))

  /** Adjacent-pair counts weighted by word count: a map-side explode
    * of (symbol, next-symbol) structs into a partial+final sum —
    * vocab-sized, one hash exchange on the pair key (plan-gated). */
  private[graft] def bpePairs(vocab: DataFrame): DataFrame =
    vocab
      .select(col("wc"), explode(expr(
        """zip_with(slice(split(sym, ' '), 1, size(split(sym, ' ')) - 1),
          |         slice(split(sym, ' '), 2, size(split(sym, ' ')) - 1),
          |         (a, b) -> named_struct('l', a, 'r', b))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("wc").as("cnt"))

  /** The left-to-right greedy merge fold (textbook BPE apply),
    * expecting rule columns `l`/`r` in scope alongside `sym`. */
  private[graft] val BpeFoldSql: String =
    """aggregate(split(sym, ' '), '', (acc, x) ->
      |  CASE WHEN acc = '' THEN x
      |       WHEN x = r AND acc = l THEN concat(l, r)
      |       WHEN x = r AND endswith(acc, concat(' ', l))
      |         THEN concat(left(acc, length(acc) - length(l) - 1),
      |                     ' ', l, r)
      |       ELSE concat(acc, ' ', x) END)""".stripMargin

  /** DuckDB oracle CTE chain replaying `iters` BPE training rounds:
    * w (word histogram) → s1 (char symbols) → [pK (pair counts) → rK
    * (argmax rule) → s(K+1) (rule applied)]*. Shared by the train and
    * encode oracles so the two stay bit-for-bit on one derivation. */
  private[graft] def bpeOracleCtes(iters: Int): String = {
    def pairSql(src: String): String =
      s"""(SELECT p[1] AS l, p[2] AS r, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, unnest(list_zip(sl, sl[2:])) AS p
         |        FROM (SELECT wc, string_split(sym, ' ') AS sl FROM $src))
         |  WHERE p[2] IS NOT NULL GROUP BY 1, 2)""".stripMargin
    def applySql(src: String, rule: String): String =
      s"""(SELECT word, wc,
         |  list_reduce(string_split(sym, ' '), (acc, x) ->
         |    CASE WHEN x = $rule.r AND acc = $rule.l
         |           THEN $rule.l || $rule.r
         |         WHEN x = $rule.r AND ends_with(acc, ' ' || $rule.l)
         |           THEN left(acc, length(acc) - length($rule.l) - 1)
         |                || ' ' || $rule.l || $rule.r
         |         ELSE acc || ' ' || x END) AS sym
         |  FROM $src, $rule)""".stripMargin
    val head =
      """WITH w AS (
        |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE regexp_matches(tok, '^[a-z]+$') GROUP BY tok),
        |s1 AS (SELECT word, wc,
        |  list_reduce(string_split(word, ''),
        |    (a, b) -> a || ' ' || b) AS sym FROM w)""".stripMargin
    // NOTE: no stripMargin here — the interpolated fragments contain
    // SQL `||` operators that a second margin strip would truncate.
    val rounds = (1 to iters).map { k =>
      s"p$k AS ${pairSql(s"s$k")},\n" +
        s"r$k AS (SELECT l, r, cnt FROM p$k " +
        "ORDER BY cnt DESC, l, r LIMIT 1),\n" +
        s"s${k + 1} AS ${applySql(s"s$k", s"r$k")}"
    }
    (head +: rounds).mkString(",\n")
  }

  /** Apply a one-row merge-rule relation to every vocab word: the rule
    * broadcasts, the fold is map-only — no vocab shuffle (plan-gated). */
  private[graft] def bpeApply(vocab: DataFrame, rule: DataFrame): DataFrame =
    vocab.crossJoin(broadcast(rule.select("l", "r")))
      .withColumn("sym", expr(BpeFoldSql))
      .select("word", "wc", "sym")

  private[graft] def bpeTrain(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    var vocab = bpeVocab(s, d).localCheckpoint()
    val rules = (1 to iters).map { i =>
      val best = bpePairs(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).localCheckpoint()
      vocab = bpeApply(vocab, best).localCheckpoint()
      best.select(lit(i).as("iter"), col("l"), col("r"), col("cnt"))
    }
    rules.reduce(_.unionByName(_)).orderBy("iter")
  }

  /** Per-doc PII span projection shared by q_text_pii_scrub and its
    * streaming twin: deterministic ground-truth injection (doc_id % 7
    * docs get an email + a digit run derived from doc_id — the same
    * arithmetic in both engines) followed by the two regex passes.
    * Patterns stay in the Java∩RE2 common subset so Spark and DuckDB
    * match identical spans; email scrub precedes digit scrub in BOTH
    * engines so a digit run inside a masked email never double-counts
    * in redacted chars (span COUNTS are taken on the pre-scrub text in
    * both — same text, same pattern, same count). */
  private[graft] def piiSpans(docs: DataFrame): DataFrame = {
    val email = "[a-z0-9.]+@[a-z0-9]+[.][a-z]+"
    val digits = "[0-9]{7,}"
    val injected = docs.select(col("source"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example ph "),
          (col("doc_id") * 9973L + 1000000007L).cast("string")))
        .otherwise(col("text")).as("text"))
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), email, ""), digits, "")
    injected.select(col("source"),
      expr(s"regexp_count(text, '$email')").as("emails"),
      expr(s"regexp_count(text, '$digits')").as("phones"),
      (length(col("text")) - length(scrubbed)).as("redacted"))
  }

  /** The per-source census over [[piiSpans]] rows — every column a
    * SUM, so per-batch partials fold exactly (the streaming twin's
    * algebra). */
  private[graft] def piiCensus(spans: DataFrame): DataFrame =
    spans.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("emails") + col("phones") > 0, 1L)
          .otherwise(0L)).as("docs_flagged"),
        sum(col("emails").cast("long")).as("n_emails"),
        sum(col("phones").cast("long")).as("n_digit_runs"),
        sum(col("redacted").cast("long")).as("chars_redacted"))
      .orderBy("source")

  /** Per-doc average unigram NLL (integer 1e-6 units) — the
    * PRE-checkpoint score relation of q_text_ccnet, exposed so
    * PlanQualitySpec can pin its two honest corpus passes (vocab count
    * fold + scoring join) before localCheckpoint hides the lineage.
    * Add-one smoothing over the corpus vocabulary; the vocab-sized lp
    * relation joins back by token (AQE broadcasts it when small, a tok
    * exchange otherwise — the q_text_tfidf shape). */
  private[graft] def ccnetScores(s: SparkSession, d: String): DataFrame = {
    val tk = t(s, d, "documents").select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    // Checkpoint the vocab-count relation ONCE: the eager (n, v)
    // totals pass and the lp derivation both read the materialized
    // counts, so the corpus is tokenized exactly twice at execution
    // (count fold here + the scoring re-stream below) — without this
    // the totals head() re-ran the full tokenize+count a third time.
    val c = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val nv = c.agg(sum("cnt"), count(lit(1))).head()
    val (n, v) = (nv.getLong(0), nv.getLong(1))
    val lp = c.select(col("tok"), expr(
      s"""CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0)
         |  / (CAST(${n}L AS DOUBLE) + CAST(${v}L AS DOUBLE)))
         |  * -1000000.0) AS BIGINT)""".stripMargin).as("nll_e6"))
    tk.join(lp, "tok")
      .groupBy("doc_id", "lang")
      .agg(expr("sum(nll_e6) div count(1)").as("nll"))
  }

  /** The planted raw URL for doc_id (fixture augmentation shared by
    * q_dedup_url and q_stream_url — the documents table has no URL
    * column, so both engines derive one from the same arithmetic:
    * case noise, ports, shuffled params, session ids and fragments
    * vary WITHIN a canonical identity). */
  private[graft] def plantedUrl(doc: Column): Column = concat(
    when(doc % 2 === 0, lit("HTTP")).otherwise(lit("https")),
    lit("://"),
    lit("WWW.Site"), (doc % 5).cast("string"), lit(".Example.COM"),
    when(doc % 3 === 0, lit(":80")).otherwise(lit("")),
    lit("/Articles/item"), (doc % 4).cast("string"),
    when(doc % 2 === 1, lit("/")).otherwise(lit("")),
    lit("?"),
    when(doc % 2 === 0,
      concat(lit("utm_source=feed&id="), (doc % 3).cast("string"),
        lit("&sess="), (doc % 11).cast("string")))
      .otherwise(concat(lit("id="), (doc % 3).cast("string"),
        lit("&utm_campaign=mail"))),
    when(doc % 4 === 0, concat(lit("#v"), (doc % 7).cast("string")))
      .otherwise(lit("")))

  /** Shared oracle of q_dedup_url and q_stream_url (the streamed
    * canonical-group fold must equal the batch census exactly). */
  private[graft] val UrlOracle: String =
    """WITH d AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |    || '://' ||
        |    'WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END) ||
        |    '/Articles/item' || CAST(doc_id % 4 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
        |    '?' ||
        |    (CASE WHEN doc_id % 2 = 0
        |       THEN 'utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR)
        |            || '&sess=' || CAST(doc_id % 11 AS VARCHAR)
        |       ELSE 'id=' || CAST(doc_id % 3 AS VARCHAR)
        |            || '&utm_campaign=mail' END) ||
        |    (CASE WHEN doc_id % 4 = 0
        |       THEN '#v' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END)
        |    AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1))
        |      AS hostport,
        |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM d),
        |c AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
        |         THEN substr(hostport, 1, length(hostport) - 3)
        |         ELSE hostport END AS host,
        |    CASE WHEN path <> '/' AND path LIKE '%/'
        |         THEN substr(path, 1, length(path) - 1) ELSE path END
        |      AS cpath,
        |    array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'sess=')
        |                OR x = ''))),
        |      '&') AS cq
        |  FROM p)
        |SELECT scheme || '://' || host || cpath ||
        |    (CASE WHEN cq = '' THEN '' ELSE '?' || cq END)
        |    AS canonical_url,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Generic URL canonicalizer (the q_dedup_url operator proper,
    * exposed for the gate AND UrlCanonPropSpec's laws: idempotence,
    * param-order/case/fragment/tracking-param invariance). Row-local
    * codegen-eligible string surgery on the URL grammar: lowercase
    * scheme+host, strip the default :80 port (http only), drop the
    * fragment, drop tracking params (utm_*, sess), byte-sort surviving
    * params, strip the trailing slash. */
  private[graft] def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[a-zA-Z]+://([^/?#]+)", 1))
    val path = regexp_extract(url, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    // startsWith, not LIKE 'utm_%': '_' is a single-char LIKE
    // wildcard, so the LIKE form would also strip utmX=... params.
    val cq = array_join(sort_array(filter(split(query, "&"),
      x => !(x.startsWith("utm_") || x.startsWith("sess=") ||
        (x === "")))), "&")
    concat(scheme, lit("://"),
      when(scheme === "http" && hostport.endsWith(":80"),
        hostport.substr(lit(1), length(hostport) - 3)).otherwise(hostport),
      when(path =!= "/" && path.endsWith("/"),
        path.substr(lit(1), length(path) - 1)).otherwise(path),
      when(cq === "", lit("")).otherwise(concat(lit("?"), cq)))
  }

  /** The one-row (n, d1, d2, d3) first-fail ledger of a document
    * relation — q_filter_cascade's aggregate and q_stream_cascade's
    * per-batch partial: three row-local integer signals (token count,
    * distinct-token and stopword ratios in e4 units) feed first-fail
    * attribution via conditional sums. Every column is a SUM. */
  private[graft] def cascadeLedger(docs: DataFrame): DataFrame =
    docs.select(split(col("text"), " ").as("ts"))
      .select(size(col("ts")).cast("long").as("tok_n"),
        expr("size(array_distinct(ts)) * 10000L div size(ts)")
          .as("uniq_e4"),
        expr("size(filter(ts, x -> x IN ('the', 'a'))) * 10000L" +
          " div size(ts)").as("stop_e4"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("tok_n") < 30, 1L).otherwise(0L)).as("d1"),
        sum(when(col("tok_n") >= 30 && col("uniq_e4") < 4000, 1L)
          .otherwise(0L)).as("d2"),
        sum(when(col("tok_n") >= 30 && col("uniq_e4") >= 4000 &&
          col("stop_e4") > 1500, 1L).otherwise(0L)).as("d3"))

  /** Funnel rows from the one-row (n, d1, d2, d3) first-fail ledger —
    * shared by q_filter_cascade and its streaming twin (the twin folds
    * per-batch one-row partials by SUM first). */
  private[graft] def cascadeFunnel(a: DataFrame): DataFrame =
    a.select(explode(expr(
      """array(
        |  named_struct('stage', 1, 'fname', 'too_short',
        |    'n_in', n, 'n_dropped', d1),
        |  named_struct('stage', 2, 'fname', 'repetitive',
        |    'n_in', n - d1, 'n_dropped', d2),
        |  named_struct('stage', 3, 'fname', 'stopword_heavy',
        |    'n_in', n - d1 - d2, 'n_dropped', d3),
        |  named_struct('stage', 4, 'fname', 'kept',
        |    'n_in', n - d1 - d2 - d3, 'n_dropped', 0L))"""
        .stripMargin)).as("r"))
      .select(col("r.stage").cast("int").as("stage"),
        col("r.fname").as("fname"),
        col("r.n_in").as("n_in"),
        col("r.n_dropped").as("n_dropped"))
      .orderBy("stage")

  /** The cascade-funnel oracle — shared verbatim by q_filter_cascade
    * and q_stream_cascade (the streamed ledger fold must equal the
    * batch funnel exactly, so both gates compare against one SQL). */
  private[graft] val CascadeOracle: String =
    """WITH tk AS (
      |  SELECT string_split(text, ' ') AS ts FROM documents),
      |s AS (
      |  SELECT len(ts) AS tok_n,
      |    len(list_distinct(ts)) * 10000 // len(ts) AS uniq_e4,
      |    len(list_filter(ts, x -> x IN ('the', 'a'))) * 10000
      |      // len(ts) AS stop_e4
      |  FROM tk),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN tok_n < 30 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN tok_n >= 30 AND uniq_e4 < 4000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d2,
      |    CAST(sum(CASE WHEN tok_n >= 30 AND uniq_e4 >= 4000
      |      AND stop_e4 > 1500 THEN 1 ELSE 0 END) AS BIGINT) AS d3
      |  FROM s)
      |SELECT CAST(1 AS INT) AS stage, 'too_short' AS fname,
      |  n AS n_in, d1 AS n_dropped FROM a
      |UNION ALL SELECT 2, 'repetitive', n - d1, d2 FROM a
      |UNION ALL SELECT 3, 'stopword_heavy', n - d1 - d2, d3 FROM a
      |UNION ALL SELECT 4, 'kept', n - d1 - d2 - d3,
      |  CAST(0 AS BIGINT) FROM a
      |ORDER BY stage""".stripMargin

  /** DSIR's token rows: (doc_id, source, bkt), bkt = the first two hex
    * chars of sha256(token), so both engines bucket byte-identically. */
  private[graft] def dsirTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("source"),
        substring(sha2(col("tok"), 256), 1, 2).as("bkt"))

  /** The DSIR estimator's sufficient statistics, q_quality_dsir's first
    * pass and q_stream_dsir's per-batch partial: per bucket the target
    * (src0) and raw token counts, ≤256 rows, exact sums. */
  private[graft] def dsirBuckets(tok: DataFrame): DataFrame =
    tok.groupBy("bkt")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))

  /** The add-one-smoothed log-ratio weight in integer 1e-6 units over
    * a (bkt, ct, cr) relation; its (nt, nr) totals are one driver read
    * of that relation. */
  private[graft] def dsirWeight(bc: DataFrame): Column = {
    val n = bc.agg(sum("ct"), sum("cr")).head()
    val (nt, nr) = (n.getLong(0), n.getLong(1))
    expr(
      s"""CAST(round(
         |  (ln((CAST(ct AS DOUBLE) + 1.0)
         |      / (CAST(${nt}L AS DOUBLE) + 256.0))
         |   - ln((CAST(cr AS DOUBLE) + 1.0)
         |        / (CAST(${nr}L AS DOUBLE) + 256.0)))
         |  * 1000000.0) AS BIGINT)""".stripMargin)
  }

  /** Shared oracle of q_text_pii_scrub and q_stream_pii (the streamed
    * partial fold must equal the batch census exactly). */
  private[graft] val PiiOracle: String =
    """WITH d AS (SELECT source,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
      |      CAST(doc_id AS VARCHAR) || '@mail.example ph ' ||
      |      CAST(doc_id * 9973 + 1000000007 AS VARCHAR)
      |    ELSE text END AS text
      |  FROM documents),
      |c AS (SELECT source,
      |    len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9]+[.][a-z]+'))
      |      AS emails,
      |    len(regexp_extract_all(text, '[0-9]{7,}')) AS phones,
      |    length(text) - length(regexp_replace(regexp_replace(text,
      |      '[a-z0-9.]+@[a-z0-9]+[.][a-z]+', '', 'g'),
      |      '[0-9]{7,}', '', 'g')) AS redacted
      |  FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN emails + phones > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS docs_flagged,
      |  CAST(sum(emails) AS BIGINT) AS n_emails,
      |  CAST(sum(phones) AS BIGINT) AS n_digit_runs,
      |  CAST(sum(redacted) AS BIGINT) AS chars_redacted
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  val entries: Map[String, (Q, String)] = Map(

    // PII scrub census — the redaction pass every released pretraining
    // pipeline runs before packing (C4 strips lines by blocklist;
    // Dolma/FineWeb mask email/phone/IP spans in place). Two regex
    // families (email-shaped tokens, 7+-digit runs) are masked in one
    // codegen'd row-local projection; the census reports, per source,
    // docs flagged, span counts per family, and characters redacted —
    // the integers a corpus release card carries. The fixture corpus
    // is synthetic and PII-free, so the gate PLANTS deterministic
    // ground truth first (doc_id % 7 docs get an email + a digit run
    // derived from doc_id — the same arithmetic rule in both engines);
    // the operator under test is the scrub, the injection is fixture
    // augmentation. Regexes stay in the Java∩RE2 common subset
    // (character classes, +, {n,}, literal [.]) so Spark and DuckDB
    // match identical spans; the email pass runs before the digit pass
    // in BOTH engines, so a digit run inside a masked email never
    // double-counts in the redacted-chars column (span COUNTS are
    // taken on the pre-scrub text in both engines — same text, same
    // pattern, same count). Scale shape: map-only scrub fused into the
    // scan (one documents pass), then a sources-domain aggregate — the
    // one exchange carries |sources| rows of integers at any corpus
    // size.
    "q_text_pii_scrub" -> ((
      (s: SparkSession, d: String) =>
        piiCensus(piiSpans(t(s, d, "documents"))),
      PiiOracle)),

    // URL canonicalization dedup — the first dedup a web-crawl corpus
    // runs (CommonCrawl/CCNet dedup by canonical URL before any
    // content hashing): lowercase scheme+host, strip the default :80
    // port (http only), drop the fragment, drop tracking params
    // (utm_*, sess), byte-sort the surviving params, strip the
    // trailing slash — then group. The fixture has no URL column, so
    // the gate PLANTS one per doc from doc_id arithmetic (same rule in
    // both engines; case noise, ports, shuffled params, session ids
    // and fragments vary WITHIN a canonical identity): 500 raw URLs
    // collapse to 60 canonical groups, and the census reports per
    // group the keeper (min doc_id), member count, and raw-variant
    // count. The canonicalizer itself is generic string surgery on the
    // URL grammar (regexp_extract parts + a filter/sort_array/
    // array_join param rewrite) — every step row-local and
    // codegen-eligible, so the whole scrub fuses into the scan;
    // the ONLY exchanges are the group-census aggregate pair (the
    // single-distinct rewrite keys the partial on (curl, url), so
    // duplicate raw variants collapse map-side). At crawl scale the
    // group key would be xxhash64(curl) with first(curl) carried —
    // same plan shape, 8-byte shuffle keys.
    "q_dedup_url" -> ((
      (s: SparkSession, d: String) => {
        val canon = t(s, d, "documents")
          .select(col("doc_id").as("doc_id"),
            plantedUrl(col("doc_id")).as("url"))
          .select(col("doc_id"), col("url"),
            canonicalizeUrl(col("url")).as("canonical_url"))
        canon.groupBy("canonical_url")
          .agg(min("doc_id").as("keeper_id"),
            count(lit(1)).as("n_docs"),
            countDistinct("url").as("n_raw_variants"))
          .orderBy("canonical_url")
      },
      UrlOracle)),

    // Prefix-filtered EXACT set-similarity join (PPJoin/Vernica et al.
    // "Efficient Parallel Set-Similarity Joins Using MapReduce"): the
    // exact-Jaccard complement of the MinHash gate and the index-size
    // upgrade over q_dedup_ngram's full inverted index. Each doc
    // indexes ONLY its first |d| − ⌈t·|d|⌉ + 1 shingles under the
    // global rarest-first (df, tok) order — the classic theorem
    // guarantees every pair with J ≥ t still shares an indexed prefix
    // token — so the candidate join runs over a (1−t)-fraction index
    // built from the RAREST tokens (tiny postings), never the frequent
    // head that makes full inverted indexes quadratic. Candidates pass
    // the symmetric length filter (10·min ≥ 6·max), then exact-verify
    // by counting shared shingles with integer cross-multiplied
    // Jaccard (8·o ≥ 3·(|a|+|b|) ⟺ J ≥ 0.6). The per-doc prefix rank
    // is a doc-partitioned Window (never a global sort — the (df, tok)
    // order needs no dense global rank, only a total order). The
    // ORACLE is the brute-force all-pairs Jaccard, so the hash match
    // PROVES the prefix filter lost no pair on this corpus — the
    // completeness theorem checked end-to-end, not assumed.
    "q_join_setsim" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.SketchFunctions.register(s)
        // Deliberately NOT cached: the exploded index is the largest
        // relation in the pipeline (corpus × shingles), and the
        // codegen'd scan+explode that produces it is cheap — at the
        // 100x soak, re-deriving it per consumer beats materializing
        // tens of GB (measured: the localCheckpoint variant ground
        // into spill; recompute soaks at 0.03 s/row).
        val sh = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"),
            explode(expr("word_shingles_distinct(tk, 5)")).as("tok"))
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val dfRel = sh.groupBy("tok").agg(count(lit(1)).as("df"))
        val wDoc = Window.partitionBy("doc_id")
          .orderBy(col("df"), col("tok"))
        val pref = sh.join(dfRel, "tok").join(sz, "doc_id")
          .withColumn("rn", row_number().over(wDoc))
          .filter(col("rn") <= col("n") - expr("(6*n + 9) div 10") + 1)
          .select(col("tok"), col("doc_id"), col("n"))
        val cand = pref.toDF("tok", "a", "na")
          .join(pref.toDF("tok", "b", "nb"), "tok")
          .filter(col("a") < col("b") &&
            least(col("na"), col("nb")) * 10L >=
              greatest(col("na"), col("nb")) * 6L)
          .select("a", "b").distinct()
        val ov = cand
          .join(sh.toDF("a", "tok"), "a")
          .join(sh.toDF("b", "tok"), Seq("b", "tok"))
          .groupBy("a", "b").agg(count(lit(1)).as("o"))
        ov.join(sz.toDF("a", "na"), "a")
          .join(sz.toDF("b", "nb"), "b")
          .filter(col("o") * 8L >= (col("na") + col("nb")) * 3L)
          .select(col("a"), col("b"), col("o").as("overlap"),
            expr("o * 10000L div (na + nb - o)").as("jaccard_e4"))
          .orderBy("a", "b")
      },
      s"WITH ${shinglesSqlCte(5).replace("sizes AS", "szs AS")}" +
        """,
        |ovp AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, o AS overlap,
        |  CAST(o * 10000 // (na.n + nb.n - o) AS BIGINT) AS jaccard_e4
        |FROM ovp JOIN szs na ON na.doc_id = a
        |         JOIN szs nb ON nb.doc_id = b
        |WHERE 8 * o >= 3 * (na.n + nb.n)
        |ORDER BY a, b""".stripMargin)),

    // Filter-cascade funnel census — the release-card table every
    // C4/Gopher/Dolma-style cleaning pipeline publishes: an ORDERED
    // cascade of quality filters where a document drops at its FIRST
    // failing stage, reported as per-stage (docs entering, docs
    // dropped) plus the surviving tail. Three row-local integer
    // signals (token count; distinct-token ratio in e4 units; stopword
    // ratio in e4 units) feed first-fail attribution via conditional
    // sums — the whole funnel is ONE corpus scan into a ONE-ROW global
    // aggregate (partial+final), then a row-local explode of the four
    // funnel rows from that single row. No join, no second pass; at
    // 100 TB the exchange carries one row of four integers. (The
    // single-signal gates q_text_quality/gopher own the signal-quality
    // axis; this gate owns the cascade ACCOUNTING — the kept/dropped
    // ledger that makes a cleaning run auditable.)
    "q_filter_cascade" -> ((
      (s: SparkSession, d: String) =>
        cascadeFunnel(cascadeLedger(t(s, d, "documents"))),
      CascadeOracle)),

    // BPE tokenizer training — three merge rules learned over the word
    // histogram (see bpeTrain for the per-iteration shape and why the
    // corpus is scanned exactly once). Output is the rule table
    // (iter, l, r, pair count): deterministic under the total
    // tie-break. The oracle replays the identical greedy fold and
    // argmax in DuckDB (list_reduce / unnest-zip pair counting) — the
    // independence is in the distributed layout (histogram shuffle,
    // vocab-sized iterations, one-row broadcast rules), not the merge
    // arithmetic, which both engines must share for the rules to be
    // comparable at all.
    "q_bpe_train" -> ((
      (s: SparkSession, d: String) => bpeTrain(s, d, 3),
      bpeOracleCtes(3) +
        """
        |SELECT CAST(1 AS INT) AS iter, l, r, cnt FROM r1
        |UNION ALL SELECT 2, l, r, cnt FROM r2
        |UNION ALL SELECT 3, l, r, cnt FROM r3
        |ORDER BY iter""".stripMargin)),

    // BPE corpus encoding — the apply side of q_bpe_train: re-derive
    // the three learned rules, fold them IN ORDER over the word
    // histogram's symbol strings (three chained map-only stages — the
    // rules are one-row broadcasts), and emit the corpus token
    // histogram after encoding (occurrences weighted by word count).
    // The scale property mirrors training: the corpus is touched only
    // by the wordcount; the encode itself runs over the vocabulary, so
    // a 100 TB corpus encodes at vocab cost + one corpus-sized
    // weighted sum that here collapses into the same vocab relation.
    // Oracle: the shared training CTE chain extended one step — both
    // gates replay one derivation, so train and encode can never
    // drift apart.
    "q_tokenize_apply" -> ((
      (s: SparkSession, d: String) => {
        import s.implicits._
        val rules = bpeTrain(s, d, 3).collect()
        var vocab = bpeVocab(s, d)
        rules.foreach { row =>
          vocab = bpeApply(vocab,
            Seq((row.getString(1), row.getString(2))).toDF("l", "r"))
        }
        vocab.select(col("wc"), explode(split(col("sym"), " ")).as("tok"))
          .groupBy("tok").agg(sum("wc").as("cnt"))
          .orderBy("tok")
      },
      bpeOracleCtes(3) +
        """
        |SELECT tok, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        |  SELECT wc, unnest(string_split(sym, ' ')) AS tok FROM s4)
        |GROUP BY tok ORDER BY tok""".stripMargin)),

    // Exact dedup: hash groupBy on a sha256 digest of the content, keep
    // lowest doc_id. Grouping on the digest (not the raw text) keeps the
    // shuffle KEY at 32 bytes/row, and map-side partial aggregation
    // collapses duplicate documents before the exchange — at corpus
    // scale a raw-text group key would push the whole dataset through
    // the shuffle as keys. `first(text)` is deterministic here: every
    // row in a digest group carries the identical text.
    "q_dedup_exact" -> ((
      (s: SparkSession, d: String) => entriesExactPlan(s, d),
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text,
        |CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    // Incremental cross-snapshot dedup — see incrementalDedupPlan. The
    // oracle recomputes the same accepted set from scratch (batch
    // digests minus base digests); the Spark side reads the persisted
    // index (plan-gated: the base corpus is never re-aggregated inside
    // the incremental plan).
    "q_dedup_incremental" -> ((
      (s: SparkSession, d: String) => incrementalDedupPlan(s, d),
      """WITH base AS (
        |  SELECT DISTINCT sha256(text) AS digest FROM documents
        |  WHERE doc_id % 4 <> 3),
        |bd AS (
        |  SELECT sha256(text) AS digest,
        |    CAST(min(doc_id) AS BIGINT) AS doc_id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM documents WHERE doc_id % 4 = 3 GROUP BY 1)
        |SELECT doc_id, digest, n_copies FROM bd
        |WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.digest = bd.digest)
        |ORDER BY doc_id""".stripMargin)),

    // Exact-substring duplication signal (the n-gram-granular form of
    // C4-style duplicated-span REMOVAL — the rewrite q_dedup_substr
    // only measures: documents are cut into non-overlapping 10-token
    // spans (a map-only slice fold — no per-token explode on the
    // Spark side), every span whose exact text occurs in >= 2 DISTINCT
    // documents is dropped from ALL of them (the C4 line-dedup rule,
    // applied cross-document), and each document is reassembled from
    // its surviving spans in order. The duplicated-span set comes from
    // one count-distinct aggregation whose exchange carries 32-byte
    // sha2 digests, never raw spans (the exact-dedup discipline); the
    // reassembly is one doc_id exchange with an array_sort-by-chunk
    // fold (collect_list order-independence handled by sorting the
    // (cid, span) structs). Output pins the rewritten text by digest,
    // so the oracle verifies the exact reassembled bytes. Exact-dup
    // documents in the fixture lose all their spans; unique documents
    // pass through bit-identical.
    "q_dedup_spans" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val spans = docs
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, CAST(ceil(size(tk) / 10.0) AS INT) - 1), " +
              "i -> array_join(slice(tk, i * 10 + 1, 10), ' '))"))
            .as(Seq("cid", "span")))
          .withColumn("dig", sha2(col("span"), 256))
        val rep = spans
          .groupBy("dig").agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") >= 2).select("dig")
        val kept = spans.join(rep, Seq("dig"), "left_anti")
        val re = kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            expr("array_join(transform(array_sort(" +
              "collect_list(struct(cid, span))), x -> x.span), ' ')")
              .as("cleaned"))
        docs
          .select(col("doc_id"),
            expr("CAST(ceil(size(split(text, ' ')) / 10.0) AS BIGINT)")
              .as("n_spans"))
          .join(re, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            sha2(coalesce(col("cleaned"), lit("")), 256).as("cleaned_sha"))
          .orderBy("doc_id")
      },
      """WITH u AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |sp AS (SELECT doc_id, CAST((pos - 1) // 10 AS INT) AS cid,
        |    string_agg(tok, ' ' ORDER BY pos) AS span
        |  FROM u GROUP BY 1, 2),
        |rep AS (SELECT span FROM sp
        |  GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT doc_id, cid, span FROM sp
        |  WHERE span NOT IN (SELECT span FROM rep)),
        |re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(span, ' ' ORDER BY cid) AS cleaned
        |  FROM kept GROUP BY 1),
        |ns AS (SELECT doc_id,
        |    CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT)
        |      AS n_spans FROM documents)
        |SELECT ns.doc_id, ns.n_spans,
        |  COALESCE(re.n_kept, 0) AS n_kept,
        |  sha256(COALESCE(re.cleaned, '')) AS cleaned_sha
        |FROM ns LEFT JOIN re ON re.doc_id = ns.doc_id
        |ORDER BY ns.doc_id""".stripMargin)),

    // Lee et al.'s ExactSubstr dedup): per document, how many tokens
    // are covered by the union of 8-token spans whose text occurs more
    // than once corpus-wide. The repeated-gram set is found by one
    // count aggregation on the gram stream (32-byte sha-free keys never
    // leave the exchange as raw text at scale — grams here, digests if
    // grams grow); span-union coverage is per-row interval math over
    // each doc's sorted match positions. High dup_ratio = the document
    // is mostly duplicated text and should be dropped or trimmed.
    "q_dedup_substr" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        graft.functions.SketchFunctions.register(s)
        val grams = docs
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"),
            posexplode(expr("word_shingles(tk, 8)")).as(Seq("pos", "g")))
        val rep = grams.groupBy("g").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("g")
        val cov = grams.join(rep, "g")
          .groupBy("doc_id").agg(sort_array(collect_list("pos")).as("ps"))
          .select(col("doc_id"), expr(
            """aggregate(transform(sequence(1, size(ps)),
              |    k -> CASE WHEN k = size(ps) THEN 8
              |         ELSE least(8, element_at(ps, k+1) - element_at(ps, k))
              |         END),
              |  0, (a, x) -> a + x)""".stripMargin).as("covered"))
        docs.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tok"),
            coalesce(col("covered"), lit(0)).cast("long").as("covered"),
            round(coalesce(col("covered"), lit(0)) * 1.0 /
              size(split(col("text"), " ")), 6).as("dup_ratio"))
          .orderBy("doc_id")
      },
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g2 AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        |        list_transform(range(1, len(t) - 6),
        |          i -> {'pos': i, 'g': t[i] || ' ' || t[i+1] || ' ' ||
        |            t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' ||
        |            t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]})
        |      ELSE CAST([] AS STRUCT(pos BIGINT, g VARCHAR)[]) END) AS u
        |    FROM tk)),
        |rep AS (SELECT g FROM g2 GROUP BY g HAVING count(*) >= 2),
        |cov AS (
        |  SELECT doc_id, list_sort(list(pos)) AS ps FROM g2
        |  WHERE g IN (SELECT g FROM rep) GROUP BY doc_id),
        |cov2 AS (
        |  SELECT doc_id, list_sum(list_transform(range(1, len(ps) + 1),
        |    k -> CASE WHEN k = len(ps) THEN 8
        |         ELSE least(8, ps[k+1] - ps[k]) END)) AS covered
        |  FROM cov)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_tok,
        |  CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
        |  round(coalesce(c.covered, 0) * 1.0
        |    / len(string_split(d.text, ' ')), 6) AS dup_ratio
        |FROM documents d LEFT JOIN cov2 c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // Sequence packing — the last step before training: concatenate
    // documents in a deterministic order and split into fixed-capacity
    // token chunks; each document's placement is a pure function of the
    // running token prefix-sum. Implemented as the classic two-pass
    // distributed prefix sum: a deterministic monotone bucketing of the
    // id range (min/max bounds, NOT repartitionByRange — range boundary
    // sampling could disagree between passes), a bounded per-bucket
    // subtotal pass whose exclusive prefix is broadcast back as a
    // literal offset map (<= nb rows through the driver, the same
    // protocol RDD.zipWithIndex uses), then placement via a window
    // PARTITIONED by bucket — parallel across buckets, never the
    // degenerate single-task global window (PlanQualitySpec gates it).
    // At 100 TB the (doc_id, n_tok) projection would be checkpointed
    // once instead of tokenizing text for both passes.
    "q_pack_sequences" -> ((
      (s: SparkSession, d: String) => {
        val cap = 512
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val nb = math.max(1, s.sparkContext.defaultParallelism).toLong
        val b = docs.agg(min("doc_id"), max("doc_id")).head()
        if (b.isNullAt(0))
          docs.select(col("doc_id"), col("n_tok"),
            lit(0L).as("chunk_id"), lit(0L).as("chunk_offset"))
        else {
          val (lo, hi) = (b.getLong(0), b.getLong(1))
          val width = math.max(1L, (hi - lo + nb) / nb)
          val bucketed = docs.withColumn("bucket",
            expr(s"(doc_id - ${lo}L) div ${width}L"))
          var acc = 0L
          val offs: Map[Long, Long] = bucketed.groupBy("bucket")
            .agg(sum("n_tok").as("st")).orderBy("bucket").collect()
            .map { r =>
              val k = r.getLong(0); val o = acc; acc += r.getLong(1)
              k -> o
            }.toMap
          val w = Window.partitionBy("bucket").orderBy("doc_id")
          bucketed
            .withColumn("cum",
              coalesce(element_at(typedLit(offs), col("bucket")),
                lit(0L)) + sum("n_tok").over(w))
            .select(col("doc_id"), col("n_tok"),
              expr(s"(cum - n_tok) div $cap").as("chunk_id"),
              expr(s"(cum - n_tok) % $cap").as("chunk_offset"))
            .orderBy("doc_id")
        }
      },
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    sum(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST((cum - n_tok) // 512 AS BIGINT) AS chunk_id,
        |  CAST((cum - n_tok) % 512 AS BIGINT) AS chunk_offset
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Sliding-window chunking — RAG / pretraining chunking with overlap,
    // the complement of q_pack_sequences' contiguous packing: each
    // document is split into WINDOW-token chunks whose starts advance by
    // STRIDE tokens (overlap = WINDOW - STRIDE), the last chunk clipped
    // at the document end. Entirely map-only and deterministic: chunk
    // starts are `sequence(0, n_tok-1, STRIDE)` posexploded per row —
    // boundaries are a pure function of the token positions, no state
    // crosses documents, so the operator scales embarrassingly (the
    // ~WINDOW/STRIDE× output amplification is the operator's spec, not
    // a plan defect). DuckDB twin uses generate_series + 1-based
    // inclusive list slicing.
    "q_chunk_sliding" -> ((
      (s: SparkSession, d: String) => {
        val window = 128L
        val stride = 96L
        t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n_tok", size(col("toks")).cast("long"))
          .select(col("doc_id"), col("toks"), col("n_tok"),
            posexplode(expr(s"sequence(0L, n_tok - 1, ${stride}L)"))
              .as(Seq("chunk_id", "start_tok")))
          .withColumn("end_tok",
            least(col("start_tok") + window, col("n_tok")))
          .select(
            col("doc_id"),
            col("chunk_id").cast("long").as("chunk_id"),
            col("start_tok"),
            col("end_tok"),
            (col("end_tok") - col("start_tok")).as("chunk_tokens"),
            concat_ws(" ", slice(col("toks"),
              (col("start_tok") + 1).cast("int"),
              (col("end_tok") - col("start_tok")).cast("int")))
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, n_tok,
        |         CAST(unnest(generate_series(0, n_tok - 1, 96)) AS BIGINT)
        |           AS start_tok
        |  FROM d),
        |s2 AS (SELECT *, CAST(start_tok // 96 AS BIGINT) AS chunk_id
        |       FROM s)
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(least(start_tok + 128, n_tok) AS BIGINT) AS end_tok,
        |  CAST(least(start_tok + 128, n_tok) - start_tok AS BIGINT)
        |    AS chunk_tokens,
        |  array_to_string(
        |    toks[CAST(start_tok + 1 AS BIGINT):
        |         CAST(least(start_tok + 128, n_tok) AS BIGINT)], ' ')
        |    AS chunk_text
        |FROM s2 ORDER BY doc_id, chunk_id""".stripMargin)),

    // Balanced shard assignment — the step after packing: deal
    // documents onto K output shards so every shard sees an even mix
    // of lengths (round-robin over the length-sorted order — the
    // streaming cousin of LPT scheduling; shard token totals differ by
    // at most K·max_len). shard = global_rank(n_tok, doc_id) mod K,
    // and the global rank reuses q_pack_sequences' two-pass distributed
    // prefix-sum protocol — deterministic monotone bucketing of the
    // SORT KEY's value range (n_tok here, so bucket order IS rank
    // order), a bounded per-bucket COUNT pass whose exclusive prefix
    // broadcasts back as offsets, then row_number within each bucket —
    // never a single-task global window. Length distributions skew
    // (most docs cluster near the median), so a 100 TB run would pick
    // bucket boundaries from a quantile sketch of n_tok instead of the
    // uniform width used at gate scale; the two-pass protocol is
    // unchanged either way.
    "q_shard_assign" -> ((
      (s: SparkSession, d: String) => {
        val k = 8L
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val nb = math.max(1, s.sparkContext.defaultParallelism)
        if (docs.isEmpty)
          docs.select(col("doc_id"), col("n_tok"), lit(0L).as("shard"))
        else {
          // Equi-DEPTH bucket boundaries from a quantile sketch (the
          // r7 VERDICT's skew posture, now the shipped path): nb-1 cut
          // points from approxQuantile (GK sketch — one bounded pass,
          // mergeable at any scale) instead of equi-width (min, max)
          // arithmetic, which under a Zipf length distribution piles
          // most rows into bucket 0 and serializes the rank window.
          // Correctness does not depend on the boundaries: bucket
          // assignment is a monotone function of n_tok alone (ties
          // stay together), and the count-offset pass makes the global
          // rank exact for ANY such bucketing — the sketch only
          // balances partition sizes.
          val cuts = docs.stat.approxQuantile("n_tok",
            (1 until nb).map(_.toDouble / nb).toArray, 0.001)
            .map(_.toLong).distinct.sorted
          val bucketCol =
            if (cuts.isEmpty) lit(0L)
            else expr("size(filter(array(" +
              cuts.map(_ + "L").mkString(",") +
              "), b -> b < n_tok))").cast("long")
          val bucketed = docs.withColumn("bucket", bucketCol)
          var acc = 0L
          val offs: Map[Long, Long] = bucketed.groupBy("bucket")
            .agg(count(lit(1)).as("cnt")).orderBy("bucket").collect()
            .map { r =>
              val kk = r.getLong(0); val o = acc; acc += r.getLong(1)
              kk -> o
            }.toMap
          val w = Window.partitionBy("bucket")
            .orderBy(col("n_tok"), col("doc_id"))
          bucketed
            .withColumn("rank",
              coalesce(element_at(typedLit(offs), col("bucket")),
                lit(0L)) + row_number().over(w))
            .select(col("doc_id"), col("n_tok"),
              expr(s"(rank - 1) % ${k}L").as("shard"))
            .orderBy("doc_id")
        }
      },
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    row_number() OVER (ORDER BY
        |      len(string_split(text, ' ')), doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, n_tok, CAST((rank - 1) % 8 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin)),

    // TF-IDF top terms — per-document distinctive vocabulary. Term
    // frequencies partial-aggregate map-side; document frequency is a
    // second aggregation over the already-collapsed (doc, term)
    // relation, joined back by SIZE-BASED planning — the vocabulary
    // broadcasts while it fits (it does at gate scale, plan-gated)
    // and flips to a shuffled term-keyed join on its own when a real
    // corpus's vocab outgrows the threshold; a forced broadcast()
    // would collect a data-dependent relation to the driver at any
    // scale. Ranking is tf/df as one IEEE division of exact integers —
    // identical in every engine, no log() whose libm rounding could
    // diverge — tie-broken by term for a total order.
    "q_text_tfidf" -> ((
      (s: SparkSession, d: String) => {
        val tf = t(s, d, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy((col("tf") * 1.0 / col("df")).desc, col("term"))
        tf.join(dfreq, "term")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"))
          .orderBy("doc_id", "rn")
      },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |r AS (
        |  SELECT doc_id, term, tf, df,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * 1.0 / df DESC, term) AS rn
        |  FROM tf JOIN dfq USING (term))
        |SELECT doc_id, CAST(rn AS INT) AS rn, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // BM25 retrieval scoring — rank the corpus against a fixed query
    // term set with the standard Okapi/Lucene formula
    //   idf(t)      = ln(1 + (N - df + 0.5)/(df + 0.5))
    //   tfnorm(t,d) = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    // (k1 = 1.2, b = 0.75). Scale shape: the token explode is filtered
    // to the query vocabulary BEFORE any exchange, so the shuffled
    // relation is |matching (doc, term)| rows, never the token stream —
    // the inverted-index head for exactly the posting lists the query
    // touches. df (≤ |query|) broadcasts; N and avgdl are two bounded
    // driver scalars (same protocol as q_text_pmi's nTok). Top-20 by
    // score compiles to TakeOrderedAndProject. Determinism: the only
    // libm call is ln() on O(1) values (≤ 1 ulp cross-engine, absorbed
    // by round 4); the per-document sum over query terms is three
    // conditional single-element sums added in fixed textual order, so
    // no engine is free to reassociate a float reduction.
    "q_text_bm25" -> ((
      (s: SparkSession, d: String) => {
        val terms = RetrievalQueries.head._2 // query 1 of the shared workload
        val base = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        val dl = base.select(col("doc_id"),
          size(col("tk")).cast("long").as("dl"))
        val tot = dl.agg(count(lit(1)), sum(col("dl"))).head()
        val nDocs = tot.getLong(0)
        val avgdl = tot.getLong(1).toDouble / nDocs.toDouble
        val tf = base
          .select(col("doc_id"), explode(col("tk")).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val sc = tf.join(broadcast(dfq), "term").join(dl, "doc_id")
          .withColumn("s", expr(
            s"""ln(1.0 + (CAST($nDocs - df AS DOUBLE) + 0.5)
               |         / (CAST(df AS DOUBLE) + 0.5))
               |* (CAST(tf AS DOUBLE) * 2.2)
               |/ (CAST(tf AS DOUBLE)
               |   + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))
               |""".stripMargin))
        val termScore = (q: String) =>
          coalesce(sum(when(col("term") === q, col("s"))), lit(0.0))
        val agg = sc.groupBy("doc_id")
          .agg((termScore("vector") + termScore("stream")
            + termScore("merge")).as("bm25raw"))
        // top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
        // heads, no global sort/single-partition exchange); the rank
        // window then runs over the 20 surviving rows only.
        val w = Window.orderBy(col("bm25raw").desc, col("doc_id"))
        agg.join(dl, "doc_id")
          .orderBy(col("bm25raw").desc, col("doc_id")).limit(20)
          .withColumn("rn", row_number().over(w))
          .select(col("doc_id"), col("rn"), col("dl"),
            round(col("bm25raw"), 4).as("bm25"))
          .orderBy("rn")
      },
      """WITH dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE term IN ('vector', 'stream', 'merge') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT t.doc_id, t.term,
        |    ln(1.0 + (CAST(n.n_docs - q.df AS DOUBLE) + 0.5)
        |             / (CAST(q.df AS DOUBLE) + 0.5))
        |    * (CAST(t.tf AS DOUBLE) * 2.2)
        |    / (CAST(t.tf AS DOUBLE)
        |       + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
        |         / (CAST(n.sum_dl AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))
        |      AS s
        |  FROM tf t JOIN dfq q USING (term) JOIN dl l USING (doc_id), n),
        |agg AS (
        |  SELECT doc_id,
        |    COALESCE(sum(CASE WHEN term = 'vector' THEN s END), 0.0)
        |    + COALESCE(sum(CASE WHEN term = 'stream' THEN s END), 0.0)
        |    + COALESCE(sum(CASE WHEN term = 'merge' THEN s END), 0.0)
        |      AS bm25raw
        |  FROM sc GROUP BY doc_id),
        |r AS (
        |  SELECT a.doc_id, l.dl, a.bm25raw,
        |    row_number() OVER (ORDER BY a.bm25raw DESC, a.doc_id) AS rn
        |  FROM agg a JOIN dl l USING (doc_id))
        |SELECT doc_id, CAST(rn AS INT) AS rn, dl,
        |  round(bm25raw, 4) AS bm25
        |FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // BM25 parameterized by a query RELATION (the production shape of
    // q_text_bm25, VERDICT r7 #6): score every (query_id, doc_id) pair
    // against the shared RetrievalQueries workload, top-10 per query.
    // Same inverted-index head — the token explode is pruned to the
    // UNION of all query vocabularies before any exchange, so the
    // shuffled relation is |matching (doc, term)| rows regardless of
    // workload size; df broadcasts, the workload relation broadcasts
    // (a query table is dimension-sized next to a 100 TB corpus), and
    // the per-query top-10 is one window partitioned by query_id —
    // thousands of query partitions spread across executors.
    // Determinism across engines: the per-(doc, term) score is rounded
    // to 1e-4 FIRST and materialized as an exact BIGINT in 1e-4 units —
    // the per-(query, doc) sum is then integer arithmetic, associative
    // under any grouping order, so neither engine can drift by float
    // reassociation. BOUNDARY ASSUMPTION (r8 ADVICE): rounding absorbs
    // the ≤1-ulp libm ln() divergence only AWAY from .5 boundaries — a
    // raw score within ~1e-8 units of a boundary could round apart
    // under Math.log vs DuckDB ln. This is fixture-dependent, so
    // tools/check.py's boundary_audit re-measures the minimum margin on
    // every gate run (requires ≥1e-4 units; sf0.01 measures ~1.1e-3)
    // and fails loudly if a regenerated fixture lands near a boundary.
    // Same audit covers q_text_perplexity's nll_e6.
    "q_text_bm25_multi" -> ((
      (s: SparkSession, d: String) => {
        val qrel = {
          import s.implicits._
          RetrievalQueries
            .flatMap { case (qid, ts) => ts.map(tm => (qid, tm)) }
            .toDF("query_id", "term")
        }
        val vocab = RetrievalQueries.flatMap(_._2).distinct
        val base = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        val dl = base.select(col("doc_id"),
          size(col("tk")).cast("long").as("dl"))
        val tot = dl.agg(count(lit(1)), sum(col("dl"))).head()
        val nDocs = tot.getLong(0)
        val avgdl = tot.getLong(1).toDouble / nDocs.toDouble
        val tf = base
          .select(col("doc_id"), explode(col("tk")).as("term"))
          .filter(col("term").isin(vocab: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val sc = tf.join(broadcast(dfq), "term").join(dl, "doc_id")
          .withColumn("s4", expr(
            s"""CAST(round(
               |  ln(1.0 + (CAST($nDocs - df AS DOUBLE) + 0.5)
               |           / (CAST(df AS DOUBLE) + 0.5))
               |  * (CAST(tf AS DOUBLE) * 2.2)
               |  / (CAST(tf AS DOUBLE)
               |     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))
               |  * 10000.0, 0) AS BIGINT)""".stripMargin))
        val scored = sc.join(broadcast(qrel), "term")
          .groupBy("query_id", "doc_id").agg(sum("s4").as("bm25_e4"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("bm25_e4").desc, col("doc_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("query_id"), col("rn").cast("int").as("rn"),
            col("doc_id"), col("bm25_e4"))
          .orderBy("query_id", "rn")
      },
      """WITH qrel AS (
        |  SELECT * FROM (VALUES
        |    (1,'vector'),(1,'stream'),(1,'merge'),
        |    (2,'join'),(2,'hash'),(2,'window'),
        |    (3,'scan'),(3,'filter'),(3,'sort')) AS t(query_id, term)),
        |dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE term IN (SELECT term FROM qrel) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT t.doc_id, t.term,
        |    CAST(round(
        |      ln(1.0 + (CAST(n.n_docs - q.df AS DOUBLE) + 0.5)
        |               / (CAST(q.df AS DOUBLE) + 0.5))
        |      * (CAST(t.tf AS DOUBLE) * 2.2)
        |      / (CAST(t.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
        |           / (CAST(n.sum_dl AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))
        |      * 10000.0, 0) AS BIGINT) AS s4
        |  FROM tf t JOIN dfq q USING (term) JOIN dl l USING (doc_id), n),
        |scored AS (
        |  SELECT r.query_id, s.doc_id, CAST(sum(s.s4) AS BIGINT) AS bm25_e4
        |  FROM sc s JOIN qrel r USING (term) GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, doc_id, bm25_e4,
        |    CAST(row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY bm25_e4 DESC, doc_id) AS INT) AS rn
        |  FROM scored)
        |SELECT query_id, rn, doc_id, bm25_e4
        |FROM rk WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin)),

    // Bigram language-model perplexity scoring — the CCNet-style LM
    // quality filter every pretraining pipeline runs (a doc whose
    // add-one-smoothed bigram NLL is far above the corpus norm is
    // boilerplate, gibberish, or the wrong language). Train: one
    // wordcount-shaped aggregation over the in-order bigram stream
    // (codegen'd word_shingles, duplicates kept); prefix counts c1 and
    // the log-prob table derive from the bigram relation itself, never
    // a second corpus pass; V is one bounded driver scalar. Score: the
    // doc bigram stream joins the log-prob table on the bigram key —
    // at gate scale the planner broadcasts the table, at 100 TB it
    // flips to a shuffle join, and the production posture prunes the
    // LM to its Zipf head with a unigram-backoff default (the
    // q_text_boilerplate broadcast-head protocol). Determinism: each
    // bigram's NLL is rounded to 1e-6 and materialized as BIGINT
    // BEFORE the per-doc sum (integer-associative in any engine/order)
    // and the per-doc mean is exact integer division — nll >= 0, so
    // DuckDB's floor-// and Spark's truncating div agree.
    "q_text_perplexity" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.SketchFunctions.register(s)
        val docs = t(s, d, "documents")
        val bi = docs.select(col("doc_id"),
          explode(expr("word_shingles(split(text, ' '), 2)")).as("g"))
        val c12 = bi.groupBy("g").agg(count(lit(1)).as("c12"))
        val c1 = c12.groupBy(expr("split(g, ' ')[0]").as("w1"))
          .agg(sum("c12").as("c1"))
        val v = docs.select(explode(split(col("text"), " ")).as("w"))
          .agg(countDistinct(col("w"))).head().getLong(0)
        val lp = c12.withColumn("w1", expr("split(g, ' ')[0]"))
          .join(c1, "w1")
          .select(col("g"), expr(
            s"""CAST(round(ln((CAST(c12 AS DOUBLE) + 1.0)
               |  / (CAST(c1 AS DOUBLE) + CAST($v AS DOUBLE)))
               |  * -1000000.0, 0) AS BIGINT)""".stripMargin).as("nll_e6"))
        bi.join(lp, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(nll_e6) div count(1)").as("nll_e6_avg"))
          .orderBy("doc_id")
      },
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |u AS (
        |  SELECT doc_id, unnest(ts) AS w,
        |    generate_subscripts(ts, 1) AS pos FROM tk),
        |bi AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |c12 AS (SELECT g, count(*) AS c12 FROM bi GROUP BY 1),
        |c1 AS (
        |  SELECT string_split(g, ' ')[1] AS w1, sum(c12) AS c1
        |  FROM c12 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM u),
        |lp AS (
        |  SELECT c12.g,
        |    CAST(round(ln((CAST(c12.c12 AS DOUBLE) + 1.0)
        |      / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)))
        |      * -1000000.0, 0) AS BIGINT) AS nll_e6
        |  FROM c12 JOIN c1 ON string_split(c12.g, ' ')[1] = c1.w1, v)
        |SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(lp.nll_e6) // count(*) AS BIGINT) AS nll_e6_avg
        |FROM bi JOIN lp USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PMI collocations — corpus-level bigram association. Two
    // wordcount-shaped aggregations (bigrams, unigrams); the unigram
    // vocabulary joins back by SIZE-BASED planning (AQE broadcasts it
    // while it fits — it does at gate scale — and leaves it a
    // term-keyed shuffled join when a real corpus's vocab outgrows
    // the threshold; no forced broadcast() of a data-dependent
    // relation); top-20 by lift compiles to TakeOrderedAndProject
    // (per-partition top-N, no global sort).
    // Lift n_ab·N / (n_a·n_b) ranks identically to PMI (log is
    // monotone) while staying in exact-integer-fed IEEE division —
    // products stay < 2^53, so every engine computes the same double.
    "q_text_pmi" -> ((
      (s: SparkSession, d: String) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        val uni = toks.select(explode(col("tk")).as("a"))
          .groupBy("a").agg(count(lit(1)).as("n_a"))
        val nTok = uni.agg(sum("n_a")).head().getLong(0)
        val bi = toks.select(explode(expr(
            """CASE WHEN size(tk) >= 2 THEN
              |  transform(sequence(1, size(tk) - 1),
              |    i -> struct(element_at(tk, i) AS a,
              |                element_at(tk, i + 1) AS b))
              |ELSE array() END""".stripMargin)).as("g"))
          .select(col("g.a").as("a"), col("g.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
        val ub = uni.select(col("a").as("b"), col("n_a").as("n_b"))
        bi.join(uni, "a").join(ub, "b")
          .withColumn("lift",
            col("n_ab") * lit(nTok) * 1.0 / (col("n_a") * col("n_b")))
          .orderBy(col("lift").desc, col("a"), col("b"))
          .limit(20)
          .select("a", "b", "n_ab", "n_a", "n_b")
          .orderBy("a", "b")
      },
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |toks AS (SELECT unnest(t) AS a FROM tk),
        |uni AS (SELECT a, count(*) AS n_a FROM toks GROUP BY a),
        |n AS (SELECT sum(n_a) AS n_tok FROM uni),
        |bi AS (
        |  SELECT g[1] AS a, g[2] AS b, count(*) AS n_ab FROM (
        |    SELECT unnest(CASE WHEN len(t) >= 2 THEN
        |        list_transform(range(1, len(t)), i -> [t[i], t[i + 1]])
        |      ELSE CAST([] AS VARCHAR[][]) END) AS g
        |    FROM tk) GROUP BY 1, 2 HAVING count(*) >= 5),
        |ranked AS (
        |  SELECT bi.a, bi.b, bi.n_ab, ua.n_a, ub.n_a AS n_b
        |  FROM bi JOIN uni ua ON ua.a = bi.a
        |          JOIN uni ub ON ub.a = bi.b, n
        |  ORDER BY bi.n_ab * n.n_tok * 1.0 / (ua.n_a * ub.n_a) DESC,
        |    bi.a, bi.b
        |  LIMIT 20)
        |SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
        |FROM ranked ORDER BY a, b""".stripMargin)),

    // Boilerplate detection — per-document fraction of corpus-common
    // shingles (RefinedWeb/C4-style header/footer signal). The common
    // set is the Zipf HEAD of the shingle docfreq distribution — small
    // by definition at any corpus size — so scoring is a broadcast
    // semi-join over the index; the only full-size exchanges are the
    // two groupBys on the 32-byte-keyed inverted index.
    "q_text_boilerplate" -> ((
      (s: SparkSession, d: String) =>
        withShingleIndex(s, t(s, d, "documents"), 5,
          s"${graft.Tables.scratchRoot}/graft_res_boiler_${graft.Tables.dirTag(d)}") { idx =>
          val common = idx.groupBy("s").agg(count(lit(1)).as("df"))
            .filter(col("df") >= 3).select("s")
          val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
          val nc = idx.join(broadcast(common), "s")
            .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
          sizes.join(nc, Seq("doc_id"), "left")
            .select(col("doc_id"), col("n_sh"),
              coalesce(col("n_common"), lit(0L)).as("n_common"),
              round(coalesce(col("n_common"), lit(0L)) * 1.0 / col("n_sh"), 6)
                .as("boiler_ratio"))
        }.orderBy("doc_id"),
      s"""WITH ${shinglesSqlCte(5)},
         |docfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
         |common AS (SELECT s FROM docfreq WHERE df >= 3),
         |nc AS (SELECT doc_id, count(*) AS n_common FROM sh
         |       WHERE s IN (SELECT s FROM common) GROUP BY doc_id)
         |SELECT z.doc_id, CAST(z.n AS BIGINT) AS n_sh,
         |  CAST(coalesce(nc.n_common, 0) AS BIGINT) AS n_common,
         |  round(coalesce(nc.n_common, 0) * 1.0 / z.n, 6) AS boiler_ratio
         |FROM sizes z LEFT JOIN nc USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // Near-dup clustering — the step AFTER pair generation: connected
    // components over the confirmed near-dup pair graph, so each
    // cluster keeps one canonical document (the min doc_id). Iterative
    // min-label propagation to fixpoint: each round is one equality
    // join + min-aggregation on the edge list — the standard
    // distributed CC shape (cf. large-star/small-star), converging in
    // diameter rounds, and near-dup components are shallow by
    // construction. Only the (tiny) pair graph iterates; the corpus is
    // never rescanned.
    "q_dedup_cluster" -> ((
      (s: SparkSession, d: String) =>
        withShingleIndex(s, t(s, d, "documents"), 5,
          s"${graft.Tables.scratchRoot}/graft_res_cluster_${graft.Tables.dirTag(d)}") { idx =>
          val a = idx.select(col("doc_id").as("doc_a"), col("s"))
          val b = idx.select(col("doc_id").as("doc_b"), col("s"))
          val pairs = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          // ONE materialization of the verify pipeline (r18): the
          // union's two branches and every fixpoint round then read
          // the checkpointed 2-column pair set instead of replaying
          // the corpus-wide join — and the checkpointed RDD scan also
          // beat feeding the loop through a persisted union (the
          // columnar-cache scan costs more per round than the raw
          // checkpoint rows at this size: OPTIMIZATION_r18.md,
          // interleaved — edges 1.58–3.31 s → 0.73–0.96 s, loop
          // 1.80–2.46 s → 0.82–1.14 s).
          val dups = jaccardFilter(pairs,
              sizesOf(t(s, d, "documents"), 5), 0.5)
            .select("doc_a", "doc_b")
            .localCheckpoint()
          val e = dups.select(col("doc_a").as("src"), col("doc_b").as("dst"))
            .union(dups.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          // The min-label fixpoint is GraphQueries.ccLoop — the shared
          // loop protocol (state-scoped shuffle partitions + AQE off,
          // lazy-checkpoint-plus-count rounds, convergence early-exit).
          // Near-dup components are shallow by construction; 50 caps a
          // pathological chain exactly like the old inline loop did.
          // Materialize before the shingle cache drops — handing the
          // lazy plan up would replay the iterative lineage uncached
          // when withShingleIndex writes it out.
          val outPath = s"${graft.Tables.scratchRoot}/graft_cluster_lbl_${graft.Tables.dirTag(d)}"
          GraphQueries.ccLoop(s, e, 50)
            .select(col("node").as("doc_id"), col("lbl").as("cluster"))
            .write.mode("overwrite").parquet(outPath)
          s.read.parquet(outPath)
        }.orderBy("doc_id"),
      s"""WITH RECURSIVE ${shinglesSqlCte(5)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b
         |  WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= 0.5),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
         |      UNION SELECT doc_b, doc_a FROM dup),
         |r AS (SELECT a AS id, a AS m FROM e
         |      UNION
         |      SELECT r.id, e.b FROM r JOIN e ON e.a = r.m)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin)),

    // Exact n-gram Jaccard near-dup via inverted-index join (shingle
    // equality), never all-pairs. 5-grams, not 3-grams: the corpus
    // vocabulary is small, so short shingles are hub keys shared by
    // dozens of documents and the index join explodes quadratically;
    // 5-gram shingles are nearly unique (max hub = 4 docs at sf0.1)
    // while planted near-dups keep jaccard >= 0.8 vs 0.0 noise.
    // Fully recomputed by the oracle.
    "q_dedup_ngram" -> ((
      (s: SparkSession, d: String) =>
        withShingleIndex(s, t(s, d, "documents"), 5,
          s"${graft.Tables.scratchRoot}/graft_res_ngram_${graft.Tables.dirTag(d)}") { idx =>
          val a = idx.select(col("doc_id").as("doc_a"), col("s"))
          val b = idx.select(col("doc_id").as("doc_b"), col("s"))
          val pairs = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          jaccardFilter(pairs, sizesOf(t(s, d, "documents"), 5), 0.5)
        }.orderBy("doc_a", "doc_b"),
      s"""WITH ${shinglesSqlCte(5)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b,
         |  round(i.inter * 1.0 / (sa.n + sb.n - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.doc_id = i.doc_a
         |JOIN sizes sb ON sb.doc_id = i.doc_b
         |WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // Directional containment dedup — C(a in b) = |Sa ∩ Sb| / |Sa|:
    // catches a document INCLUDED in a larger one, which symmetric
    // jaccard misses entirely (|Sb| >> |Sa| drives J toward 0 while C
    // stays 1) — the quote/aggregator-page case every pretraining
    // dedup pass needs beyond near-identity. Same inverted-index shape
    // as q_dedup_ngram (equality join on shingle, never all-pairs;
    // same df-bounded scale posture), emitted per DIRECTION: (a,b)
    // scores a's coverage, (b,a) scores b's.
    "q_text_containment" -> ((
      (s: SparkSession, d: String) =>
        withShingleIndex(s, t(s, d, "documents"), 5,
          s"${graft.Tables.scratchRoot}/graft_res_contain_${graft.Tables.dirTag(d)}") { idx =>
          val a = idx.select(col("doc_id").as("doc_a"), col("s"))
          val b = idx.select(col("doc_id").as("doc_b"), col("s"))
          val pairs = a.join(b, Seq("s"))
            .filter(col("doc_a") =!= col("doc_b"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          containmentFilter(pairs, sizesOf(t(s, d, "documents"), 5), 7)
        }.orderBy("doc_a", "doc_b"),
      s"""WITH ${shinglesSqlCte(5)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b,
         |  round(i.inter * 1.0 / sa.n, 6) AS containment
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |WHERE sa.n >= 10 AND i.inter * 10 >= sa.n * 7
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // MinHash-LSH near-dup: banded signature bucketing -> candidate
    // pairs -> exact verify. Oracle re-verifies the candidates.
    "q_dedup_minhash" -> ((
      (s: SparkSession, d: String) =>
        withShingleIndex(s, t(s, d, "documents"), 3,
          s"${graft.Tables.scratchRoot}/graft_res_minhash_${graft.Tables.dirTag(d)}") { idx =>
          candidateVerify(s, d, minhashCandidates(t(s, d, "documents")), idx,
            sizesOf(t(s, d, "documents"), 3),
            s"${graft.Tables.scratchRoot}/graft_cand_minhash_${graft.Tables.dirTag(d)}", 0.7)
        }.orderBy("doc_a", "doc_b"),
      verifySql(s"${graft.Tables.scratchRoot}/graft_cand_minhash_${graft.Tables.dirTag(graft.Tables.VerifySfDir)}", 0.7))),

    // Incremental cross-snapshot NEAR-dup — the MinHash twin of
    // q_dedup_incremental, and the operator a continuously-ingesting
    // pretraining pipeline actually needs (exact digests only catch
    // byte-identical recrawls; near-dup catches boilerplate re-renders).
    // The NEW batch (doc_id % 4 = 3) is signatured map-only; its LSH
    // bands equality-join the persisted band index of the previous
    // snapshot (ensureBandIndex — the accumulated corpus is never
    // re-signatured), and only the band-collision candidates pay the
    // exact-jaccard verify, over a shingle index built from JUST the
    // docs that appear in some candidate pair (semi-join pruned — at
    // 100 TB this is the bounded re-fetch of matched docs' text, not a
    // corpus rescan; a production index would persist shingle sets
    // alongside the bands). Output: verified (base doc_a, batch doc_b,
    // jaccard >= 0.7) pairs; the oracle re-verifies the exact candidate
    // set from the side-file, same protocol as q_dedup_minhash.
    "q_dedup_minhash_inc" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val candPath = s"${graft.Tables.scratchRoot}/graft_cand_minhinc_${graft.Tables.dirTag(d)}"
        incMinhashCandidateProbe(s, d)
          .write.mode("overwrite").parquet(candPath)
        val cand = s.read.parquet(candPath)
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        val inPlay = docs.join(candDocs, Seq("doc_id"), "left_semi")
        withShingleIndex(s, inPlay, 3,
          s"${graft.Tables.scratchRoot}/graft_res_minhinc_${graft.Tables.dirTag(d)}") { idx =>
          jaccardFilter(interFor(cand, idx), sizesOf(inPlay, 3), 0.7)
        }.orderBy("doc_a", "doc_b")
      },
      verifySql(s"${graft.Tables.scratchRoot}/graft_cand_minhinc_${graft.Tables.dirTag(graft.Tables.VerifySfDir)}", 0.7))),

    // SimHash near-dup: 64-bit signature, 16-bit bands -> candidates ->
    // exact verify. Oracle re-verifies the candidates.
    "q_dedup_simhash" -> ((
      (s: SparkSession, d: String) =>
        withShingleIndex(s, t(s, d, "documents"), 3,
          s"${graft.Tables.scratchRoot}/graft_res_simhash_${graft.Tables.dirTag(d)}") { idx =>
          candidateVerify(s, d, simhashCandidates(t(s, d, "documents")), idx,
            sizesOf(t(s, d, "documents"), 3),
            s"${graft.Tables.scratchRoot}/graft_cand_simhash_${graft.Tables.dirTag(d)}", 0.7)
        }.orderBy("doc_a", "doc_b"),
      verifySql(s"${graft.Tables.scratchRoot}/graft_cand_simhash_${graft.Tables.dirTag(graft.Tables.VerifySfDir)}", 0.7))),

    // Language-ID heuristic: stopword hits per language, argmax. Hit
    // counting is the codegen'd lang_hits expression — one hash-probe
    // pass over the tokens for all languages at once, not one
    // interpreted filter-lambda walk per language.
    "q_text_lang" -> ((
      (s: SparkSession, d: String) => {
        registerTextStats(s)
        t(s, d, "documents")
          .select(col("doc_id"), expr("lang_hits(split(text, ' '))").as("h"))
          .select(col("doc_id"),
            col("h").getItem(0).as("en_hits"),
            col("h").getItem(1).as("de_hits"),
            col("h").getItem(2).as("es_hits"))
          .withColumn("pred",
            when(col("en_hits") >= col("de_hits") &&
              col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
              .when(col("de_hits") >= col("es_hits") &&
                col("de_hits") > 0, "de")
              .when(col("es_hits") > 0, "es")
              .otherwise("unknown"))
          .orderBy("doc_id")
      },
      s"""SELECT doc_id,
         |CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) AS INT) AS en_hits,
         |CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopDe)})) AS INT) AS de_hits,
         |CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEs)})) AS INT) AS es_hits,
         |CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) >= len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopDe)}))
         |      AND len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) >= len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEs)}))
         |      AND len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) > 0 THEN 'en'
         |     WHEN len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopDe)})) >= len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEs)}))
         |      AND len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopDe)})) > 0 THEN 'de'
         |     WHEN len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEs)})) > 0 THEN 'es'
         |     ELSE 'unknown' END AS pred
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring: char/word counts, avg word length, stopword
    // ratio, type-token ratio. Pure per-row expressions (map-only).
    "q_text_quality" -> ((
      (s: SparkSession, d: String) => {
        registerTextStats(s)
        val words = split(col("text"), " ")
        val nWords = size(words)
        val stopHits = expr("lang_hits(split(text, ' '))[0]")
        t(s, d, "documents")
          .select(col("doc_id"),
            length(col("text")).as("n_chars_m"),
            nWords.as("n_words"),
            round(length(expr("replace(text, ' ', '')")) * 1.0 / nWords, 6)
              .as("avg_word_len"),
            round(stopHits * 1.0 / nWords, 6).as("stop_ratio"),
            round(size(array_distinct(words)) * 1.0 / nWords, 6).as("ttr"))
          .orderBy("doc_id")
      },
      s"""SELECT doc_id,
         |CAST(length(text) AS INT) AS n_chars_m,
         |CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         |round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 6) AS avg_word_len,
         |round(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stopEn)})) * 1.0 / len(string_split(text, ' ')), 6) AS stop_ratio,
         |round(len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')), 6) AS ttr
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gopher quality-rule filter (Rae et al. 2021, Appendix A1.1 — the
    // rule set C4/RefinedWeb-family pipelines actually apply before
    // training): word-count window, mean-word-length window,
    // alphabetic-word fraction, symbol-to-word ratio, and the
    // ≥2-distinct-stopwords test, each emitted as its own boolean next
    // to the composite keep. Every threshold is evaluated in INTEGER
    // cross-multiplied form (3·n ≤ chars ≤ 10·n, 5·alpha ≥ 4·n,
    // 10·sym ≤ n) so no float ratio can flip cross-engine. One
    // map-only projected scan — the whole filter is row-local.
    "q_text_gopher" -> ((
      (s: SparkSession, d: String) => {
        val words = split(col("text"), " ")
        val nWords = size(words).cast("long")
        val alphaChars =
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
        val alphaWords =
          expr("size(filter(split(text, ' '), w -> w rlike '[a-z]'))")
            .cast("long")
        val symbols =
          size(expr("regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)"))
            .cast("long")
        // Gopher's list is (the, be, to, of, and, that, have, with);
        // this corpus's English lexicon (stopEn) is the fixture
        // equivalent — the rule's SHAPE (≥2 distinct stopwords
        // present) is what transfers.
        val stopsPresent = size(array_intersect(array_distinct(words),
          array(stopEn.map(lit): _*))).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), nWords.as("n_words"),
            (nWords >= 50L && nWords <= 100000L).as("r_wordcount"),
            (alphaChars >= nWords * 3L && alphaChars <= nWords * 10L)
              .as("r_meanlen"),
            (alphaWords * 5L >= nWords * 4L).as("r_alphafrac"),
            (symbols * 10L <= nWords).as("r_symbols"),
            (stopsPresent >= 2L).as("r_stopwords"))
          .withColumn("keep",
            col("r_wordcount") && col("r_meanlen") && col("r_alphafrac") &&
              col("r_symbols") && col("r_stopwords"))
          .orderBy("doc_id")
      },
      """WITH g AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
        |      AS BIGINT) AS ac,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS aw,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT)
        |      AS sym,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['the','and','of','to','a','in','is']))
        |      AS BIGINT) AS sp
        |  FROM documents)
        |SELECT doc_id, n AS n_words,
        |  n >= 50 AND n <= 100000 AS r_wordcount,
        |  ac >= n * 3 AND ac <= n * 10 AS r_meanlen,
        |  aw * 5 >= n * 4 AS r_alphafrac,
        |  sym * 10 <= n AS r_symbols,
        |  sp >= 2 AS r_stopwords,
        |  (n >= 50 AND n <= 100000) AND (ac >= n * 3 AND ac <= n * 10)
        |    AND (aw * 5 >= n * 4) AND (sym * 10 <= n) AND (sp >= 2)
        |    AS keep
        |FROM g ORDER BY doc_id""".stripMargin)),

    // Character-entropy quality signal: Shannon bits over the
    // code-point distribution — the classic gibberish/compression
    // filter (too-low = repeated filler, too-high = random bytes;
    // Gopher/RefinedWeb-family heuristic). One codegen'd histogram
    // pass per row (char_entropy, TextStatExpressions) — the SQL
    // formulation explodes one row PER CHARACTER through an exchange,
    // a corpus-sized explode for a map-computable scalar.
    "q_text_entropy" -> ((
      (s: SparkSession, d: String) => {
        registerTextStats(s)
        t(s, d, "documents")
          .select(col("doc_id"),
            round(expr("char_entropy(text)"), 4).as("char_entropy"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, round(entropy(c), 4) AS char_entropy
        |FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |      FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Token counting: whitespace tokens + a BPE-ish regex segmentation.
    "q_text_tokens" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("ws_tokens"),
            size(expr("regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)"))
              .as("bpe_tokens"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Document fingerprint: sha256 over the sorted distinct token set —
    // an order-insensitive content fingerprint for fuzzy-dedup blocking.
    "q_text_fingerprint" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            sha2(array_join(array_sort(array_distinct(
              split(col("text"), " "))), " "), 256).as("fp"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Fuzzy (edit-distance) join — entity resolution between a dirty
    // probe set and a clean catalog. Probes are derived
    // deterministically (one character deleted from every 40th part
    // name, position keyed by the partkey) so both engines build the
    // same dirty side. Candidate generation is DELETION-NEIGHBORHOOD
    // blocking: each side explodes to its string plus all
    // single-character deletions, and lev(a,b) <= 1 GUARANTEES the two
    // neighborhoods intersect (del_variants, TextStatExpressions — a
    // provably complete, slightly over-generating blocking for k=1
    // whose false candidates the exact verify drops; k=2 composes the
    // same keys a second time). At 100 TB this is an equi-join on short variant
    // keys — fan-out bounded by name length, never a cross join, and
    // the codegen'd levenshtein verify runs only on candidates. The
    // naive formulation IS the oracle (brute-force lev over the cross
    // product), tractable for DuckDB at the verify SF only.
    "q_join_fuzzy" -> ((
      (s: SparkSession, d: String) => {
        registerTextStats(s)
        val part = t(s, d, "part").select(col("p_partkey"), col("p_name"))
        val probes = part.filter(col("p_partkey") % 40 === 1)
          .select(col("p_partkey").as("probe_id"),
            concat(
              expr("substr(p_name, 1, cast(p_partkey % length(p_name) AS INT))"),
              expr("substr(p_name, cast(p_partkey % length(p_name) AS INT) + 2)"))
              .as("q_name"))
        val catKeys = part.select(col("p_partkey"), col("p_name"),
          explode(expr("del_variants(p_name)")).as("v"))
        val probeKeys = probes.select(col("probe_id"), col("q_name"),
          explode(expr("del_variants(q_name)")).as("v"))
        probeKeys.join(catKeys, "v")
          .select("probe_id", "q_name", "p_partkey", "p_name").distinct()
          .filter(expr("levenshtein(q_name, p_name) <= 1"))
          .select(col("probe_id"), col("p_partkey").as("match_key"),
            expr("levenshtein(q_name, p_name)").cast("int").as("dist"))
          .orderBy("probe_id", "match_key")
      },
      """WITH probes AS (
        |  SELECT p_partkey AS probe_id,
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |      || substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2) AS q_name
        |  FROM part WHERE p_partkey % 40 = 1)
        |SELECT probe_id, p.p_partkey AS match_key,
        |  CAST(levenshtein(q_name, p.p_name) AS INT) AS dist
        |FROM probes, part p
        |WHERE levenshtein(q_name, p.p_name) <= 1
        |ORDER BY probe_id, match_key""".stripMargin)),

    // Feature hashing (the hashing trick): tokens bucketed by a digest
    // prefix into a fixed 256-dim hashed bag-of-words — the
    // vocabulary-free featurization a training pipeline uses when the
    // vocab no longer fits a dictionary: no global vocab build, no
    // second pass, and the (doc, bucket) counts partial-aggregate
    // map-side. Bucket key = first two hex chars of sha256(token), so
    // both engines bucket identically byte-for-byte.
    "q_text_feature_hash" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"),
            substring(sha2(col("tok"), 256), 1, 2).as("bucket"))
          .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "bucket"),
      """SELECT doc_id, substr(sha256(tok), 1, 2) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin)),

    // Hashed linear classifier scoring — the inference half of the
    // fastText-style quality filters (DCLM, FineWeb-Edu) a corpus
    // pipeline runs over every document: tokens → hashed feature ids →
    // per-feature weight lookup → linear score → keep/drop. The weight
    // table here is FROZEN PSEUDO-RANDOM (an exact integer function of
    // the feature digest) standing in for trained weights — what the
    // gate verifies is the scoring plumbing: the hashing trick needs no
    // vocab broadcast, the weight is computed IN ROW (no model-table
    // join at all — at 100 TB that's the difference between a map-only
    // scorer and shipping a weight table to every executor), and the
    // per-doc score partial-aggregates map-side with one doc_id
    // exchange. All-integer math: ascii() folds of the sha256 hex
    // prefix, so both engines score bit-identically.
    "q_text_classify" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", sha2(col("tok"), 256))
          .withColumn("w",
            (ascii(substring(col("h"), 1, 1)) * 4096 +
             ascii(substring(col("h"), 2, 1)) * 256 +
             ascii(substring(col("h"), 3, 1)) * 16 +
             ascii(substring(col("h"), 4, 1))) % 2001 - 1000)
          .groupBy("doc_id")
          .agg(sum(col("w").cast("long")).as("score"))
          .withColumn("keep", col("score") >= 0)
          .orderBy("doc_id"),
      """WITH w AS (SELECT doc_id,
        |  (ascii(substr(h,1,1))*4096 + ascii(substr(h,2,1))*256
        |   + ascii(substr(h,3,1))*16 + ascii(substr(h,4,1)))
        |    % 2001 - 1000 AS w
        |  FROM (SELECT doc_id,
        |          sha256(unnest(string_split(text, ' '))) AS h
        |        FROM documents))
        |SELECT doc_id, CAST(sum(w) AS BIGINT) AS score,
        |  (sum(w) >= 0) AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw
    // document by the log-likelihood ratio between a TARGET unigram
    // distribution (here the src0 slice standing in for the curated
    // target corpus) and the RAW distribution, over hashed n-gram
    // features — the vocabulary-free trick that makes the estimator a
    // fixed 256-bucket relation regardless of corpus size. Two honest
    // passes, exactly DSIR's shape: pass 1 folds token→bucket counts
    // into a 256-row relation (map-side partials, a 256-row exchange);
    // the add-one-smoothed log-ratio per bucket is computed ON that
    // relation (256 ln calls total, rounded to integer 1e-6 units —
    // boundary-audited in tools/check.py); pass 2 re-streams the
    // corpus, joins each token's bucket against the BROADCAST weight
    // table (≤256 rows forever — never a shuffle join at any scale),
    // and partial-aggregates per-doc sums into one doc_id exchange.
    // Bucket key = first two hex chars of sha256(token) so both
    // engines bucket identically byte-for-byte.
    "q_quality_dsir" -> ((
      (s: SparkSession, d: String) => {
        val tok = dsirTokens(t(s, d, "documents"))
        // Checkpoint the 256-row bucket fold ONCE so the (nt, nr)
        // totals head() and the weight derivation share one
        // materialization — two corpus passes at execution, not three.
        val bc = dsirBuckets(tok).localCheckpoint()
        val w = bc.select(col("bkt"), dsirWeight(bc).as("w_e6"))
        tok.join(broadcast(w), "bkt")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"), sum("w_e6").as("weight_e6"))
          .orderBy("doc_id")
      },
      """WITH tok AS (
        |  SELECT doc_id, source, substr(sha256(tok), 1, 2) AS bkt FROM (
        |    SELECT doc_id, source,
        |      unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |bc AS (
        |  SELECT bkt,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
        |    count(*) AS cr
        |  FROM tok GROUP BY bkt),
        |n AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
        |w AS (
        |  SELECT bkt, CAST(round(
        |      (ln((CAST(ct AS DOUBLE) + 1.0)
        |           / (CAST(n.nt AS DOUBLE) + 256.0))
        |       - ln((CAST(cr AS DOUBLE) + 1.0)
        |             / (CAST(n.nr AS DOUBLE) + 256.0)))
        |      * 1000000.0) AS BIGINT) AS w_e6
        |  FROM bc, n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(w_e6) AS BIGINT) AS weight_e6
        |FROM tok JOIN w USING (bkt)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CCNet head/middle/tail bucketing (Wenzek et al. 2020): the
    // quality partitioning every multilingual crawl release ships —
    // per LANGUAGE, rank documents by LM perplexity and cut the corpus
    // into perplexity terciles (head = lowest-perplexity third). Score
    // = per-doc average unigram NLL in integer 1e-6 units (add-one
    // smoothed, boundary-audited in tools/check.py; the bigram gate
    // q_text_perplexity already owns the LM-fidelity axis — this gate
    // owns the BUCKETING machinery). The tercile cutoffs are exact
    // order statistics found WITHOUT any per-language sort: the
    // ccnetScores relation is checkpointed once, then
    // Selection.kthSmallest's histogram-refinement kernel (the
    // distributed k-th-element algorithm, log_B(domain) passes of
    // B-row bucket counts) resolves ceil(n/3) and ceil(2n/3) per
    // language; the 2·|langs| cutoffs broadcast back and the census is
    // one row-local bucket assign + a (lang, bucket) aggregate. At
    // 100 TB the cost is: two corpus passes for the scores, then
    // cutoff passes over the persisted narrow score relation — never a
    // global sort, never a data-sized window.
    "q_text_ccnet" -> ((
      (s: SparkSession, d: String) => {
        import s.implicits._
        val sc = ccnetScores(s, d).localCheckpoint()
        val ranks = sc.groupBy("lang").agg(count(lit(1)).as("n"))
          .collect().map { r =>
            val n = r.getLong(1)
            r.getString(0) -> Seq((n + 2) / 3, (2 * n + 2) / 3)
          }.toMap
        // All 2·|langs| cutoff states narrow in ONE shared
        // bucket-count pass per round (Selection.groupedKth): the
        // whole derivation is ~3 jobs total regardless of language
        // count, vs 2·L independent kthSmallest descents.
        val cuts = Selection.groupedKth(sc, "lang", "nll", ranks)
          .toSeq.map { case (l, Seq(c1, c2)) => (l, c1, c2) }
          .toDF("lang", "c1", "c2")
        sc.join(broadcast(cuts), "lang")
          .withColumn("bucket",
            when(col("nll") <= col("c1"), "head")
              .when(col("nll") <= col("c2"), "middle")
              .otherwise("tail"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"), sum("nll").as("sum_nll_e6"))
          .orderBy("lang", "bucket")
      },
      """WITH tk AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
        |nv AS (SELECT sum(cnt) AS n, count(*) AS v FROM c),
        |lp AS (
        |  SELECT tok, CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0)
        |      / (CAST(nv.n AS DOUBLE) + CAST(nv.v AS DOUBLE)))
        |      * -1000000.0) AS BIGINT) AS nll_e6
        |  FROM c, nv),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(lp.nll_e6) // count(*) AS BIGINT) AS nll
        |  FROM tk JOIN lp USING (tok) GROUP BY doc_id, lang),
        |r AS (
        |  SELECT lang, nll,
        |    row_number() OVER (PARTITION BY lang ORDER BY nll) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM sc),
        |cuts AS (
        |  SELECT lang,
        |    min(CASE WHEN rnk >= (n + 2) // 3 THEN nll END) AS c1,
        |    min(CASE WHEN rnk >= (2 * n + 2) // 3 THEN nll END) AS c2
        |  FROM r GROUP BY lang)
        |SELECT sc.lang,
        |  CASE WHEN nll <= c1 THEN 'head' WHEN nll <= c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nll) AS BIGINT) AS sum_nll_e6
        |FROM sc JOIN cuts ON sc.lang = cuts.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Winnowing fingerprint (MOSS-style rolling scheme): hash every
    // ORDERED 3-gram shingle, slide a 4-hash window, keep each window's
    // minimum — the classic position-robust document fingerprint for
    // near-dup blocking (complements q_text_fingerprint's order-
    // insensitive whole-set digest). Map-only: per-row array ops, no
    // exchange. Hashes are sha256-prefix hex strings so the oracle's
    // lexicographic minima agree byte-for-byte.
    "q_text_winnow" -> ((
      (s: SparkSession, d: String) => {
        registerTextStats(s)
        t(s, d, "documents")
          .select(col("doc_id"),
            expr("winnow_fp(split(text, ' '))").as("r"))
          .select(col("doc_id"),
            col("r.n_fp").as("n_fp"), col("r.fp").as("fp"))
          .orderBy("doc_id")
      },
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3 THEN
        |    list_transform(range(1, len(t) - 1),
        |      i -> substr(sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16))
        |  ELSE CAST([] AS VARCHAR[]) END AS hs FROM tk),
        |wins AS (SELECT doc_id,
        |  CASE WHEN len(hs) >= 4 THEN
        |    list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))
        |  ELSE hs END AS w FROM sh)
        |SELECT doc_id, CAST(len(list_distinct(w)) AS INT) AS n_fp,
        |  coalesce(array_to_string(list_sort(list_distinct(w)), ','), '') AS fp
        |FROM wins ORDER BY doc_id""".stripMargin)),

    // The composed training-data pipeline: quality gate -> exact dedup
    // by content fingerprint -> near-dup removal (5-gram jaccard >= 0.5
    // via the inverted index, dropping the higher doc_id of every
    // confirmed pair). Each stage is the scalable shape of its
    // standalone operator; the oracle composes the identical relational
    // steps end-to-end.
    "q_corpus_clean" -> ((
      (s: SparkSession, d: String) => {
        val toks = split(col("text"), " ")
        val q = t(s, d, "documents")
          .filter(size(toks) >= 20 &&
            size(array_distinct(toks)) * 1.0 / size(toks) >= 0.3)
        val fp = q
          .withColumn("fp", sha2(array_join(array_sort(
            array_distinct(toks)), " "), 256))
          .groupBy("fp").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        // s1 (quality gate + exact-fingerprint dedup) feeds BOTH the
        // shingle index and the final anti-join; persist it so the
        // filter→agg→join lineage runs once, not per consumer. The
        // result below it is eagerly materialized by withShingleIndex,
        // so the unpersist after is safe.
        val s1 = q.join(fp, "doc_id").persist()
        try {
          s1.count() // warm the cache before the pipeline fans out
          withShingleIndex(s, s1.select("doc_id", "text"), 5,
            s"${graft.Tables.scratchRoot}/graft_res_clean_${graft.Tables.dirTag(d)}") { idx =>
            val a = idx.select(col("doc_id").as("doc_a"), col("s"))
            val b = idx.select(col("doc_id").as("doc_b"), col("s"))
            val pairs = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
              .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
            val dups = jaccardFilter(pairs, sizesOf(s1, 5), 0.5)
              .select(col("doc_b")).distinct()
            s1.join(dups, s1("doc_id") === dups("doc_b"), "left_anti")
              .select("doc_id", "lang", "n_chars")
          }.orderBy("doc_id")
        } finally s1.unpersist(blocking = true)
      },
      s"""WITH q AS (
         |  SELECT doc_id, text, lang, n_chars FROM documents
         |  WHERE len(string_split(text, ' ')) >= 20
         |    AND len(list_distinct(string_split(text, ' '))) * 1.0
         |        / len(string_split(text, ' ')) >= 0.3),
         |fp AS (
         |  SELECT min(doc_id) AS doc_id FROM q
         |  GROUP BY sha256(array_to_string(
         |    list_sort(list_distinct(string_split(text, ' '))), ' '))),
         |s1 AS (SELECT q.* FROM q JOIN fp USING (doc_id)),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(string_split(text, ' ')) >= 5 THEN
         |      list_transform(range(1, len(string_split(text, ' ')) - 3),
         |        i -> string_split(text, ' ')[i] || ' ' ||
         |             string_split(text, ' ')[i+1] || ' ' ||
         |             string_split(text, ' ')[i+2] || ' ' ||
         |             string_split(text, ' ')[i+3] || ' ' ||
         |             string_split(text, ' ')[i+4])
         |    ELSE CAST([] AS VARCHAR[]) END)) AS s
         |  FROM s1),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dups AS (
         |  SELECT DISTINCT p.doc_b FROM pairs p
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b
         |  WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.5)
         |SELECT doc_id, lang, n_chars FROM s1
         |WHERE doc_id NOT IN (SELECT doc_b FROM dups)
         |ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination — the canonical training-data step:
    // drop corpus documents sharing any 5-gram with the evaluation set
    // (here: doc_id < 5 stands in for the benchmark). Scale shape: the
    // benchmark's distinct shingles are SMALL by definition (eval
    // suites are KBs–MBs), so contamination detection is a broadcast
    // semi-join against the corpus shingle stream — map-only over the
    // corpus, no corpus-sized exchange.
    "q_text_decontaminate" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        graft.functions.SketchFunctions.register(s)
        def shingled(df: DataFrame): DataFrame = df
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"),
            explode(expr("word_shingles_distinct(tk, 5)")).as("s"))
        val bench = shingled(docs.filter(col("doc_id") < 5))
          .select("s").distinct()
        val contaminated = shingled(docs.filter(col("doc_id") >= 5))
          .join(broadcast(bench), "s")
          .select("doc_id").distinct()
        docs.filter(col("doc_id") >= 5)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      s"""WITH ${shinglesSqlCte(5)},
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM sh
         |  WHERE doc_id >= 5 AND s IN (SELECT s FROM bench))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id >= 5
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin)),

    // Near-dup benchmark decontamination — the stricter sibling of
    // q_text_decontaminate (exact shared-5-gram) that production
    // pipelines also run: drop corpus documents whose 3-gram Jaccard
    // with ANY benchmark document clears 0.7 (a light paraphrase or
    // re-render of an eval item shares most shingles but not
    // necessarily one exact 5-gram window... and vice versa). Scale
    // shape: the benchmark side is SMALL by definition, so the
    // intersection counts come from a broadcast join against the
    // corpus shingle stream — map-only over the corpus, no LSH needed
    // and no false negatives (this is exact, unlike corpus-vs-corpus
    // near-dup where all-pairs is impossible). Threshold compares in
    // cross-multiplied integers.
    "q_decontaminate_neardup" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        graft.functions.SketchFunctions.register(s)
        def sh(df: DataFrame): DataFrame = df
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"),
            explode(expr("word_shingles_distinct(tk, 3)")).as("s"))
        val bench = sh(docs.filter(col("doc_id") < 50))
          .select(col("doc_id").as("bench_id"), col("s"))
        val benchSizes = bench.groupBy("bench_id")
          .agg(count(lit(1)).as("nb"))
        val corpus = sh(docs.filter(col("doc_id") >= 50))
        val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("na"))
        val inter = corpus.join(broadcast(bench), "s")
          .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("i"))
        val contaminated = inter
          .join(sizes, "doc_id").join(broadcast(benchSizes), "bench_id")
          .filter(col("i") * 10 >= (col("na") + col("nb") - col("i")) * 7)
          .select("doc_id").distinct()
        docs.filter(col("doc_id") >= 50)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      s"""WITH ${shinglesSqlCte(3)},
         |inter AS (
         |  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS i
         |  FROM sh c JOIN sh b
         |    ON c.s = b.s AND b.doc_id < 50 AND c.doc_id >= 50
         |  GROUP BY 1, 2),
         |contaminated AS (
         |  SELECT DISTINCT i.doc_id FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.doc_id
         |  JOIN sizes sb ON sb.doc_id = i.bench_id
         |  WHERE i.i * 10 >= (sa.n + sb.n - i.i) * 7)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id >= 50
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin)),

    // Decontamination at EVAL-SUITE scale — the regime where the
    // benchmark side outgrows a broadcast (a full eval-suite union
    // plus its paraphrase expansions can reach tens of GB against a
    // 100 TB corpus). Two deliberate differences from
    // q_text_decontaminate: (1) NO broadcast hint — the size-based
    // planner picks broadcast at gate scale and flips to a shuffled
    // equi-join when the bench side crosses the threshold (the r7
    // broadcast->SMJ flip, gated in both regimes in PlanQualitySpec);
    // (2) the map-side vocabulary prune survives the flip as an
    // EXPLICIT bloom pre-probe: the bench shingle set aggregates into
    // a bounded bloom scalar (<=8 MB at ANY bench size) that prunes
    // the corpus shingle stream BEFORE its exchange — without it, the
    // shuffled regime pays a corpus-shingle-sized exchange, which is
    // the whole cost at 100 TB. No false negatives, so the join
    // output — and the oracle identity — is unchanged in both regimes.
    "q_decontaminate_large" -> ((
      (s: SparkSession, d: String) => decontaminateLargePlan(s, d)
        .orderBy("doc_id"),
      s"""WITH ${shinglesSqlCte(5)},
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 3 = 0),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM sh
         |  WHERE doc_id % 3 <> 0 AND s IN (SELECT s FROM bench))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id % 3 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin)),

    // Repetition signals (Gopher/RefinedWeb-style quality rules):
    // duplicate word-2-gram fraction and top-word dominance — pure
    // map-side per-row array math, no exchange. The per-row pass is the
    // codegen'd rep_stats expression (graft.functions.TextStats): one
    // O(tokens) frequency-map walk yielding 2-gram counts and max token
    // frequency — replacing an interpreted transform+array_distinct
    // 2-gram build plus an O(N log N) aggregate-over-array_sort.
    "q_text_repetition" -> ((
      (s: SparkSession, d: String) => {
        registerTextStats(s)
        t(s, d, "documents")
          .select(col("doc_id"),
            expr("rep_stats(split(text, ' '))").as("r"),
            size(split(col("text"), " ")).as("n"))
          .select(
            col("doc_id"),
            round(when(col("r.n_g2") > 0,
              lit(1.0) - col("r.n_g2_distinct") * 1.0 / col("r.n_g2"))
              .otherwise(lit(0.0)), 6).as("dup_2gram_ratio"),
            round(col("r.top_count") * 1.0 / col("n"), 6)
              .as("top_word_ratio"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, tk,
        |    CASE WHEN len(tk) >= 2 THEN
        |      list_transform(range(1, len(tk)),
        |        i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE CAST([] AS VARCHAR[]) END AS g2
        |  FROM t)
        |SELECT doc_id,
        |  round(CASE WHEN len(g2) > 0
        |    THEN 1.0 - len(list_distinct(g2)) * 1.0 / len(g2)
        |    ELSE 0.0 END, 6) AS dup_2gram_ratio,
        |  round(list_max(list_transform(list_distinct(tk),
        |      w -> len(list_filter(tk, x -> x = w)))) * 1.0 / len(tk), 6)
        |    AS top_word_ratio
        |FROM g ORDER BY doc_id""".stripMargin)),

    // Index compaction — the "next full sync" step the incremental /
    // streaming dedup protocol promises (incDedupBatch's per-batch
    // acceptance dirs are bounded BECAUSE this folds them away): base
    // digest index ∪ per-batch acceptance dirs → distinct → ONE new
    // index generation. The compaction plan touches INDEX ARTIFACTS
    // ONLY — the corpus is never re-hashed (plan-gated: no documents
    // scan in the fold), so its cost tracks the index size, not the
    // data. The gate's setup half stands in for a streaming session's
    // leftovers: two batch-acceptance dirs built under the same
    // first-seen-anti-join rule.
    "q_index_compact" -> ((
      (s: SparkSession, d: String) => {
        val root = s"${graft.Tables.scratchRoot}/graft_idxcomp_${graft.Tables.dirTag(d)}"
        val baseIdx = s.read.parquet(ensureDigestIndex(s, d))
        val batch = t(s, d, "documents").filter(col("doc_id") % 4 === 3)
        for (b <- 0 to 1) {
          batch.filter((col("doc_id") / lit(4)).cast("long") % 2 === b)
            .select(sha2(col("text"), 256).as("digest")).distinct()
            .join(baseIdx, Seq("digest"), "left_anti")
            .write.mode("overwrite").parquet(s"$root/idx/batch=$b")
        }
        val gen = s"$root/gen1"
        indexCompactPlan(s, d, root)
          .write.mode("overwrite").parquet(gen)
        s.read.parquet(gen).orderBy("digest")
      },
      """SELECT DISTINCT sha256(text) AS digest
        |FROM documents ORDER BY digest""".stripMargin)),

    // Corpus-driven stopword discovery — the lexicon induction step
    // cleaning pipelines run before tokenization choices are frozen
    // (hand lists don't transfer across domains): a token is a
    // stopword CANDIDATE when its document frequency exceeds 60% of
    // the corpus. One inverted pass — per-document distinct tokens
    // map-side (explode + distinct inside the doc), then ONE
    // token-keyed partial+final count; the corpus size is a one-row
    // driver scalar. Exact integer df share (e4). The df threshold is
    // the same vocabulary-pruning idea the bm25/decontamination
    // family leans on — this gate emits the lexicon itself.
    "q_text_stopwords" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        docs.select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") * 10000L >= lit(n) * 6000L)
          .select(col("tok"), col("df"),
            expr(s"df * 10000L div ${n}L").as("df_share_e4"))
          .orderBy("tok")
      },
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(list_distinct(
        |    string_split(text, ' '))) AS tok FROM documents),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |  FROM tok WHERE tok <> '' GROUP BY 1)
        |SELECT tok, df,
        |  CAST(df * 10000 // n.n AS BIGINT) AS df_share_e4
        |FROM df, n WHERE df * 10000 >= n.n * 6000
        |ORDER BY tok""".stripMargin)),

    // Per-source corpus report card — the one-page deliverable a data
    // vendor hands over with a corpus drop, composed from the
    // families' own primitives: per source the doc count, exact-dup
    // share (digest-domain aggregate — the q_dedup_exact derivation),
    // char mass, and length extrema; dup share in exact integer e4.
    // One corpus scan feeds both the digest aggregate and the
    // row-local stats; everything after is source/digest-domain
    // sized.
    "q_source_report" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
          .select(col("source"), col("n_chars"),
            sha2(col("text"), 256).as("digest"))
        val dig = docs.groupBy("source", "digest")
          .agg(count(lit(1)).as("c"))
        val dups = dig.groupBy("source")
          .agg(sum(col("c") - 1L).as("n_dups"),
            count(lit(1)).as("n_distinct"))
        val base = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
            min("n_chars").as("min_len"), max("n_chars").as("max_len"))
        base.join(dups, "source")
          .select(col("source"), col("n_docs"), col("n_distinct"),
            col("n_dups"),
            expr("n_dups * 10000L div n_docs").as("dup_share_e4"),
            col("chars"), col("min_len"), col("max_len"))
          .orderBy("source")
      },
      """WITH dg AS (SELECT source, sha256(text) AS digest,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |du AS (SELECT source, CAST(sum(c - 1) AS BIGINT) AS n_dups,
        |    CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM dg GROUP BY 1),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(min(n_chars) AS BIGINT) AS min_len,
        |    CAST(max(n_chars) AS BIGINT) AS max_len
        |  FROM documents GROUP BY 1)
        |SELECT b.source, n_docs, n_distinct, n_dups,
        |  CAST(n_dups * 10000 // n_docs AS BIGINT) AS dup_share_e4,
        |  chars, min_len, max_len
        |FROM b JOIN du ON du.source = b.source
        |ORDER BY b.source""".stripMargin)),

    // Contrastive pair curation (CLIP-style) — the step that turns an
    // asset table and a caption table into a TRAINING PAIR table:
    // candidate captions join on the pairing key, per-asset BEST
    // caption selection (longest, ties to the smaller id — a real
    // pipeline swaps an alignment score at the same argmax seam),
    // row-local quality gates on both sides (caption length band,
    // non-trivial payload), and exact payload-digest dedup (repeated
    // images keep ONE pair — the smallest asset id — so a duplicated
    // asset cannot dominate the contrastive batch distribution). The
    // pairing join is key-equi (never similarity-driven here — that's
    // the retrieval family's job); the dedup is one digest-domain
    // aggregate + semi-join; everything else is row-local. Fixture:
    // even docs are assets (payload = text bytes), every doc is a
    // caption candidate keyed by doc_id div 2 (so each asset sees ~2
    // candidates and selection is real); digests use the sha256
    // derivation the whole multimodal family shares.
    "q_multimodal_pair" -> ((
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val assets = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("asset_id"),
            sha2(col("text"), 256).as("digest"),
            length(col("text")).cast("long").as("n_bytes"))
          .filter(col("n_bytes") >= 30L)
        val caps = docs.select(col("doc_id").as("cap_id"),
            expr("doc_id div 2").as("pair_key"),
            col("n_chars").as("cap_len"))
          .filter(col("cap_len").between(30L, 4000L))
        val best = assets
          .join(caps, expr("asset_id div 2") === caps("pair_key"))
          .groupBy("asset_id", "digest", "n_bytes")
          .agg(max(struct(col("cap_len"),
            (-col("cap_id")).as("nc"))).as("m"))
          .select(col("asset_id"), col("digest"), col("n_bytes"),
            (-col("m").getField("nc")).as("cap_id"),
            col("m").getField("cap_len").as("cap_len"))
        val keep = best.groupBy("digest")
          .agg(min("asset_id").as("asset_id"))
        best.join(keep, Seq("digest", "asset_id"), "left_semi")
          .select("asset_id", "cap_id", "n_bytes", "cap_len")
          .orderBy("asset_id")
      },
      """WITH assets AS (SELECT doc_id AS asset_id,
        |    sha256(text) AS digest,
        |    CAST(length(text) AS BIGINT) AS n_bytes
        |  FROM documents WHERE doc_id % 2 = 0
        |    AND length(text) >= 30),
        |caps AS (SELECT doc_id AS cap_id, doc_id // 2 AS pair_key,
        |    CAST(n_chars AS BIGINT) AS cap_len
        |  FROM documents WHERE n_chars BETWEEN 30 AND 4000),
        |best AS (SELECT asset_id, digest, n_bytes, cap_id, cap_len
        |  FROM (SELECT a.asset_id, a.digest, a.n_bytes, c.cap_id,
        |      c.cap_len,
        |      row_number() OVER (PARTITION BY a.asset_id
        |        ORDER BY c.cap_len DESC, c.cap_id) AS rn
        |    FROM assets a JOIN caps c ON a.asset_id // 2 = c.pair_key)
        |  WHERE rn = 1),
        |keep AS (SELECT digest, min(asset_id) AS asset_id
        |         FROM best GROUP BY 1)
        |SELECT b.asset_id, b.cap_id, b.n_bytes, b.cap_len
        |FROM best b JOIN keep k
        |  ON k.digest = b.digest AND k.asset_id = b.asset_id
        |ORDER BY b.asset_id""".stripMargin)),

    // Multimodal plumbing: opaque binary payload column + typed metadata.
    // The real decode would be a per-partition codec (see
    // graft.multimodal); here the Spark-side schema/typing contract is
    // exercised: utf8 payload bytes, byte length, content head as hex.
    // Multimodal decode/feature-extract: the per-partition codec
    // boundary (graft.multimodal.Multimodal.decode — the Scala analogue
    // of a batch-wise Pandas UDF over mapInPandas) driven end-to-end
    // through the driver gate. The decode itself is the documented
    // deterministic stub (no media libs in env): features derive from
    // sha256(payload), which the oracle recomputes exactly.
    "q_multimodal_decode" -> ((
      (s: SparkSession, d: String) => {
        val assets = graft.multimodal.Multimodal.assetsFromBinary(
          t(s, d, "documents")
            .withColumn("bin", col("text").cast("binary")),
          "doc_id", "bin", "text/plain")
        graft.multimodal.Multimodal.decode(assets).toDF()
          .select(col("asset_id"), col("n_bytes"), col("width"),
            col("height"), col("checksum"))
          .orderBy("asset_id")
      },
      """WITH u AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (strpos('0123456789abcdef', substr(sha256(text), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS uv
        |  FROM documents)
        |SELECT doc_id AS asset_id, n_bytes,
        |  CAST(64 + (uv % 1024) AS INT) AS width,
        |  CAST(64 + ((uv // 1024) % 1024) AS INT) AS height,
        |  CAST(CASE WHEN uv >= 9223372036854775808::HUGEINT
        |    THEN uv - 18446744073709551616::HUGEINT ELSE uv END AS BIGINT)
        |    AS checksum
        |FROM u ORDER BY asset_id""".stripMargin)),

    // Frame sampling (the explode side of video handling): every 3rd
    // frame index up to the stub-decoded "frame count" (pmod(checksum,
    // 10)). One row per (asset, sampled frame) — the oracle recomputes
    // the stub checksum and the identical stepped index range.
    "q_multimodal_frames" -> ((
      (s: SparkSession, d: String) => {
        val assets = graft.multimodal.Multimodal.assetsFromBinary(
          t(s, d, "documents")
            .withColumn("bin", col("text").cast("binary")),
          "doc_id", "bin", "text/plain")
        graft.multimodal.Multimodal.sampleFrames(
          graft.multimodal.Multimodal.decode(assets), every = 3)
          .orderBy("asset_id", "frame_idx")
      },
      """WITH u AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (strpos('0123456789abcdef', substr(sha256(text), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS uv
        |  FROM documents),
        |s AS (
        |  SELECT doc_id AS asset_id, n_bytes,
        |    CAST(CASE WHEN uv >= 9223372036854775808::HUGEINT
        |      THEN uv - 18446744073709551616::HUGEINT ELSE uv END AS BIGINT)
        |      AS c
        |  FROM u)
        |SELECT asset_id,
        |  unnest(generate_series(0, ((c % 10) + 10) % 10, 3)) AS frame_idx,
        |  n_bytes
        |FROM s ORDER BY asset_id, frame_idx""".stripMargin)),

    // Resize (the named third codec verb after decode and
    // frame-sample): fit the stub-decoded dims into a 256-box
    // preserving aspect — exact integer floor-division arithmetic so
    // the oracle recomputes identical dims from the same sha256-head
    // derivation. Plumbing-wise this is the CHAINED per-partition
    // codec shape (decode -> resize, two mapPartitions stages, codec
    // init amortized per task per stage); a real impl re-encodes the
    // payload in the same stage with no plan change.
    "q_multimodal_resize" -> ((
      (s: SparkSession, d: String) => {
        val assets = graft.multimodal.Multimodal.assetsFromBinary(
          t(s, d, "documents")
            .withColumn("bin", col("text").cast("binary")),
          "doc_id", "bin", "text/plain")
        graft.multimodal.Multimodal.resize(
          graft.multimodal.Multimodal.decode(assets), box = 256).toDF()
          .orderBy("asset_id")
      },
      """WITH u AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (strpos('0123456789abcdef', substr(sha256(text), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS uv
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(64 + (uv % 1024) AS INT) AS width,
        |    CAST(64 + ((uv // 1024) % 1024) AS INT) AS height
        |  FROM u)
        |SELECT asset_id, width, height,
        |  CAST(greatest(1, width * 256 // greatest(width, height)) AS INT)
        |    AS out_width,
        |  CAST(greatest(1, height * 256 // greatest(width, height)) AS INT)
        |    AS out_height
        |FROM dims ORDER BY asset_id""".stripMargin)),

    "q_multimodal_meta" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"),
            lit("text/plain").as("mime"))
          .select(col("doc_id"),
            length(col("payload")).as("n_bytes"),
            col("mime"),
            substring(hex(col("payload")), 1, 16).as("head_hex"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |'text/plain' AS mime,
        |substr(upper(hex(encode(text))), 1, 16) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal payload dedup — exact dedup keyed on the BINARY
    // content digest (images/audio dedup by bytes, before any decode):
    // the q_dedup_exact shape applied to the opaque payload column.
    // The 32-byte sha2 digest is the shuffle key; duplicate payloads
    // collapse map-side. At 100 TB the digest would be computed at
    // ingest and stored, making this a pure metadata aggregation.
    "q_multimodal_dedup" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .groupBy(sha2(col("payload"), 256).as("digest"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
            min(length(col("payload"))).as("n_bytes"))
          .select("doc_id", "digest", "n_copies", "n_bytes")
          .orderBy("doc_id"),
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |sha256(text) AS digest,
        |CAST(count(*) AS BIGINT) AS n_copies,
        |CAST(min(octet_length(encode(text))) AS INT) AS n_bytes
        |FROM documents GROUP BY sha256(text)
        |ORDER BY doc_id""".stripMargin)),

    // Multimodal PERCEPTUAL near-dup — the fuzzy twin of
    // q_multimodal_dedup (which only collapses byte-identical
    // payloads): simhash over the payload's byte 4-grams, Hamming-band
    // LSH buckets, capped bucket join, full-signature Hamming
    // pre-verify, then EXACT byte-shingle Jaccard >= 0.8. Never
    // all-pairs (plan-gated via planProbe("mmnear")). The oracle
    // re-verifies the exact candidate set with the same integer
    // shingle arithmetic. At 100 TB the signature is computed at
    // ingest next to the digest; only (doc_id, band, bucket) rows
    // reach the exchange.
    "q_multimodal_neardup" -> ((
      (s: SparkSession, d: String) => {
        // Candidates materialize FIRST inside verifiedBytePairs (the
        // side-file doubles as the oracle's verify input), and the
        // byte-shingle verify index is built over IN-PLAY docs only —
        // the pair-member semi-join keeps the exploded index
        // candidate-sized, not corpus-sized (the 10x soak measured the
        // full-corpus index at 1.27x per-row; with the restriction the
        // per-sync verify cost tracks the candidate count, the same
        // contract as q_dedup_minhash_inc).
        verifiedBytePairs(s, d).orderBy("doc_a", "doc_b")
      },
      byteVerifySql(
        s"${graft.Tables.scratchRoot}/graft_res_mmnear_${graft.Tables.dirTag(graft.Tables.VerifySfDir)}/cand",
        0.8))),

    // Multimodal dedup CLUSTERING — the binary-column twin of
    // q_dedup_cluster: the verified byte-gram near-dup pair graph
    // (q_multimodal_neardup's pipeline, same shared candidate
    // side-file) contracted to cluster labels by min-label CC. Only
    // the tiny confirmed-pair graph iterates (the corpus contributes
    // one signature pass + the candidate-restricted verify); rounds
    // follow the materialized-state Pregel protocol via
    // GraphQueries.ccRound. A 100 TB image pipeline keeps exactly one
    // representative per cluster — this labeling is that kill list.
    "q_multimodal_cluster" -> ((
      (s: SparkSession, d: String) => {
        val dups = verifiedBytePairs(s, d).select("doc_a", "doc_b")
        val e = dups.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionByName(
            dups.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .localCheckpoint()
        GraphQueries.ccLoop(s, e, 20)
          .select(col("node").as("doc_id"), col("lbl").as("cluster"))
          .orderBy("doc_id")
      },
      byteClusterSql(
        s"${graft.Tables.scratchRoot}/graft_res_mmnear_${graft.Tables.dirTag(graft.Tables.VerifySfDir)}/cand",
        0.8)))
  )
}
