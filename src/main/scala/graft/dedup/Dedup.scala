package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lineage.TruncateOps
import graft.functions.GraftFunctions
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines: exact (hash-group),
  * n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: nothing here ever materializes an all-pairs cross join.
  * Candidates come from equi-join-able keys (fingerprints, shingles, LSH
  * band hashes, hyperplane buckets), so every stage is a shuffle hash join
  * that partitions by key. Pathological buckets (a shingle or band shared by
  * thousands of docs) are dropped with an explicit frequency cap — the
  * standard LSH skew guard — before the pair expansion can go quadratic.
  */
object Dedup {

  /** Explicit `checkpointDir` argument wins; otherwise the session-level
    * truncation policy ([[graft.Lineage.CheckpointDirConf]]) decides. */
  private def resolveCheckpointDir(
      pairs: DataFrame, explicitDir: Option[String]): Option[String] =
    explicitDir.orElse(graft.Lineage.confDir(pairs))

  /** Exact dedup via canonical-text fingerprint: one row per distinct
    * content with the kept (minimum) id and the duplicate count.
    * Extends the reference's dropDuplicates (D2,
    * Sales_forecast_pyspark.py:99) to content-hash grouping. */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(TextFunctions.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Adds a `shingles` column: distinct word k-shingles of the canonical
    * text (the unit of Jaccard similarity). */
  def withShingles(docs: DataFrame, textCol: String, k: Int = 3): DataFrame =
    docs.withColumn(
      "shingles",
      TextFunctions.wordShingles(
        TextFunctions.tokens(TextFunctions.normText(col(textCol))), k))

  /** n-gram Jaccard over the frequency-capped shingle inverted index.
    * `maxShingleDf` drops shingles more frequent than the cap BEFORE the
    * pair expansion (stopword-like shingles would otherwise create quadratic
    * buckets — the standard LSH skew guard), and the score is the Jaccard of
    * the PRUNED shingle universe: dropped shingles vanish from numerator and
    * denominator alike, so the score is self-consistent (never the
    * underestimate a mixed pruned-intersection / full-union computation
    * yields). With the cap inactive this IS the exact full-set Jaccard; with
    * it active it is the Jaccard of the informative (non-stopword) shingles —
    * for exact full-set scores at any cap, [[minhashNearDups]] verifies its
    * candidates against complete shingle sets.
    *
    * Scale shape: everything after shingling is skinny (doc, shingle) rows —
    * candidate counts and per-doc sizes both come from the same pruned index
    * via equi-joins, no shingle-array ever crosses a shuffle. (The previous
    * exact-set variant shuffled two ~100-string arrays per candidate pair:
    * 90 of its 155 seconds at sf0.1 was that scoring join.) The shingled
    * frame and the pruned index are local-checkpointed (one tokenize pass,
    * one index build; blocks are ContextCleaner-released on GC, unlike a
    * session-lifetime persist). */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      maxShingleDf: Int = 1000): DataFrame = {
    val shingled = withShingles(docs, textCol, k)
      .select(col(idCol).as("doc"), col("shingles"))
      .truncateLineage()
    val sh = shingled.select(col("doc"), explode(col("shingles")).as("shingle"))
    val hot = sh.groupBy("shingle").count().filter(col("count") > maxShingleDf)
      .select("shingle")
    val pruned = sh.join(hot, Seq("shingle"), "left_anti").truncateLineage()
    val counts = pruned.groupBy("doc").agg(count(lit(1)).as("n_shingles"))
    // Self-join via structurally renamed frames: with a shared lineage and
    // .as() aliases Spark can fail to treat `shingle = shingle` as an
    // equi-key and degrade to a near-cartesian nested-loop join.
    val base = pruned.select("doc", "shingle")
    val left = base.toDF("id1", "shingle")
    val right = base.toDF("id2", "shingle_r")
    val inter = left
      .join(right, col("shingle") === col("shingle_r") && col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(counts.toDF("id1", "n1"), "id1")
      .join(counts.toDF("id2", "n2"), "id2")
      .withColumn(
        "jaccard",
        col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")).cast("double"))
      .select("id1", "id2", "n_common", "jaccard")
  }

  /** MinHash signature: numHashes min-hash slots computed in one fused pass
    * over the shingle array (codegen'd custom expression). */
  def withMinhash(shingled: DataFrame, numHashes: Int = 16): DataFrame =
    shingled.withColumn(
      "minhash", GraftFunctions.minHash(col("shingles"), numHashes))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * hash each band, explode to (id, band, band_hash) bucket keys. */
  def minhashBands(
      withSig: DataFrame,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val r = numHashes / bands
    withSig.select(
      col(idCol).as("doc"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("minhash"), b * r + 1, lit(r))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Candidate pairs from MinHash LSH buckets, with a bucket-size skew cap,
    * verified with exact Jaccard over the shingle sets. */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 200,
      threshold: Double = 0.5): DataFrame = {
    val shingled = withShingles(docs, textCol, k)
    val buckets = minhashBands(withMinhash(shingled, numHashes), idCol, numHashes, bands)
    val hot = buckets.groupBy("band", "band_hash").count()
      .filter(col("count") > maxBucket).select("band", "band_hash")
    val pruned = buckets.join(hot, Seq("band", "band_hash"), "left_anti")
    val base = pruned.select("doc", "band", "band_hash")
    val left = base.toDF("id1", "band", "band_hash")
    val right = base.toDF("id2", "band_r", "hash_r")
    val cand = left
      .join(right,
        col("band") === col("band_r") && col("band_hash") === col("hash_r") &&
          col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val sets = shingled.select(col(idCol), col("shingles"))
    cand
      .join(sets.select(col(idCol).as("id1"), col("shingles").as("sh1")), "id1")
      .join(sets.select(col(idCol).as("id2"), col("shingles").as("sh2")), "id2")
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** ENGINE-PORTABLE MinHash LSH candidates via the classic universal-hash
    * minwise family (Broder): each shingle is hashed ONCE with a portable
    * base hash `h = hex32(md5(shingle)) mod p`, and slot i of a doc's
    * signature is `min over its shingle set of (a_i·h + b_i) mod p` with
    * p = 2^31−1 (Mersenne) and per-seed md5-derived a_i ∈ [1, p),
    * b_i ∈ [0, p) — a true bijection on [0, p) per slot. md5 + int64
    * arithmetic exist in every engine, so unlike [[withMinhash]] (fused
    * murmur3, JVM-only, faster) this signature replays bit-exactly in SQL
    * and the FULL production fuzzy-dedup pairing (banded candidate
    * generation → exact verify tier) becomes oracle-checkable end to end,
    * not just the threshold-1.0 degenerate case (q_dd2b's construction).
    * Overflow headroom: a_i, h < 2^31 ⇒ a·h + b < 2^62 — never wraps.
    *
    * Scale shape: one shingle explode × numHashes map-side hash rows (the
    * standard MinHash cost, linear in corpus shingle mass), one
    * (doc, slot)-keyed min aggregate, one (doc, band)-keyed band-key
    * aggregate, and a band-bucket self-join with an explicit bucket-size
    * cap (`maxBucket`) pruning pathological buckets BEFORE pair expansion
    * — the same LSH skew guard as [[minhashNearDups]], deterministic and
    * SQL-mirrored. Returns distinct (id1, id2) candidate pairs,
    * id1 < id2. */
  def portableMinhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 100): DataFrame =
    portableMinhashCandidatesShingled(
      withShingles(docs, textCol, k).select(col(idCol).as("doc"), col("shingles")),
      numHashes, bands, maxBucket)

  /** [[portableMinhashCandidates]] over a pre-shingled (doc, shingles)
    * frame — lets a composed pipeline (q_dd11) shingle ONCE and share the
    * frame with its verify tier instead of tokenizing the corpus twice. */
  def portableMinhashCandidatesShingled(
      shingled: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 100): DataFrame = {
    val r = numHashes / bands
    require(r * bands == numHashes, "numHashes must divide into bands")
    // the whole signature is computed MAP-SIDE in one pass over each doc's
    // shingle array (higher-order transform/array_min — no 16× row explode
    // shuffled through a (doc, slot) aggregate; one md5 per shingle, the
    // slots are integer mixes of it); the first shuffle in the plan is the
    // bucket-cap groupBy over skinny (doc, band, bkey) rows
    // the permutation family must be a true bijection on the hash domain
    // or slots CORRELATE and junk pairs share whole bands (two failed
    // designs live in this file's history: near-constant a_i never
    // wrapped the modulus — every slot collapsed to a function of
    // min(h); and p = 2^61−1 ≫ range(h) made each slot a few ordered
    // ramps of h — the min kept tracking the globally smallest h). The
    // textbook fix: Mersenne p = 2^31−1, h reduced into [0, p), per-seed
    // md5-derived a ∈ [1, p), b ∈ [0, p) — (a·h + b) mod p is a bijection
    // on [0, p), products stay < 2^62 (no int64 wrap), and every engine
    // replays it. The coefficients are CONSTANTS, computed driver-side
    // (same md5 derivation the oracle runs in SQL) and embedded as
    // literal arrays; the signature is ONE aggregate pass over the hash
    // array — md5 runs exactly once per shingle even after Catalyst
    // collapses projections (16 array_min passes each referencing the
    // hvals alias would inline — and recompute — the md5 transform 16×).
    val P = 2147483647L
    def hex32md5(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString,
        16)
    val aArr = array((0 until numHashes)
      .map(i => lit(hex32md5("a" + i) % (P - 1) + 1L)): _*)
    val bArr = array((0 until numHashes).map(i => lit(hex32md5("b" + i) % P)): _*)
    val sigArr = aggregate(
      transform(col("shingles"), sh0 =>
        conv(substring(md5(sh0), 1, 8), 16, 10).cast("long") % lit(P)),
      array_repeat(lit(P), numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, i) => least(m,
          (element_at(aArr, i + 1) * h + element_at(bArr, i + 1)) % lit(P))))
    val withSig = shingled
      .filter(size(col("shingles")) > 0)
      .select(col("doc"), sigArr.as("sig"))
    // band key = the band's slot values joined in seed order (portable —
    // no engine hash of the band tuple needed)
    val buckets = withSig
      .select(col("doc"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          array_join(
            transform(slice(col("sig"), b * r + lit(1), lit(r)),
              x => x.cast("string")), ","))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))
    val hot = buckets.groupBy("band", "bkey").count()
      .filter(col("count") > maxBucket).select("band", "bkey")
    val pruned = buckets.join(hot, Seq("band", "bkey"), "left_anti")
    val left = pruned.select(col("doc").as("id1"), col("band"), col("bkey"))
    val right = pruned.select(col("doc").as("id2"),
      col("band").as("band_r"), col("bkey").as("bkey_r"))
    left
      .join(right,
        col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
          col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** SimHash sketch per document (custom codegen'd expression); near-dups =
    * sketches within a small Hamming distance, candidates via identical
    * sub-blocks of the sketch. */
  def withSimhash(spark: SparkSession, docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn(
      "simhash",
      GraftFunctions.simHash(
        spark,
        TextFunctions.tokens(TextFunctions.normText(col(textCol)))))

  /** Telemetry from one [[simhashNearDupsWithTelemetry]] run, so a
    * bounded-recall run is self-describing in RESULTS, not just logs:
    * when the mass probe engages (`engaged`), `shedSubMass` is the Σ c²
    * candidate mass of the over-cap sub-buckets that were dropped — an
    * upper bound on the pairs the backstop can shed (a shed pair may still
    * be recovered through another under-cap agreeing block/sub-piece, so
    * the true loss is ≤ this). `bandMass`/`linearBudget` are the probe's
    * two sides (Σ bucket² vs cap·rows); both are -1 when no cap was
    * requested and the probe never ran. */
  case class SimhashTelemetry(
      engaged: Boolean,
      bandMass: Long,
      linearBudget: Long,
      hotBuckets: Long,
      shedSubBuckets: Long,
      shedSubMass: Long)

  /** Block count is sized to the radius: maxHamming differing bits spread
    * over maxHamming+1 disjoint blocks leave ≥ 1 block equal (pigeonhole),
    * so banding on maxHamming+1 blocks guarantees FULL recall at the
    * requested radius — the classic 4×16-bit scheme at radius 3 (fixed
    * 4-block banding at a larger radius silently drops pairs whose
    * differing bits straddle all four blocks). Wider radii trade candidate
    * volume (narrower blocks match more often), not correctness.
    *
    * `maxBandBucket` is OPT-IN (default Int.MaxValue = no cap): the
    * default plan is the plain pigeonhole band join with FULL recall at
    * the radius, and no mass probe runs. Passing a cap bounds per-bucket
    * join mass on low-entropy sketch populations: when the probed Σ c²
    * mass exceeds the linear budget, over-cap buckets are re-banded on
    * their remaining bits (one extra pigeonhole level) and sub-buckets
    * still over the cap are SHED — recall becomes BOUNDED, not exact. A
    * pair can be lost only if EVERY agreeing block is over-cap AND every
    * agreeing sub-piece is over-cap; hamming-0 pairs are never lost
    * (identical sketches collapse before banding). Measured (PERF.md
    * round-10, cap 1000): radius 3 checksum-identical to the uncapped
    * join at the 10x and 100x stagings; radius 7 sheds 1.1%/2.5% of
    * pairs, all at hamming maxHamming-2..maxHamming. Callers that cap
    * should surface [[SimhashTelemetry]] via the WithTelemetry variant. */
  def simhashNearDups(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBandBucket: Int = Int.MaxValue): DataFrame =
    simhashImpl(spark, docs, idCol, textCol, maxHamming, maxBandBucket,
      wantTelemetry = false)._1

  /** [[simhashNearDups]] plus its [[SimhashTelemetry]] — the telemetry is
    * computed eagerly (the probe and shed aggregates run as part of plan
    * construction; both are small scalar aggregates over checkpointed
    * count tables, and the shed aggregate runs only when the probe
    * engages). The plain [[simhashNearDups]] skips the telemetry-only
    * aggregates: its call-time cost is the probe (plus, when the probe
    * engages, the sub-bucket count table the refinement plan itself
    * needs). Measured shed numbers live in PERF.md round 10. */
  def simhashNearDupsWithTelemetry(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBandBucket: Int = Int.MaxValue): (DataFrame, SimhashTelemetry) =
    simhashImpl(spark, docs, idCol, textCol, maxHamming, maxBandBucket,
      wantTelemetry = true)

  private def simhashImpl(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      maxBandBucket: Int,
      wantTelemetry: Boolean): (DataFrame, SimhashTelemetry) = {
    // Radius bound: banding itself works at any radius < 64 (maxHamming+1
    // blocks of width ≥ 1). The tighter < 62 bound applies only WITH a
    // bucket cap: the hot-bucket refinement splits each block's 64-w
    // REMAINING bits into maxHamming+1 sub-pieces; at maxHamming 62-63 the
    // remaining bits (62-63) are fewer than the pieces, so some pieces get
    // width 0 and mask 0 — a sub-bucket every sketch shares, always
    // over-cap, silently shedding any pair whose only equal piece it is.
    // At every radius ≤ 61 all sub-pieces are non-empty by construction.
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming $maxHamming out of [0, 64)")
    require(maxBandBucket == Int.MaxValue || maxHamming < 62,
      s"maxHamming $maxHamming out of [0, 62): the band-bucket cap's sub-band " +
        "refinement needs maxHamming+1 non-empty sub-pieces of each block's " +
        "remaining bits (drop the cap for radii 62-63)")
    require(maxBandBucket >= 1, s"maxBandBucket $maxBandBucket must be >= 1")
    val sketched = withSimhash(spark, docs, textCol).select(col(idCol).as("doc"), col("simhash"))
    val nBlocks = maxHamming + 1
    val starts = (0 to nBlocks).map(i => i * 64 / nBlocks)
    val blockCols = (0 until nBlocks).map { i =>
      val width = starts(i + 1) - starts(i)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      call_function("shiftrightunsigned", col("simhash"), lit(starts(i)))
        .bitwiseAND(lit(mask))
    }
    // Collapse identical sketches FIRST (r10): the block-bucket self-join
    // runs over DISTINCT simhash values — duplicated sketches (exact/near-
    // exact dup populations square the per-bucket group sizes at doc grain)
    // cost one row each, and doc-level pairs are recovered afterwards by a
    // cross-expansion that is OUTPUT-bound. Identical-sketch doc pairs
    // (hamming 0) come from the within-group expansion; cross-sketch pairs
    // from canonically-ordered (sh1 < sh2) sketch pairs, so every unordered
    // doc pair appears exactly once.
    // materialized once: the sketch pass + group collapse feed the band
    // join's both sides AND the within-group expansion — without the
    // checkpoint each consumer re-runs the full simhash scan
    val sigs = sketched.groupBy("simhash").agg(collect_list("doc").as("docs"))
      .truncateLineage()
    // band join over (simhash, block, block_val) ONLY — the doc arrays stay
    // out of the 8-way block explode and the candidate shuffle, and are
    // joined back onto the few surviving sketch pairs
    val allBlocks = sigs.select(col("simhash"), posexplode(array(blockCols: _*)))
      .withColumnsRenamed(Map("pos" -> "block", "col" -> "block_val"))
    // Hot-bucket SUB-BAND REFINEMENT (r10): a LOW-ENTROPY sketch population
    // — distinct but similar documents, e.g. boilerplate-heavy crawls or
    // this 40-word synthetic vocabulary — concentrates block values, and
    // band-join mass is Σ bucket² (measured on the 100x staging: 497k
    // distinct sketches, hottest 16-bit bucket 3,963 rows, Σ bucket² =
    // 5.3e8 → 84 s; the mass grows ~n^1.5 on this corpus and is O(n²/2^16)
    // even on uniform sketches once n >> 2^16 — fixed-width banding is
    // inherently quadratic past the block-value space). Buckets over
    // maxBandBucket are therefore NOT self-joined at block grain; their
    // members are re-banded on the REMAINING bits instead. The guarantee
    // survives exactly: two sketches in the same hot bucket already agree
    // on that block's bits, so their ≤ maxHamming differing bits all lie
    // in the other 64−w bits — splitting those into maxHamming+1 sub-
    // pieces pigeonholes one sub-piece equal. Candidate mass becomes
    // Σ sub-bucket² inside each hot bucket (the hot 16-bit collision is
    // factored OUT of the sub-key space), with the same cap applied to
    // sub-buckets as the pathological-entropy backstop — only a pair whose
    // EVERY agreeing block is hot AND every agreeing sub-piece is over-cap
    // can be missed, and hamming-0 pairs never can be: identical sketches
    // collapse to one group row before banding and pair in the within-
    // group tier. The mass probe below keeps every gate scale on the
    // plain exact join, so q_dd3b's recall contract is untouched. Measured
    // (PERF.md round-10): at radius 3 the refined pair set is checksum-
    // identical to the uncapped join at the 10x AND 100x stagings; at the
    // permissive radius 7 (8-bit blocks — only 256 values, so banding
    // barely prunes) the backstop drops 1.1%/2.5% of pairs at 10x/100x,
    // ALL at hamming 5-7 — the histograms agree exactly through distance
    // 4, because closer pairs agree on more blocks and always survive an
    // under-cap one.
    // MASS probe first, machinery only when a cap was requested AND the
    // quadratic actually bites: band-join candidate mass is exactly
    // Σ bucket², so one scalar aggregate over the (small, checkpointed-
    // once) bucket-count table computes it and compares against the
    // linear budget the cap would enforce (maxBandBucket · total block
    // rows). No cap (the default) — no probe, no count table: the plan is
    // the plain pigeonhole band join. Capped but under budget — a
    // healthy-entropy corpus at any gate scale, at either radius — the
    // plan is still EXACTLY the pre-refinement band join: no semi-join,
    // no sub-band tier, full structural recall; the probe's cost is the
    // one bucket-count pass (~0.2–0.5 s at sf0.1, o(n) at any scale).
    // Over budget — radius-7 banding from the 10x staging up (8-bit
    // blocks have only 256 values; measured Σc² exceeds the 4e8 budget at
    // 10x and reaches 7.7e9 vs a 4e9 budget at 100x) — the corpus pays
    // for its own refinement, and only there can the backstop drop
    // anything. The counts table is checkpointed BEFORE the probe so the
    // hot path's semi-joins reuse it instead of recomputing the explode
    // aggregation.
    val probe: Option[(DataFrame, Long, Long)] =
      if (maxBandBucket == Int.MaxValue) None
      else {
        val bucketCounts = allBlocks.groupBy("block", "block_val").count()
          .truncateLineage()
        val stats = bucketCounts
          .agg(coalesce(sum(col("count") * col("count")), lit(0L)),
            coalesce(sum(col("count")), lit(0L))).head()
        Some((bucketCounts, stats.getLong(0), stats.getLong(1)))
      }
    val anyHot = probe.exists { case (_, mass, rows) =>
      mass > maxBandBucket.toLong * rows
    }
    if (anyHot) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"simhashNearDups: band-join mass ${probe.get._2} exceeds the linear " +
        s"budget ${maxBandBucket.toLong * probe.get._3} (cap=$maxBandBucket); " +
        "engaging hot-bucket sub-band refinement — pairs whose every agreeing " +
        "block is over-cap AND every agreeing sub-piece is over-cap are shed " +
        "(measured: the hamming-(maxHamming-2)..maxHamming fringe only)")
    val blocks = probe match {
      case Some((bucketCounts, _, _)) if anyHot => allBlocks.join(
        bucketCounts.filter(col("count") <= maxBandBucket)
          .select("block", "block_val"),
        Seq("block", "block_val"), "left_semi")
      case _ => allBlocks
    }
    // The hamming radius is part of the JOIN CONDITION, not a filter after
    // a distinct: a permissive radius over few-bit blocks makes bucket
    // cross products enormous (measured 1e9 candidate rows at the 10x
    // staging — sum of squared bucket sizes over 8x256 buckets), and the
    // old shape shuffled ALL of them into a dedup. Evaluated inside the
    // join, candidates stream through the codegen'd bit_count and only the
    // true near-dup sketch pairs (3 orders of magnitude fewer) reach the
    // distinct.
    // hint("merge"): the post-checkpoint band frames are small enough that
    // Spark would BROADCAST them — but BroadcastHashJoin degrades on
    // heavily duplicated build keys (a hot bucket is a huge hash chain
    // probed once per matching row: measured 85 s vs 10 s for the same 1e9
    // candidate evaluations under sort-merge, whose buffered-group inner
    // loop is tight codegen). Band joins want SMJ regardless of side size.
    def bandPairs(rows: DataFrame, keys: Seq[String]): DataFrame = {
      val l = rows.select(col("simhash").as("sh1") +: keys.map(col): _*)
      val r = rows.select(col("simhash").as("sh2") +: keys.map(k => col(k).as(s"${k}_r")): _*)
      l.join(r.hint("merge"),
        keys.map(k => col(k) === col(s"${k}_r")).reduce(_ && _) &&
          col("sh1") < col("sh2") &&
          bit_count(col("sh1").bitwiseXOR(col("sh2"))) <= maxHamming)
        .select("sh1", "sh2")
    }
    val coldPairs = bandPairs(blocks, Seq("block", "block_val"))
    val (rawPairs, telemetry) =
      if (!anyHot) {
        val (mass, rows) = probe.map(p => (p._2, p._3)).getOrElse((-1L, -1L))
        (coldPairs, SimhashTelemetry(engaged = false, mass,
          if (rows < 0L) -1L else maxBandBucket.toLong * rows, 0L, 0L, 0L))
      } else {
        val (bucketCounts, mass, rows) = probe.get
        val hotVals = bucketCounts.filter(col("count") > maxBandBucket)
        val hotPieces = (0 until nBlocks).map { i =>
          val start = starts(i)
          val end = starts(i + 1)
          // all non-block-i bits, packed contiguously into the low 64-(end-start)
          val low =
            if (start == 0) lit(0L)
            else col("simhash").bitwiseAND(lit((1L << start) - 1L))
          val high =
            if (end >= 64) lit(0L)
            else call_function("shiftleft",
              call_function("shiftrightunsigned", col("simhash"), lit(end)), lit(start))
          val packed = high.bitwiseOR(low)
          val remWidth = 64 - (end - start)
          val pStarts = (0 to nBlocks).map(j => j * remWidth / nBlocks)
          val pieceCols = (0 until nBlocks).map { j =>
            val w = pStarts(j + 1) - pStarts(j)
            val mask = if (w >= 64) -1L else (1L << w) - 1L
            call_function("shiftrightunsigned", packed, lit(pStarts(j))).bitwiseAND(lit(mask))
          }
          sigs.select(col("simhash"), blockCols(i).as("block_val"))
            .join(hotVals.filter(col("block") === i).select("block_val"),
              Seq("block_val"), "left_semi")
            .select(col("simhash"), lit(i).as("block"), col("block_val"),
              posexplode(array(pieceCols: _*)))
            .withColumnsRenamed(Map("pos" -> "sub", "col" -> "sub_val"))
        }.reduce(_ unionByName _)
        // checkpointed: feeds the keep semi-join AND the shed aggregate
        val subCounts = hotPieces.groupBy("block", "block_val", "sub", "sub_val").count()
          .truncateLineage()
        // telemetry-only aggregates (hot-bucket count + shed Σ c²) run only
        // for the WithTelemetry variant — the base API pays the probe plus
        // the sub-bucket count table the refinement plan itself reuses,
        // nothing more
        val (nHot, shedBuckets, shedMass) =
          if (!wantTelemetry) (-1L, -1L, -1L)
          else {
            val shed = subCounts.filter(col("count") > maxBandBucket)
              .agg(count(lit(1)),
                coalesce(sum(col("count") * col("count")), lit(0L))).head()
            (hotVals.count(), shed.getLong(0), shed.getLong(1))
          }
        val hotKept = hotPieces.join(
          subCounts.filter(col("count") <= maxBandBucket)
            .select("block", "block_val", "sub", "sub_val"),
          Seq("block", "block_val", "sub", "sub_val"), "left_semi")
        (coldPairs.unionByName(
            bandPairs(hotKept, Seq("block", "block_val", "sub", "sub_val"))),
          SimhashTelemetry(engaged = true, mass, maxBandBucket.toLong * rows,
            nHot, shedBuckets, shedMass))
      }
    val sigPairs = rawPairs
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
    val cross = sigPairs
      .join(sigs.select(col("simhash").as("sh1"), col("docs").as("docs1")), Seq("sh1"))
      .join(sigs.select(col("simhash").as("sh2"), col("docs").as("docs2")), Seq("sh2"))
      .select(explode(col("docs1")).as("a"), col("docs2"), col("hamming"))
      // repartition between the explodes so one hot sketch pair's
      // cross-expansion spreads across tasks instead of running in one
      .repartition(col("a"))
      .select(col("a"), explode(col("docs2")).as("b"), col("hamming"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"), col("hamming"))
    val within = sigs.filter(size(col("docs")) > 1)
      .select(explode(col("docs")).as("id1"), col("docs"))
      .select(col("id1"), explode(col("docs")).as("id2"))
      .filter(col("id1") < col("id2"))
      .withColumn("hamming", lit(0))
    (cross.unionByName(within), telemetry)
  }

  /** Duplicate-cluster resolution: connected components over a near-dup pair
    * graph via min-label propagation — every doc converges to the minimum id
    * reachable through pair edges, i.e. the canonical keeper of its cluster.
    * Each iteration is one equi-join + aggregate (shuffle on id), and the
    * iteration count is the cluster-graph diameter (tiny for dup clusters);
    * the classic large-star/small-star refinement drops in unchanged if
    * clusters ever get deep.
    *
    * Truncation mode: by default iteration lineage is cut with
    * `localCheckpoint` — cheapest, but its blocks live on executors, so an
    * executor loss mid-loop kills the job. Pass `checkpointDir` (an HDFS/
    * object-store path on a real cluster) to switch every truncation point
    * to a RELIABLE `checkpoint`: blocks are written to the fault-tolerant
    * store and the loop survives executor loss — the mode a 100 TB run
    * should use. Both modes compute identical labels (spec-asserted); the
    * only difference is where the cut lineage's blocks live.
    *
    * Deployments flip the mode WITHOUT touching call sites through the
    * session conf [[graft.Lineage.CheckpointDirConf]] (an explicit
    * `checkpointDir` argument still wins). This is not theoretical: the
    * 1000x local-cluster tier lost an executor to a 131 s full-GC pause
    * (heartbeat timeout), and the localCheckpoint-mode CC died with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — lost executors take their local
    * blocks with them, and relaunch cannot restore them. The reliable mode
    * recomputes the lost shuffle work from the checkpoint files and
    * finishes with the identical signature (PERF.md round-14). */
  def dupClusters(
      pairs: DataFrame,
      maxIters: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = resolveCheckpointDir(pairs, checkpointDir)
    ckpt.foreach(graft.Lineage.ensureCheckpointDir(pairs.sparkSession, _,
      force = checkpointDir.isDefined))
    def truncate(df: DataFrame): DataFrame =
      if (ckpt.isDefined) df.checkpoint(true) else df.truncateLineage()
    val edges = truncate(
      pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
        .distinct())
    var labels = truncate(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var iters = 0
    var changed = 1L
    var prevMat = labels // previous round's materialized frame, released below
    while (changed > 0 && iters < maxIters) {
      // merge hints on every loop join: edges/labels/nbrMin all SCALE WITH
      // THE GRAPH, and AQE's runtime broadcast conversion (sized by
      // compressed shuffle bytes) otherwise builds a per-round hash
      // relation of them on every executor — measured OOMing 16 GiB
      // executors at the 10x staging (q_tp2) while a single local JVM
      // never notices. Iterative graph diffusion stays shuffle-partitioned.
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nlabel"))
          .hint("merge"), "dst")
        .groupBy("src").agg(min("nlabel").as("nmin"))
      // Materialize the JOINED frame (id, label, nmin) — not the projected
      // next-labels frame — so the convergence count below is a plain
      // filter over it: `nmin < label` holds exactly when this round
      // improves a label (least(label, coalesce(nmin, label)) < label ⇔
      // nmin < label; NULL nmin compares false). The previous shape
      // re-joined next labels against the old labels per round just to
      // count improvements — one full merge join (two exchanges + sorts,
      // graph-sized at every scale) per round for a loop-control scalar
      // (OPTIMIZATION_r15.md: q_dd6/q_dd12/q_tp2 measured).
      val joined = labels
        .join(nbrMin.select(col("src").as("id"), col("nmin")).hint("merge"),
          Seq("id"), "left")
      // Truncate lineage every few iterations: a cached-only loop keeps
      // chaining the logical plan, so explain/recovery on the result would
      // replay the whole iteration history (and analysis cost grows per
      // iteration). localCheckpoint cuts the plan at materialized blocks —
      // the repo's stage-boundary pattern (CorpusCleaner.scala).
      val step =
        if (iters % 5 == 4) truncate(joined)
        else joined.cache() // materialized by the `changed` count below
      changed = step.filter(col("nmin") < col("label")).count()
      prevMat.unpersist()
      prevMat = step
      labels = step.select(
        col("id"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      iters += 1
    }
    labels
  }

  /** One large-star round: every node attaches all strictly-larger
    * neighbors to the minimum of its closed neighborhood. Expressed as one
    * min-aggregate + one equi-join — no neighbor list is ever materialized,
    * so a celebrity node (the LSH-bucket skew case) costs a map-side-
    * combined min plus its own degree in join fan-out, nothing quadratic.
    * Output edges always point larger→smaller (v > u ≥ m). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // graph-scaled side: never a broadcast (see dupClusters loop note)
    sym.join(mins.hint("merge"), "u").where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star round over larger→smaller edges: every node rewires its
    * smaller neighbors (and itself) to the minimum among them. Same
    * aggregate+join shape as [[largeStar]]. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m")) // m < u by edge direction
    val fromNbrs = e.join(mins.hint("merge"), "u").where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val fromSelf = mins.select(col("u"), col("m").as("v"))
    fromNbrs.union(fromSelf).distinct()
  }

  /** Connected components via alternating large-star/small-star rounds —
    * the deep-cluster upgrade path to [[dupClusters]]: min-label propagation
    * needs diameter-many rounds (a 1000-link chain = 1000 shuffles), while
    * star contraction converges in O(log²) rounds because every round halves
    * star depth. Each round is two min-aggregates + two equi-joins (no
    * neighbor arrays, no driver state); the fixpoint is detected with a
    * (count, Σxxhash64) signature — one tiny aggregate per round on the
    * already-materialized frame. Returns the same (id, label) contract as
    * [[dupClusters]] (label = component minimum; spec-asserted equal), with
    * the same optional reliable `checkpointDir` truncation mode. */
  def dupClustersStar(
      pairs: DataFrame,
      maxIters: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = resolveCheckpointDir(pairs, checkpointDir)
    ckpt.foreach(graft.Lineage.ensureCheckpointDir(pairs.sparkSession, _,
      force = checkpointDir.isDefined))
    def truncate(df: DataFrame): DataFrame =
      if (ckpt.isDefined) df.checkpoint(true) else df.truncateLineage()
    val raw = pairs.select(col("id1").as("u"), col("id2").as("v"))
      .where(col("u") =!= col("v"))
    val nodes = truncate(
      raw.select(col("u").as("id")).union(raw.select(col("v").as("id"))).distinct())
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = truncate(
      raw.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct())
    var sig = signature(edges)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val next = truncate(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == sig
      edges.unpersist()
      edges = next
      sig = nextSig
      iters += 1
    }
    // at the fixpoint the edge set is a forest of stars rooted at component
    // minima; isolated roots label themselves
    nodes
      .join(edges.groupBy("u").agg(min("v").as("lbl"))
        .select(col("u").as("id"), col("lbl")).hint("merge"), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
  }

  /** Signature-store row for cross-batch (incremental) dedup: everything a
    * production ingest pipeline persists per accepted document so later
    * batches can be deduped against history WITHOUT retaining raw text —
    * the store is a few dozen bytes/doc, so a 100 TB corpus's store is
    * O(100 GB) of parquet that equi-joins by band hash.
    *
    *   - `fingerprint`: md5 of the canonical text (exact-dup tier),
    *   - `n_shingles`:  size of the word-k-shingle set (0 = too short to
    *     participate in near-dup matching),
    *   - `set_sig`:     md5 of the sorted shingle list — EXACT set-equality
    *     verification without retaining the set itself (a bare MinHash
    *     signature is not enough: a subset whose extra shingles never win a
    *     min slot collides with its superset — observed 10 such false
    *     positives in the sf0.01 fixture),
    *   - `minhash`:     numHashes-slot MinHash signature (near-dup tier).
    */
  def signatureStore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 16): DataFrame =
    withMinhash(withShingles(docs, textCol, k), numHashes)
      .select(
        col(idCol).as("doc_id"),
        TextFunctions.fingerprintMd5(col(textCol)).as("fingerprint"),
        size(col("shingles")).as("n_shingles"),
        md5(array_join(array_sort(col("shingles")), "\u0001")).as("set_sig"),
        col("minhash"))

  /** Incremental (cross-batch) dedup: classify every doc of a new batch
    * against a persisted [[signatureStore]] and then within the batch.
    * Returns one row per batch doc: (doc_id, status, match_id) with status
    *   - `dup_of_store`: matches a store doc (match_id = min such store id),
    *   - `dup_in_batch`: matches an earlier-kept batch doc (match_id = the
    *     class keeper, i.e. the minimum batch id of the duplicate class),
    *   - `kept`:         new unique content (match_id null). Docs with empty
    *     shingle sets (under k tokens) never match and are always kept.
    *
    * Scale shape: the store side — the 100 TB history — is NEVER shuffled.
    * Store band hashes stream map-side past a `broadcast` of the (small)
    * batch's band hashes, the same broadcast-anti discipline as
    * [[graft.operators.Output.mergeUpsert]]; only the in-batch tier
    * self-joins, and that side is one ingest batch by construction. Both
    * tiers verify candidates with the signature-estimated Jaccard (matching
    * slot fraction) — no shingle set or text is ever read from history.
    *
    * At `threshold = 1.0` candidates are verified with `set_sig` equality —
    * exact set equality, an equivalence relation, so the greedy min-id class
    * assignment is exact (identical shingle sets ⇒ identical signatures ⇒
    * identical band hashes ⇒ guaranteed candidacy). Below 1.0 verification
    * falls back to the slot-fraction estimate and the match relation is not
    * transitive — feed the verified pairs through [[dupClustersStar]]
    * instead of trusting the greedy assignment. */
  def incrementalDedup(
      storeSig: DataFrame,
      batchSig: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 1000,
      threshold: Double = 1.0): DataFrame = {
    // Matching-slot fraction of two signatures. Interpreted HOF (zip_with/
    // aggregate) is fine here: it runs on candidate rows only —
    // bucket-bounded, orders of magnitude fewer than corpus rows.
    def estJaccard(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
        .cast("double") / lit(numHashes.toDouble)
    // Candidate verification: exact set equality via set_sig at 1.0 (a slot
    // estimate of 1.0 is NOT set equality — see [[signatureStore]]),
    // slot-fraction estimate below.
    def verified(sigA: Column, sigB: Column, setA: Column, setB: Column): Column =
      if (threshold >= 1.0) setA === setB else estJaccard(sigA, sigB) >= threshold

    val storeNE = storeSig.filter(col("n_shingles") > 0)
    val batchNE = batchSig.filter(col("n_shingles") > 0).truncateLineage()

    // Tier 1 — batch vs store: stream the big store past the broadcast batch.
    val sb = minhashBands(storeNE, "doc_id", numHashes, bands)
      .toDF("sid", "band", "band_hash")
    val bb = minhashBands(batchNE, "doc_id", numHashes, bands)
      .toDF("bid", "band_b", "hash_b")
    val candStore = sb
      .join(broadcast(bb),
        col("band") === col("band_b") && col("band_hash") === col("hash_b"))
      .select("bid", "sid")
      .distinct()
    val sigsB = batchNE.select(
      col("doc_id").as("bid"), col("minhash").as("sig_b"), col("set_sig").as("set_b"))
    val storeMatch = candStore
      .join(storeNE.select(
        col("doc_id").as("sid"), col("minhash").as("sig_s"), col("set_sig").as("set_s")), "sid")
      .join(broadcast(sigsB), "bid")
      .filter(verified(col("sig_s"), col("sig_b"), col("set_s"), col("set_b")))
      .groupBy("bid")
      .agg(min("sid").as("store_match"))
      .truncateLineage()

    // Tier 2 — within the batch, among docs the store didn't claim. Banded
    // self-join with the standard bucket skew cap; structurally renamed
    // frames (not .as aliases) so the band equi-keys survive self-join
    // planning (see jaccardPairs).
    val rest = batchNE.join(
      storeMatch.select(col("bid").as("doc_id")), Seq("doc_id"), "left_anti")
    val rbands = minhashBands(rest, "doc_id", numHashes, bands)
    val hot = rbands.groupBy("band", "band_hash").count()
      .filter(col("count") > maxBucket).select("band", "band_hash")
    val pruned = rbands.join(hot, Seq("band", "band_hash"), "left_anti")
    val left = pruned.select("doc", "band", "band_hash").toDF("id1", "band", "band_hash")
    val right = pruned.select("doc", "band", "band_hash").toDF("id2", "band_r", "hash_r")
    val batchMatch = left
      .join(right,
        col("band") === col("band_r") && col("band_hash") === col("hash_r") &&
          col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
      .join(sigsB.toDF("id1", "s1", "t1"), "id1")
      .join(sigsB.toDF("id2", "s2", "t2"), "id2")
      .filter(verified(col("s1"), col("s2"), col("t1"), col("t2")))
      .groupBy("id2")
      .agg(min("id1").as("batch_match"))
      .select(col("id2").as("doc_id"), col("batch_match"))

    batchSig.select("doc_id")
      .join(storeMatch.select(col("bid").as("doc_id"), col("store_match")),
        Seq("doc_id"), "left")
      .join(batchMatch, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("store_match").isNotNull, lit("dup_of_store"))
          .when(col("batch_match").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("store_match"), col("batch_match")).as("match_id"))
  }

  /** Exact all-pairs embedding similarity (the verification tier beneath the
    * LSH path): every id1<id2 pair scored with the bit-reproducible fused
    * cosine. O(n²) in its INPUT by design — it is ground truth, so like
    * every truth tier that ships in the bench (the q_dd13 df-cap
    * discipline) its input is BOUNDED: the pair base is the `truthCap`
    * lowest-id vectors (a keyed order — deterministic under any
    * partitioning/file layout), so pair mass is ≤ truthCap²/2 at ANY
    * corpus scale instead of growing quadratically with it. The default
    * 2048 never binds at the oracle gates (sf0.001/0.01 have 500 vectors,
    * sf0.1 has 2000 — results byte-identical to the uncapped join there)
    * and bounds the 10x/100x stagings (20k/200k vectors) to the same
    * ~2M-pair wall. Callers validating a banded tier against this truth
    * set must restrict the comparison to the same lowest-truthCap slice;
    * the oracle SQL mirrors the cap with an ORDER BY id LIMIT CTE.
    * Pass Int.MaxValue for a deliberate full all-pairs run on a corpus
    * slice you have already bounded yourself. */
  def embeddingPairsExact(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      truthCap: Int = 2048): DataFrame = {
    // TakeOrderedAndProject: per-partition bounded heap + driver-side merge
    // of truthCap rows — no full sort, no unbounded collect. Checkpointed
    // because the base feeds BOTH join sides: without it each side re-runs
    // the TakeOrdered scan.
    val base =
      if (truthCap == Int.MaxValue) emb.select(col(idCol), col(vecCol))
      else emb.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(truthCap)
        .truncateLineage()
    val left = base.select(col(idCol).as("id1"), col(vecCol).as("v1"))
      // the global limit lands single-partition; spread the O(truthCap²)
      // cosine evaluations across the cluster before the theta join
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val right = base.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    left.join(right, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        GraftFunctions.cosineFloor(col("v1"), col("v2")).as("cosine"))
  }

  /** Embedding-cosine near-dup pairs via random-hyperplane LSH buckets +
    * exact cosine verification (single fused-loop expression). Deterministic:
    * hyperplanes come from a fixed-seed RNG. Two independent 8-bit tables
    * give recall; the AND-of-bits within a table gives precision. */
  def embeddingNearDups(
      spark: SparkSession,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bitsPerTable: Int = 8,
      tables: Int = 2,
      seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes: Array[Array[Double]] =
      Array.fill(tables * bitsPerTable)(Array.fill(dim)(rnd.nextGaussian()))
    // One fused codegen'd pass per table (HyperplaneSigExpr) — bit b of the
    // key is sign(dot(vec, plane_b)), identical to the former per-bit
    // aggregate/zip_with composition but inside whole-stage codegen.
    def tableKey(t: Int): Column =
      GraftFunctions.hyperplaneSig(
        col(vecCol), planes.slice(t * bitsPerTable, (t + 1) * bitsPerTable))
    val keyed = emb.select(
      col(idCol).as("doc"), col(vecCol).as("vec"),
      posexplode(array((0 until tables).map(tableKey): _*)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    val base = keyed.select("doc", "vec", "table", "bucket")
    val left = base.toDF("id1", "v1", "table", "bucket")
    val right = base.toDF("id2", "v2", "table_r", "bucket_r")
    val cand = left
      .join(right,
        col("table") === col("table_r") && col("bucket") === col("bucket_r") &&
          col("id1") < col("id2"))
      .select("id1", "id2", "v1", "v2")
      .distinct()
    cand
      .withColumn("cosine", GraftFunctions.cosine(spark, col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every embedding to its nearest of `numSeeds` centroids by
    * cosine, then prune near-duplicates ONLY within each cluster — a vector
    * is `dropped` iff a lower-id vector in the SAME cluster has cosine ≥
    * `threshold` with it, else `kept`. Returns (id, cluster, status).
    *
    * Centroids here are the `numSeeds` lowest-id vectors (a deterministic,
    * SQL-mirrorable stand-in for a k-means fit — the reference pipeline
    * extension has no model registry; the SERVING shape is identical either
    * way: k fixed vectors collected to the driver, bounded state, shipped
    * in-plan to every executor).
    *
    * Scale shape: assignment is one map-side fused-cosine pass per row — no
    * shuffle, no candidate join against the centroid set. The only shuffle
    * keys on the cluster id, and the pairwise prune runs per cluster, so
    * total work is Σ |cluster|² instead of n² — at 100 TB, `numSeeds` grows
    * ∝ n (SemDeDup uses ~100k clusters for web scale) keeping cluster sizes
    * bounded; a runaway cluster would be salted or sub-clustered, same as
    * the LSH frequency cap above.
    *
    * All comparisons go through the floor-quantized cosine
    * ([[graft.functions.HashUtil.cosineFloor]]) so assignment argmax and
    * threshold tests are bit-reproducible in any engine (q_dd5 discipline).
    * Ties on assignment break to the smaller seed id. */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      numSeeds: Int = 8,
      threshold: Double = 0.9,
      maxClusterSize: Int = 4096,
      anchorsPerBucket: Int = 8): DataFrame = {
    // Bounded driver state: exactly numSeeds (id, vector) rows. Elements
    // read through Number so an array<double> vecCol materializes the same
    // seeds instead of a ClassCastException (ADVICE r7).
    val seeds: Array[(Long, Array[Float])] =
      emb.select(col(idCol).cast("long"), col(vecCol))
        .orderBy(col(idCol)).limit(numSeeds).collect()
        .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.floatValue()).toArray))
    // argmax by (cosine, -seedId): struct ordering gives max cosine, then
    // min seed id — mirrored by ORDER BY c DESC, sid in the oracle.
    val scored = array(seeds.map { case (sid, vec) =>
      struct(
        GraftFunctions.cosineFloor(col(vecCol), typedLit(vec)).as("c"),
        lit(-sid).as("neg_sid"))
    }: _*)
    // Materialize the assignment once: it feeds BOTH self-join sides and
    // the final status join — without the boundary the scan + numSeeds
    // cosine evaluations per row re-execute three times. localCheckpoint
    // (not persist) so the blocks release when the result frame is GC'd
    // (the CorpusCleaner discipline).
    val assigned = emb.select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      (-array_max(scored).getField("neg_sid")).as("cluster"))
      .truncateLineage()
    pruneAssigned(assigned, threshold, maxClusterSize, anchorsPerBucket)
  }

  /** SemDeDup with a real k-means centroid tier (the algorithm's actual
    * quantizer, Abbas et al. 2023 §3): seeds are the `numSeeds` lowest-id
    * vectors (deterministic init), then `assignRounds` Lloyd assignment
    * rounds with one centroid update between each — assignment is the same
    * map-side fused-cosine argmax as [[semanticDedup]], the update is one
    * (cluster, dim)-keyed aggregate whose per-dimension mean uses the
    * floor-quantized construction (Exact.floorAvg) so every centroid value
    * is bit-reproducible in SQL; updated centroids round-trip through
    * float (the cosine kernel's element type — an IEEE round-to-nearest
    * cast, identical in any engine). Rounds-not-data on the driver: per
    * round the collected state is the numSeeds×dim centroid grid (the IVF
    * quantizer shape), clusters keep index labels 0..numSeeds-1, and empty
    * clusters retain their previous centroid. The prune tier (including
    * the runaway-cluster guard) is shared with [[semanticDedup]]. */
  def semanticDedupKmeans(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      numSeeds: Int = 8,
      assignRounds: Int = 2,
      threshold: Double = 0.9,
      maxClusterSize: Int = 4096,
      anchorsPerBucket: Int = 8): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .truncateLineage()
    var centroids: Array[Array[Float]] =
      base.orderBy("id").limit(numSeeds).collect()
        .map(_.getSeq[Number](1).map(_.floatValue()).toArray)
    def assign(cents: Array[Array[Float]]): DataFrame = {
      val scored = array(cents.zipWithIndex.map { case (c, j) =>
        struct(
          GraftFunctions.cosineFloor(col("vec"), typedLit(c)).as("c"),
          lit(-j).as("neg_j"))
      }: _*)
      base.select(
        col("id"), col("vec"),
        (-array_max(scored).getField("neg_j")).cast("int").as("cluster"))
    }
    for (_ <- 1 until assignRounds) {
      val means = assign(centroids)
        .select(col("cluster"), posexplode(col("vec")))
        .groupBy("cluster", "pos")
        .agg(graft.functions.Exact.floorAvg(col("col").cast("double"), 9).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat)
      centroids = next
    }
    pruneAssigned(assign(centroids).truncateLineage(),
      threshold, maxClusterSize, anchorsPerBucket)
  }

  /** Shared prune tier over an assignment frame (id, vec, cluster): the
    * within-cluster near-dup removal with the runaway-cluster guard.
    *
    * The size table is ≤ #clusters rows — broadcast, never a shuffle of
    * the corpus. Clusters over `maxClusterSize` divert to the banded
    * anchor prune (bounded candidates, see [[cappedClusterCandidates]]) —
    * the within-cluster all-pairs join is Σ|c|², which one degenerate
    * centroid (a near-duplicate-heavy crawl slice) would turn quadratic;
    * clusters under the cap keep the exact all-pairs prune. */
  private def pruneAssigned(
      assigned: DataFrame,
      threshold: Double,
      maxClusterSize: Int,
      anchorsPerBucket: Int): DataFrame = {
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("csize"))
    val sized = assigned.join(broadcast(sizes), Seq("cluster"))
    val small = sized.filter(col("csize") <= maxClusterSize)
      .select("id", "vec", "cluster")
    val big = sized.filter(col("csize") > maxClusterSize)
      .select("id", "vec", "cluster")
    val a = small.toDF("id1", "v1", "cluster")
    val b = small.toDF("id2", "v2", "cluster_r")
    val smallPairs = a
      .join(b, col("cluster") === col("cluster_r") && col("id1") < col("id2"))
      .select("id1", "id2", "v1", "v2")
    val dropped = smallPairs
      .unionByName(cappedClusterCandidates(big, anchorsPerBucket))
      .filter(GraftFunctions.cosineFloor(col("v1"), col("v2")) >= threshold)
      .select(col("id2").as("id")).distinct()
    assigned
      .join(dropped.withColumn("hit", lit(1)), Seq("id"), "left")
      .select(
        col("id"), col("cluster"),
        when(col("hit").isNotNull, lit("dropped")).otherwise(lit("kept")).as("status"))
  }

  /** Bounded-candidate prune for oversized semantic-dedup clusters: members
    * hash into random-hyperplane band buckets (the q_dd4 scheme, fixed
    * seed), and each member is compared ONLY against the `anchorsPerBucket`
    * lowest-id members of its (cluster, table, bucket) — so candidate count
    * is ≤ tables·anchors·|cluster|, linear where all-pairs is quadratic.
    * Precision is untouched (every emitted drop still passes the exact
    * cosine threshold); recall above the cap narrows to bucket-local anchor
    * matches — the standard LSH trade, and exactly right for the runaway
    * case (a near-duplicate-heavy cluster concentrates in few buckets whose
    * anchors catch everything). Expects (id, vec, cluster); returns
    * (id1, id2, v1, v2) with id1 < id2. */
  private[graft] def cappedClusterCandidates(
      members: DataFrame,
      anchorsPerBucket: Int,
      bitsPerTable: Int = 8,
      tables: Int = 2,
      seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(seed)
    val planes: Array[Array[Double]] =
      Array.fill(tables * bitsPerTable)(Array.fill(dim)(rnd.nextGaussian()))
    def tableKey(t: Int): Column =
      GraftFunctions.hyperplaneSig(
        col("vec"), planes.slice(t * bitsPerTable, (t + 1) * bitsPerTable))
    val keyed = members.select(
      col("id"), col("vec"), col("cluster"),
      posexplode(array((0 until tables).map(tableKey): _*)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    // Bucket-local window, never a global sort; structurally renamed frames
    // so the band equi-keys survive self-join planning (see jaccardPairs).
    val anchors = keyed
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster", "table", "bucket").orderBy("id")))
      .filter(col("rk") <= anchorsPerBucket)
      .select("id", "vec", "cluster", "table", "bucket")
      .toDF("id1", "v1", "cluster", "table", "bucket")
    val mem = keyed.select("id", "vec", "cluster", "table", "bucket")
      .toDF("id2", "v2", "cluster_r", "table_r", "bucket_r")
    anchors
      .join(mem,
        col("cluster") === col("cluster_r") && col("table") === col("table_r") &&
          col("bucket") === col("bucket_r") && col("id1") < col("id2"))
      .select("id1", "id2", "v1", "v2")
      .distinct()
  }
}
