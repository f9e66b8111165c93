package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Lineage.TruncateOps
import graft.dedup.Dedup
import graft.text.TextFunctions

/** Composed training-data cleaning pipeline: the shape every large-scale
  * corpus build runs — quality gate → exact dedup → near-dup removal —
  * expressed as one declarative DataFrame flow so Catalyst fuses the scan,
  * and each stage's survivors feed the next without materialization.
  *
  * Every flow is a gate over `(doc_id, text)` followed by one shared dedup
  * tail, the same split as the DuckDB oracle's `Oracle.cleanChainSql`
  * (one gate CTE `qf` per query feeding the shared `dedupTailCtes`).
  *
  * Near-dup removal rule (deterministic and SQL-mirrorable): among each
  * qualifying pair (id1 < id2, Jaccard ≥ threshold) the larger id is
  * dropped. [[cleanClustered]] resolves the pair set through
  * [[Dedup.dupClusters]] instead, for transitive canonical keepers.
  */
object CorpusCleaner {

  private val IdCol = "doc_id"
  private val TextCol = "text"
  private val MinQuality = 0.35
  private val ShingleK = 3
  private val JaccardThreshold = 0.1
  private val MaxShingleDf = 1000
  private val MaxContamination = 0.5

  /** Larger id of each qualifying pair. */
  private def pairwise(pairs: DataFrame): DataFrame =
    pairs.select(col("id2").as(IdCol)).distinct()

  /** The heuristic stage-1 gate, left untruncated: the score is cheap and
    * Catalyst fuses it into the scan. */
  private def qualityGate(docs: DataFrame): DataFrame =
    docs.select(col(IdCol), col(TextCol),
        TextFunctions.qualityScore(col(TextCol)).as("quality"))
      .filter(col("quality") >= MinQuality)

  /** The dedup tail every flow shares: keep the minimum id per canonical
    * fingerprint, then drop the near-dups `losers` picks from the
    * capped-Jaccard pair set. Survivors carry the gate's `keep` column. */
  private def dedup(qualified: DataFrame, keep: String, losers: DataFrame => DataFrame): DataFrame = {
    val keepers = qualified
      .groupBy(TextFunctions.fingerprintMd5(col(TextCol)).as("fp"))
      .agg(min(col(IdCol)).as(IdCol))
      .select(IdCol)
    // Materialize the stage boundary: the exact-dedup survivors feed the pair
    // index AND both sides of the final anti-join — without it the
    // scan+score+dedup lineage re-executes per reference. localCheckpoint
    // (not persist) so the blocks are released by the ContextCleaner once the
    // result frame is garbage-collected; a persist would pin a copy in the
    // CacheManager on every invocation for the session lifetime.
    val exact = qualified.join(keepers, Seq(IdCol), "left_semi").truncateLineage()
    // The shingle-frequency cap is live here (self-consistent pruned-universe
    // scores) and is mirrored deterministically in the oracle's `hot`/`pru`
    // CTEs.
    val pairs = Dedup.jaccardPairs(exact, IdCol, TextCol, ShingleK, MaxShingleDf)
      .filter(col("jaccard") >= JaccardThreshold)
    exact.join(losers(pairs), Seq(IdCol), "left_anti")
      .select(col(IdCol), col(keep))
      .orderBy(IdCol)
  }

  /** Survivors (id + quality score), smallest-id-wins at every stage. */
  def clean(docs: DataFrame): DataFrame =
    dedup(qualityGate(docs), "quality", pairwise)

  /** [[clean]] with a TRAINED quality gate: stage 1 keeps docs whose
    * model score (any (doc_id, score) frame — e.g. the q_t21 ridge
    * classifier) clears `minScore`, replacing the heuristic threshold; the
    * dedup tail is unchanged. Survivors carry the model score. The scores
    * frame joins by id — at 100 TB it is the output of one scoring pass,
    * co-partitioned on the id key, so the gate adds one equi-join and no
    * new corpus scan. */
  def cleanClassified(docs: DataFrame, scores: DataFrame, minScore: Double): DataFrame = {
    // Materialize the gate: unlike [[clean]]'s cheap heuristic, the score
    // frame carries the whole fit+inference lineage — without a boundary it
    // re-executes in the fingerprint agg, the semi join, AND the pair
    // index.
    val qualified = docs.select(col(IdCol), col(TextCol))
      .join(scores, Seq(IdCol))
      .filter(col("score") >= minScore)
      .truncateLineage()
    dedup(qualified, "score", pairwise)
  }

  /** Cluster-based variant of [[clean]]: near-dups are resolved through
    * [[Dedup.dupClusters]] connected components, keeping exactly ONE
    * representative (the minimum id) per duplicate cluster. Pairwise
    * larger-id removal can drop every member of a chain a→b→c where only
    * adjacent pairs clear the threshold (b and c both appear as an id2);
    * transitive resolution is the semantically right rule for a 100 TB
    * dedup, at the cost of the label-propagation rounds. */
  def cleanClustered(docs: DataFrame): DataFrame =
    dedup(qualityGate(docs), "quality", pairs =>
      // every clustered doc whose label is NOT itself is a non-representative
      Dedup.dupClusters(pairs)
        .filter(col("label") =!= col("id"))
        .select(col("id").as(IdCol)))

  /** [[clean]] composed with the decontamination stage: survivors whose
    * distinct word-shingle overlap with the `benchmark` documents reaches
    * 0.5 are dropped (the eval-leakage guard every pre-training build runs
    * last, after dedup has already shrunk the corpus). The benchmark gram
    * set is deduplicated and broadcast — at 100 TB the benchmark suite is
    * tiny next to the corpus, so the probe adds one map-side join + one
    * doc-keyed aggregate, never a gram-keyed shuffle of the corpus.
    * Documents too short to shingle carry contamination 0. */
  def cleanDecontaminated(docs: DataFrame, benchmark: DataFrame): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(TextFunctions.wordShingles(
        TextFunctions.tokens(TextFunctions.normText(col(TextCol))), ShingleK)).as("gram"): _*)

    val cleaned = clean(docs)
    val survivorText = docs.select(col(IdCol), col(TextCol))
      .join(cleaned.select(IdCol), Seq(IdCol), "left_semi")
    val benchGrams = grams(benchmark).distinct()
    val ratio = col("n_hit").cast("double") / col("n_grams").cast("double")
    val contam = grams(survivorText, col(IdCol))
      .join(broadcast(benchGrams.withColumn("hit", lit(1))), Seq("gram"), "left")
      .groupBy(IdCol)
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col(IdCol), ratio.as("contamination"))
    cleaned.join(contam, Seq(IdCol), "left")
      .select(col(IdCol), col("quality"),
        coalesce(col("contamination"), lit(0.0)).as("contamination"))
      .filter(col("contamination") < MaxContamination)
      .orderBy(IdCol)
  }
}
