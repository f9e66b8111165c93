package graft.pipeline

import graft.SparkSpec
import graft.dedup.Dedup

class CorpusCleanerSpec extends SparkSpec {
  import spark.implicits._

  // > 100 tokens each so the length term of the quality score saturates and
  // the gate decision isn't threshold-marginal
  private val longText =
    ("the quick brown fox jumps over the lazy dog and then runs far away " * 8).trim

  private lazy val docs = Seq(
    (0L, longText),                                   // survives
    (1L, longText.toUpperCase),                       // exact dup after norm → dropped
    (2L, longText.replace("dog", "cat")),             // near-dup of 0 → dropped
    (3L, "short"),                                    // fails quality gate
    (4L, ("entirely different content about completely other topics " +
      "with many unique individual words appearing throughout this document " * 8).trim)
  ).toDF("doc_id", "text")

  test("cleaning pipeline: quality gate, exact dedup, near-dup removal compose") {
    val survivors = CorpusCleaner.clean(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(0L), "canonical doc must survive")
    assert(!survivors.contains(1L), "exact dup (case/whitespace) must drop")
    assert(!survivors.contains(2L), "near-dup must drop")
    assert(!survivors.contains(3L), "low-quality doc must drop")
    assert(survivors.contains(4L), "distinct doc must survive")
  }

  test("classified cleaning: the score gate, then the same dedup tail; survivors carry the score") {
    // doc 3 would fail the heuristic gate; here it passes on its score, so
    // only the hand-made scores decide stage 1 (doc 4 is scored out)
    val scores = Seq((0L, 0.9), (1L, 0.8), (2L, 0.7), (3L, 0.6), (4L, 0.1))
      .toDF("doc_id", "score")
    val survivors = CorpusCleaner.cleanClassified(docs, scores, minScore = 0.5)
      .as[(Long, Double)].collect().toMap
    assert(survivors === Map(0L -> 0.9, 3L -> 0.6),
      "low score gated out; exact dup 1 and near-dup 2 removed; score carried")
  }

  test("cluster cleaning keeps ONE representative per component where pairwise keeps two") {
    // Shared-neighbor shape: a ~ c and b ~ c but a !~ b. Pairwise removal
    // drops only the id2s ({c}), keeping BOTH a and b from one duplicate
    // component; cluster resolution keeps exactly the component minimum.
    def words(p: String, n: Int) = (0 until n).map(i => f"${p}word$i%04d").mkString(" ")
    val a = words("alpha", 100)
    val b = words("beta", 100)
    val c = (a.split(" ").take(50) ++ b.split(" ").take(50)).mkString(" ")
    val docs3 = Seq((10L, a), (11L, b), (12L, c)).toDF("doc_id", "text")
    val clustered = CorpusCleaner.cleanClustered(docs3)
      .select("doc_id").as[Long].collect().toSet
    assert(clustered === Set(10L))
    val pairwise = CorpusCleaner.clean(docs3)
      .select("doc_id").as[Long].collect().toSet
    assert(pairwise === Set(10L, 11L))
  }

  test("dup clusters: min-label propagation finds transitive keepers") {
    val pairs = Seq((1L, 0L), (1L, 2L), (5L, 6L), (6L, 7L)).toDF("id1", "id2")
    val labels = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(0L) === 0L && labels(1L) === 0L && labels(2L) === 0L)
    assert(labels(5L) === 5L && labels(6L) === 5L && labels(7L) === 5L)
  }

  test("dup clusters: deep chains converge with bounded plan depth") {
    // A 12-edge chain needs 12 propagation rounds (> the 5-iteration
    // localCheckpoint cadence), plus disjoint chains as decoys. Oracle:
    // connected components from a driver-side adjacency walk.
    val chains = Seq(100L to 112L, 200L to 203L, 300L to 301L)
    val pairs = chains.flatMap(c => c.sliding(2).map(p => (p(1), p.head)))
      .toDF("id1", "id2")
    val result = Dedup.dupClusters(pairs, maxIters = 30)
    val labels = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = chains.flatMap(c => c.map(_ -> c.min)).toMap
    assert(labels === expected)
    // lineage truncation: the returned plan must not chain all 12 iterations
    // of join+agg — after the last checkpoint only ≤ 5 iterations of lineage
    // (~a few dozen nodes) may remain
    val nNodes = result.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nNodes < 60, s"optimized plan has $nNodes nodes — lineage not truncated")
  }

  test("star contraction equals min-label propagation on chains, stars, and merged components") {
    // deep chain (worst case for label propagation), a star, two components
    // merged by one bridge edge, an isolated pair — plus reversed-order
    // edges so direction normalization is exercised
    val pairs = (
      (100L to 140L).sliding(2).map(p => (p(1), p.head)).toSeq ++ // 40-link chain
        (0 until 8).map(i => (500L + i, 200L)) ++                 // star onto 200
        Seq((300L, 301L), (302L, 303L), (301L, 302L)) ++          // bridge merge
        Seq((901L, 900L))                                          // isolated pair
      ).toDF("id1", "id2")
    val star = Dedup.dupClustersStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.dupClusters(pairs, maxIters = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
    assert(star(140L) === 100L && star(507L) === 200L && star(303L) === 300L)
  }

  test("star contraction converges within the log-round budget on a deep chain") {
    // a 200-link chain needs 200 label-propagation rounds; the star
    // algorithm must finish far inside a 25-round cap (O(log^2 n))
    val pairs = (1000L to 1200L).sliding(2).map(p => (p(1), p.head))
      .toSeq.toDF("id1", "id2")
    val labels = Dedup.dupClustersStar(pairs, maxIters = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (1000L to 1200L).map(_ -> 1000L).toMap)
  }

  test("dup clusters: reliable-checkpoint mode converges to identical labels") {
    // Same deep-chain graph through the fault-tolerant truncation mode
    // (checkpoint files instead of executor-local blocks) — the labels must
    // be bit-identical to the default mode, and checkpoint data must
    // actually land in the requested directory.
    val chains = Seq(100L to 112L, 200L to 203L)
    val pairs = chains.flatMap(c => c.sliding(2).map(p => (p(1), p.head)))
      .toDF("id1", "id2")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    val reliable = Dedup.dupClusters(pairs, maxIters = 30, checkpointDir = Some(dir.toString))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val default = Dedup.dupClusters(pairs, maxIters = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === default)
    assert(reliable === chains.flatMap(c => c.map(_ -> c.min)).toMap)
    val wrote = java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "no checkpoint files written to the reliable dir")
  }

  test("the session conf flips the library's lineage truncation to reliable mode") {
    // spark.graft.checkpointDir is the deployment switch: no call-site
    // change, every truncation point in the library checkpoints reliably
    // there (the 1000x local-cluster tier's failure mode — a GC-paused
    // executor declared lost takes its localCheckpoint blocks with it,
    // killing even the PAIR-GRAPH build upstream of the CC loop — needs
    // exactly this, library-wide).
    val chains = Seq(300L to 312L, 400L to 404L)
    val pairs = chains.flatMap(c => c.sliding(2).map(p => (p(1), p.head)))
      .toDF("id1", "id2")
    val expected = chains.flatMap(c => c.map(_ -> c.min)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-conf-ckpt")
    // Lineage.truncate will point the shared session's SparkContext
    // checkpoint dir at the temp dir; remember the prior dir so the
    // finally can put it back — otherwise every later test in this JVM
    // calling .checkpoint silently writes under this test's temp path
    // (ADVICE r14). When no prior dir existed there is nothing to restore
    // (Spark has no unset); the temp dir is left on disk so a stray
    // .checkpoint cannot fail, and reliable-mode tests elsewhere re-point
    // via their own conf.
    val priorCkptDir = spark.sparkContext.getCheckpointDir
    spark.conf.set(graft.Lineage.CheckpointDirConf, dir.toString)
    try {
      val minLabel = Dedup.dupClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.dupClustersStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(minLabel === expected)
      assert(star === expected)
      // a non-CC operator's internal truncation flips too (jaccardPairs is
      // the stage that actually died at 1000x)
      val jp = Dedup.jaccardPairs(docs, "doc_id", "text").count()
      assert(jp >= 1L)
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "conf-driven reliable mode wrote no checkpoint files")
      // setCheckpointDir must be called AT MOST ONCE per (session, dir):
      // Spark mints a fresh UUID subdir per call, so the dozens of
      // truncation points above (two CC loops + jaccardPairs internals)
      // re-pointing per call would scatter one subdir each (ADVICE r14).
      val uuidSubdirs = Option(dir.toFile.listFiles()).toSeq.flatten
        .count(_.isDirectory)
      assert(uuidSubdirs === 1,
        s"expected one checkpoint UUID subdir, got $uuidSubdirs")
      // transient intra-query truncation stays LOCAL even in reliable
      // mode: BM25's per-doc stats frame is garbage once the query
      // returns, so it must not buy durable storage (ADVICE r14)
      val filesBefore = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      graft.text.Bm25.topK(docs, "doc_id", "text", Seq("quick", "fox"), k = 3).collect()
      val filesAfter = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(filesAfter === filesBefore,
        "BM25's transient truncation wrote reliable checkpoint files")
    } finally {
      spark.conf.unset(graft.Lineage.CheckpointDirConf)
      priorCkptDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("tp11 scrub-then-clean: fully-scrubbed docs vanish, the scrub changes real outcomes") {
    val d = "/root/testdata/sf0.001"
    val tp11 = graft.queries.Corpus.all("q_tp11_clean_scrubbed")(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(tp11.nonEmpty)
    // docs whose text is entirely duplicated content (exact-dup victims of
    // the scrub: clean_text == '') cannot survive the quality gate
    val scrubEmpty = graft.queries.Corpus.all("q_tp10_span_scrub")(spark, d)
      .collect().collect {
        case r if r.getLong(0) < 4000000L && r.getString(3).isEmpty => r.getLong(0)
      }.toSet
    assert(scrubEmpty.nonEmpty, "fixture has no fully-duplicated natural docs")
    assert((tp11 & scrubEmpty).isEmpty, "a fully-scrubbed doc survived the clean")
    // gate invariant: every survivor passed the quality gate on its
    // SCRUBBED text. (At this fixture the survivor set coincides with
    // tp1's — docs the scrub touches are dup-heavy and fall to the dedup/
    // near-dup stages in both chains; the composition's distinct behavior
    // is gated end-to-end by the q_tp11 SQL oracle instead.)
    val tp11Rows = graft.queries.Corpus.all("q_tp11_clean_scrubbed")(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(tp11Rows.forall(_._2 >= 0.35), "a survivor below the quality gate")
    assert(tp11Rows.forall(_._1 < 4000000L), "a clone id leaked into tp11")
  }

  test("tp5 composition: doc set == tp1 survivors; per-source offsets are gapless") {
    val d = "/root/testdata/sf0.001"
    val tp5 = graft.queries.Corpus.trainingDataset(spark, d).collect()
    val tp1Ids = graft.queries.Corpus.cleanCorpus(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tp5.map(_.getLong(0)).toSet === tp1Ids)
    // within each source, start_off resumes exactly where the previous doc
    // ended — the packing invariant sequencing depends on
    tp5.groupBy(_.getString(1)).values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(0))
      sorted.foldLeft(0L) { (expected, r) =>
        assert(r.getLong(4) === expected,
          s"doc ${r.getLong(0)}: start_off ${r.getLong(4)} != $expected")
        expected + r.getLong(3)
      }
    }
  }

  test("publish capstone: instance totals reconcile with gate survivors and mix config") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val shards = graft.queries.Corpus.all("q_tp16_publish")(spark, d).collect()
    assert(shards.nonEmpty && shards.map(_.getInt(0)).distinct.length === shards.length)
    val totalInstances = shards.map(_.getLong(2)).sum
    // recompute the expected instance count from the gate output + config
    val keepers = graft.queries.Corpus.all("q_tp15_ensemble_gate")(spark, d)
      .filter(col("keep")).select("doc_id")
    val expected = graft.Tables.documents(spark, d)
      .join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"),
        (substring(md5(concat(col("doc_id").cast("string"), lit("epoch"))), 1, 2)).as("h"))
      .collect().map { r =>
        val idx = r.getString(1).stripPrefix("src").toInt
        val (epochs, thr) = if (idx <= 4) (3, "80") else if (idx <= 9) (1, "40") else (0, "c0")
        epochs + (if (r.getString(2) < thr) 1 else 0)
      }.sum
    assert(totalInstances === expected.toLong,
      s"shard instances $totalInstances != gate+mix expectation $expected")
  }

  test("crawl pipeline: URL pairs collapse, gate fires, domain cap holds") {
    // with the fallback off, a stage whose generated code outgrows 64 KB
    // fails the query instead of silently running interpreted
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val rows =
      try graft.queries.Corpus.all("q_tp12_crawl_pipeline")(spark, SparkSpec.Sf0001).collect()
      finally spark.conf.set("spark.sql.codegen.fallback", fallback)
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0)).toSet
    // stage 1 (canonical-URL dedup) keeps only the even member of every
    // corpus even/odd pair; fixtures are their own resources
    assert(ids.filter(_ < 4000000L).forall(_ % 2 == 0))
    // the pass-everything Gopher prose fixture survives the whole chain;
    // every planted pathology (markup docs are far under the 50-word
    // floor once stripped; 4200001..6 violate their rules) is gone
    assert(ids.contains(4200000L))
    assert((4100000L to 4100002L).forall(id => !ids.contains(id)))
    assert((4200001L to 4200006L).forall(id => !ids.contains(id)))
    // the gate's floor holds for every survivor
    rows.foreach(r => assert(r.getLong(3) >= 50L))
    // per-domain cap: never more than 5 survivors per canonical domain
    rows.groupBy(_.getString(1)).foreach { case (dom, g) =>
      assert(g.length <= 5, s"domain $dom over cap: ${g.length}")
      assert(g.map(_.getInt(2)).forall(_ <= 5))
    }
  }
}
