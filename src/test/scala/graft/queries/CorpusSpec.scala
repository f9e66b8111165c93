package graft.queries

import graft.SparkSpec

class CorpusSpec extends SparkSpec {

  test("every oracle SQL entry has a matching query") {
    val missing = Oracle.sql.keySet -- Corpus.all.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("rows-only queries (no oracle) are the documented non-SQL-expressible set") {
    val rowsOnly = Corpus.all.keySet -- Oracle.sql.keySet
    val expected = Set(
      "q_p8_sample",            // engine-specific RNG
      "q_a13_approx_distinct",  // HLL sketch
      "q_ml1_forecast_kpi",     // model fit (solver-dependent floats)
      "q_t5_fingerprints",      // custom hash exprs
      "q_dd2_minhash_pairs", "q_dd3_simhash_pairs") // hash/band internals
    // (q_dd4, q_dd2b, q_ann2, q_ann3 are oracle-checked: injected clones
    // make each LSH/IVF result exactly SQL-expressible — recall oracles, see
    // Corpus.embedNearDup / minhashRecall / withQueryClones)
    assert(rowsOnly === expected, s"unexpected rows-only set: $rowsOnly")
  }

  test("q_ml1 releases every pin it makes") {
    val d = graft.SparkSpec.Sf0001
    Corpus.warmShared(spark, d)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (rows, released) = releasedRdds(Corpus.all("q_ml1_forecast_kpi")(spark, d).collect())
    assert(rows.nonEmpty)
    // a key-set check: the map holds weak values, so its size can shrink
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
    // the slim assembled pin only; the predictions stay lazy
    assert(released.size === 1, s"released RDDs: $released")
  }

  test("flagship entry query returns rows on sf0.001") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("q_dd3c telemetry commits the cap's approximation contract, golden-pinned") {
    // Golden row at sf0.001 (cap 8, radius 7), cross-validated three ways
    // on 2026-08-15: the engine, an independent Python reimplementation of
    // Dedup.simhashImpl, and the q_dd3c DuckDB oracle all agree bit-for-bit.
    // A change to the FNV hash, the vote rule, the banding, the probe
    // arithmetic, or the shed rule moves at least one of these numbers.
    val r = Corpus.all("q_dd3c_simhash_telemetry")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getInt(0) === 1, s"probe must engage at cap 8: $row")
    assert((row.getLong(1), row.getLong(2)) === (195120L, 31744L), s"$row")
    assert((row.getLong(3), row.getLong(4), row.getLong(5)) === (95L, 374L, 134949L), s"$row")
    assert((row.getLong(6), row.getLong(7)) === (350L, 750193403057L), s"$row")
  }

  test("trained quality classifier tracks the heuristic label it was fit on") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val scored = Corpus.all("q_t21_quality_classifier")(spark, d)
    val withLabel = scored.join(
      graft.Tables.documents(spark, d).select(
        col("doc_id"),
        graft.text.TextFunctions.qualityScore(col("text")).as("q")),
      Seq("doc_id"))
    // The ridge fit must carry real signal: docs the model keeps average a
    // clearly higher heuristic quality than docs it drops (the label proxy
    // it was trained toward on the 20% fold).
    val m = withLabel.groupBy("kept").agg(avg("q").as("mq"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > m(false) + 0.1, s"kept=${m(true)} vs dropped=${m(false)}")
    // And both gate outcomes actually occur.
    assert(m.size === 2)
  }

  test("threshold sweep is a coherent operating curve on held-out folds") {
    val d = "/root/testdata/sf0.001"
    val rows = Corpus.classifierThresholdSweep(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.map(_._1).toSeq === Seq(350, 400, 450, 500, 550))
    // every threshold partitions the same held-out population
    val totals = rows.map { case (_, tp, fp, fn, tn, _, _, _) => tp + fp + fn + tn }
    assert(totals.distinct.length === 1 && totals.head > 0)
    // raising the threshold can only shrink the predicted-positive set:
    // recall is monotonically non-increasing in thr
    rows.map(_._7).sliding(2).foreach {
      case Array(r1, r2) => assert(r2 <= r1, "recall increased with a stricter threshold")
      case _ => ()
    }
    // the curve carries signal somewhere: some threshold beats F1 = 0.5
    assert(rows.map(_._8).max > 0.5, "no operating point with F1 > 0.5")
    // ratios reconcile with the raw counts
    rows.foreach { case (_, tp, fp, fn, _, prec, rec, _) =>
      if (tp + fp > 0) assert(math.abs(prec - tp.toDouble / (tp + fp)) < 1e-12)
      if (tp + fn > 0) assert(math.abs(rec - tp.toDouble / (tp + fn)) < 1e-12)
    }
  }

  test("ensemble gate: keep is the conjunction; rules carry independent signal") {
    val rows = Corpus.all("q_tp15_ensemble_gate")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(rows.length ===
      graft.Tables.documents(spark, "/root/testdata/sf0.001").count())
    rows.foreach { case (id, c, g, rep, keep) =>
      assert(keep === (c && g && rep), s"doc $id keep != conjunction")
    }
    // the gate is non-trivial in both directions and no single rule
    // subsumes the verdict
    assert(rows.exists(_._5) && rows.exists(!_._5))
    assert(rows.exists { case (_, c, g, _, _) => c && !g })
  }

  test("filter funnel: stages chain, counts are monotone, drops reconcile") {
    val rows = Corpus.all("q_t26_filter_funnel")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq ===
      Seq("1_length", "2_repetition", "3_language", "4_quality"))
    // stage k's input is stage k-1's output; stage 1's input is the corpus
    assert(rows.head._2 ===
      graft.Tables.documents(spark, "/root/testdata/sf0.001").count())
    rows.sliding(2).foreach {
      case Array((_, _, out1, _), (_, in2, _, _)) => assert(out1 === in2)
      case _ => ()
    }
    rows.foreach { case (st, in, out, dropped) =>
      assert(out <= in, s"$st grew")
      assert(dropped === in - out, s"$st drop mismatch")
    }
  }

  test("gopher rules: each planted pathology fails exactly its intended rule") {
    val df = Corpus.all("q_t24_gopher_rules")(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 4200000L)
    val byId = df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getBoolean(9))
    }.toMap
    assert(byId.keySet === (4200000L to 4200006L).toSet)
    // prose control: every rule passes
    assert(byId(4200000L)._9, "control prose doc should pass all rules")
    // every pathology fails the gate
    (4200001L to 4200006L).foreach(id => assert(!byId(id)._9, s"$id should fail"))
    // bullet doc: 9 of 10 lines bulleted — exactly the >=90% boundary
    val (_, _, _, bLines, bBullets, _, _, _, _) = byId(4200001L)
    assert(bLines === 10L && bBullets === 9L)
    // ellipsis doc, hand-computed signals
    assert(byId(4200002L) ===
      ((18L, 80L, 2L, 4L, 0L, 2L, 16L, 0L, false)))
    // numeric doc: zero alpha words; long-word doc: mean word length > 10
    assert(byId(4200005L)._7 === 0L)
    val (lw, lSum, _, _, _, _, _, _, _) = byId(4200006L)
    assert(lSum > lw * 10)
  }
}
