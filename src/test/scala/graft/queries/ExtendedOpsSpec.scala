package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

/** Semantic checks for the round-3 extension operators (grouping sets,
  * exact-moment statistics, array lambdas, unpivot, distribution windows,
  * contamination, boilerplate mining) beyond the DuckDB hash gate — each
  * test pins an algebraic invariant the oracle compare alone wouldn't
  * explain. */
class ExtendedOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("sequence packing: contiguous offsets per source, boundary math consistent") {
    val rows = Corpus.sequencePack(spark, sf)
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .groupBy(_._1)
    rows.foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._2)
      // token stream is gapless: each doc starts where the previous ended
      sorted.sliding(2).foreach {
        case Array((_, _, n1, s1, _, _, _), (_, _, _, s2, _, _, _)) =>
          assert(s2 === s1 + n1)
        case _ =>
      }
      sorted.foreach { case (_, _, n, start, first, last, bounds) =>
        assert(first === math.floorDiv(start, 2048L))
        if (n > 0) assert(last === math.floorDiv(start + n - 1, 2048L))
        assert(bounds === math.max(last - first, 0L))
      }
    }
  }

  test("moment stats reproduce Spark's float-accumulated corr/covar/var to 1e-9") {
    val exact = Corpus.momentStats(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    val ref = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"),
        var_pop(col("l_quantity")).as("vp"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r).toMap
    assert(exact.keySet === ref.keySet)
    for ((flag, r) <- ref) {
      val e = exact(flag)
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      assert(close(e.getAs[Double]("corr_qty_price"), r.getAs[Double]("c")), s"corr $flag")
      assert(close(e.getAs[Double]("covar_samp"), r.getAs[Double]("cv")), s"covar $flag")
      assert(close(e.getAs[Double]("var_pop_qty"), r.getAs[Double]("vp")), s"var $flag")
    }
  }

  test("typed weighted-mean Aggregator equals the plain SQL formulation, any partitioning") {
    import graft.functions.TypedAggs
    // merge-order independence: buffer algebra is commutative + associative
    val bufs = Seq(TypedAggs.WMeanBuf(100L, 2L), TypedAggs.WMeanBuf(350L, 5L),
      TypedAggs.WMeanBuf(0L, 0L))
    val merged = bufs.reduce(TypedAggs.WeightedMeanPrice.merge)
    val mergedRev = bufs.reverse.reduce(TypedAggs.WeightedMeanPrice.merge)
    assert(merged === mergedRev)
    assert(TypedAggs.WeightedMeanPrice.finish(merged) === 450.0 / 7.0 / 100.0)
    assert(TypedAggs.WeightedMeanPrice.finish(TypedAggs.WMeanBuf(0L, 0L)).isNaN)
    // against the built-in composition on real data
    val typed = Corpus.typedWeightedMean(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("wmean_price")).toMap
    val plain = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg((sum(floor(col("l_extendedprice") * 100).cast("long") * col("l_quantity").cast("long"))
        .cast("double") / sum(col("l_quantity").cast("long")).cast("double") / lit(100.0))
        .as("wm"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("wm")).toMap
    assert(typed === plain)
  }

  test("from_json: corrupt-record contract separates malformed/mistyped from missing/null fields") {
    val rows = Corpus.fromJsonParse(spark, sf).filter(col("event_id") >= 5000000L).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[Integer]("k_val")), r.getAs[Boolean]("json_ok"))).toMap
    assert(rows(5000000L) === ((Some(42), true)))   // well-formed
    assert(rows(5000001L) === ((None, true)))       // missing field is not corruption
    assert(rows(5000002L) === ((None, false)))      // mistyped field IS corruption
    assert(rows(5000003L) === ((None, false)))      // malformed JSON
    assert(rows(5000004L) === ((None, true)))       // explicit null is not corruption
  }

  test("calendar densification: contiguous grid per country, zero-fill only on unobserved days") {
    val rows = Corpus.densifiedDailyTotals(spark, sf).collect()
    val byCountry = rows.groupBy(_.getAs[String]("Country"))
    for ((_, rs) <- byCountry) {
      // grid is exactly (max - min + 1) contiguous days
      val days = rs.map(r => String.valueOf(r.get(r.fieldIndex("InvoiceDate")))).sorted
      assert(days.distinct.length === days.length)
      val first = java.time.LocalDate.parse(days.head.take(10))
      val last = java.time.LocalDate.parse(days.last.take(10))
      assert(rs.length === java.time.temporal.ChronoUnit.DAYS.between(first, last) + 1)
      // unobserved days carry qty 0; observed days are non-negative sums
      assert(rs.forall(r => r.getAs[Boolean]("observed") || r.getAs[Long]("qty") === 0L))
    }
    val observed = rows.count(_.getAs[Boolean]("observed"))
    val distinctObserved = Corpus.dailySales(spark, sf)
      .select("Country", "InvoiceDate").distinct().count()
    assert(observed.toLong === distinctObserved)
  }

  test("label centroids: one row per (label, dim), counts equal label sizes") {
    val rows = Corpus.labelCentroids(spark, sf).collect()
    val labelSizes = Tables.embeddings(spark, sf).groupBy("label").count()
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Long]("count")).toMap
    val dims = rows.map(_.getAs[Int]("pos")).distinct.length
    assert(rows.length === labelSizes.size * dims)
    assert(rows.forall(r => r.getAs[Long]("n") === labelSizes(r.getAs[Int]("label"))))
    // mean of unit-ish float components stays bounded
    assert(rows.forall(r => math.abs(r.getAs[Double]("centroid_v")) <= 1.0))
  }

  test("grouping sets: per-country totals sum to the grand total; flags partition the output") {
    val rows = Corpus.groupingSetsTotals(spark, sf).collect()
    val byFlags = rows.groupBy(r => (r.getAs[Int]("g_country"), r.getAs[Int]("g_year")))
    assert(byFlags.keySet === Set((0, 1), (1, 0), (1, 1)))
    val grand = byFlags(1, 1)
    assert(grand.length === 1)
    val countrySum = byFlags(0, 1).map(_.getAs[Long]("total_qty")).sum
    val yearSum = byFlags(1, 0).map(_.getAs[Long]("total_qty")).sum
    assert(countrySum === grand.head.getAs[Long]("total_qty"))
    assert(yearSum === grand.head.getAs[Long]("total_qty"))
  }

  test("unpivot melts each country into exactly one row per metric, values preserved") {
    val long = Corpus.unpivotKpis(spark, sf).collect()
    val perCountry = long.groupBy(_.getAs[String]("Country"))
    assert(perCountry.values.forall(_.map(_.getAs[String]("metric")).sorted.toSeq ===
      Seq("n_days", "total_qty", "total_rev")))
    // total_qty round-trips against an independent aggregate
    val qty = Tables.salesLines(spark, sf)
      .groupBy("Country").agg(sum("Quantity").as("q")).collect()
      .map(r => r.getAs[String]("Country") -> r.getAs[Long]("q").toDouble).toMap
    for ((c, rows) <- perCountry) {
      val v = rows.find(_.getAs[String]("metric") == "total_qty").get.getAs[Double]("value")
      assert(v === qty(c), s"qty mismatch for $c")
    }
  }

  test("distribution windows: ranks bounded, cume_dist monotone, ignore-nulls carry") {
    val rows = Corpus.distWindows(spark, sf).collect()
    assert(rows.forall { r =>
      val p = r.getAs[Double]("pct_rank"); p >= 0.0 && p <= 1.0
    })
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cume"); c > 0.0 && c <= 1.0
    })
    // after a country's first weekday row, last_weekday_qty is never null
    val byCountry = rows.groupBy(_.getAs[String]("Country"))
    for ((_, rs) <- byCountry) {
      val idx = rs.head.fieldIndex("last_weekday_qty")
      val inDateOrder = rs.sortBy(r =>
        (String.valueOf(r.get(r.fieldIndex("InvoiceDate"))), r.getAs[String]("StockCode")))
      val afterFirst = inDateOrder.dropWhile(_.isNullAt(idx))
      assert(afterFirst.forall(!_.isNullAt(idx)))
    }
  }

  test("array lambdas: distinct ≤ total, fold equals norm length minus separators") {
    val rows = Corpus.arrayFunctions(spark, sf).limit(200).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Int]("n_tokens")
      assert(r.getAs[Int]("n_distinct") <= n)
      assert(r.getAs[Int]("n_long") <= n)
      // norm collapses whitespace to single spaces, so token chars = len - (n-1)
      assert(r.getAs[Long]("total_chars") >= n.toLong) // every token ≥ 1 char
    }
  }

  test("contamination: benchmark slice excluded, hits bounded, flag consistent") {
    val rows = Corpus.contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val id = r.getAs[Long]("doc_id")
      assert(id % 17 !== 0L)
      val (n, h) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"))
      assert(h >= 0L && h <= n)
      val ratio = r.getAs[Double]("contamination")
      assert(math.abs(ratio - h.toDouble / n.toDouble) < 1e-15)
      assert(r.getAs[Boolean]("flagged") === (ratio >= 0.5))
    }
  }

  test("decontaminated cleaner: output ⊆ cleaned corpus slice, contamination < 0.5, benchmark excluded") {
    val out = Corpus.cleanCorpusDecontaminated(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("doc_id") % 17 != 0))
    assert(out.forall { r =>
      val c = r.getAs[Double]("contamination"); c >= 0.0 && c < 0.5
    })
    val cleanedIds = graft.pipeline.CorpusCleaner
      .clean(Tables.documents(spark, sf).filter(col("doc_id") % 17 =!= 0))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out.map(_.getAs[Long]("doc_id")).forall(cleanedIds))
  }

  test("edit-distance verify: bounded candidate set, ratio within [0, 1]") {
    val rows = Corpus.editDistanceVerify(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    for (r <- rows) {
      val ratio = r.getAs[Double]("edit_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getAs[Int]("edit_dist") >= 0)
    }
  }

  test("boilerplate grams: df ≥ 2, sorted (df desc, gram asc), capped at 50") {
    val rows = Corpus.boilerplateGrams(spark, sf).collect()
    assert(rows.length <= 50)
    assert(rows.forall(_.getAs[Long]("df") >= 2L))
    val keys = rows.map(r => (-r.getAs[Long]("df"), r.getAs[String]("gram"))).toSeq
    assert(keys === keys.sorted)
  }

  test("star join: true dims broadcast, aggregate is partial (map-side combined)") {
    val q = Corpus.starJoin(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2,
      s"nation/region not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"aggregate not map-side combined:\n$plan")
  }

  test("weighted sample: top-k plan, weights favor longer docs") {
    val q = Corpus.weightedSample(spark, sf)
    // scale contract: a k-winners selection, not a global sort
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val rows = q.collect()
    assert(rows.length === 50)
    // the race is weighted: the sampled docs skew long vs the corpus mean
    val sampledMean = rows.map(_.getAs[Long]("n_chars").toDouble).sum / rows.length
    val corpusMean = graft.Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampledMean > corpusMean,
      s"weighted sample mean $sampledMean not above corpus mean $corpusMean")
  }

  test("passage dedup: clones vanish and every surviving chunk is corpus-unique") {
    val out = Corpus.passageDedup(spark, sf).cache()
    try {
      // injected clone docs (ids 3000000+) lose every chunk to the originals
      assert(out.filter(col("doc_id") >= 3000000L).count() === 0L)
      assert(out.count() > 0)
      // the operator's defining invariant: re-chunking the reassembled
      // texts at the same 16-token boundary recovers the kept chunks
      // (all non-final chunks are exactly 16 tokens), and each distinct
      // chunk appears exactly once across the whole cleaned corpus
      val toks = split(col("clean_text"), " ")
      val n = floor((size(toks) + lit(15)) / lit(16.0)).cast("int")
      val rechunked = out.select(
        explode(transform(sequence(lit(0), n - 1),
          i => array_join(slice(toks, i * 16 + 1, lit(16)), " "))).as("chunk"))
      val total = rechunked.count()
      val distinct = rechunked.select("chunk").distinct().count()
      assert(total === distinct, s"duplicate chunks survived: $total vs $distinct")
      // and n_kept is consistent with the reassembled text
      val bad = out.filter(n =!= col("n_kept")).count()
      assert(bad === 0L, s"$bad docs where n_kept mismatches reassembled chunk count")
    } finally out.unpersist()
  }

  test("line dedup: shared boilerplate lines vanish, content lines survive") {
    val rows = Corpus.all("q_tp14_line_dedup")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the three fixture docs share two footer lines (3 occurrences each):
    // both die, each doc keeps only its unique first line
    assert(rows(4600000L) === ((3L, 2L, "Breaking news about mountain weather")))
    assert(rows(4600001L) === ((3L, 2L, "Local sports results from yesterday")))
    assert(rows(4600002L) === ((3L, 2L, "Recipes for the summer season")))
    // the boilerplate-free doc is untouched
    assert(rows(4600003L) === ((1L, 0L, "A unique essay with no boilerplate at all")))
    // single-line corpus docs: the rule degenerates to whole-doc
    // boilerplate detection; counts stay consistent either way
    rows.collect { case (id, v) if id < 4600000L => v }.foreach { case (nl, nd, txt) =>
      assert(nl === 1L && (nd === 0L || txt === ""))
    }
  }

  test("shard manifest: exhaustive partition of the corpus, stable checksums") {
    val d = "/root/testdata/sf0.001"
    val m = Corpus.all("q_s13_shard_manifest")(spark, d).collect()
    // hash sharding covers all 8 shards on even the small corpus
    assert(m.map(_.getInt(0)).toSeq === (0 until 8))
    // manifest totals reconcile with whole-corpus ground truth
    val docs = Tables.documents(spark, d)
    assert(m.map(_.getLong(1)).sum === docs.count())
    assert(m.map(_.getLong(2)).sum ===
      docs.agg(sum(length(col("text")))).head().getLong(0))
    // id ranges are consistent and shards are disjoint by construction
    m.foreach(r => assert(r.getLong(4) <= r.getLong(5)))
    // the commutative checksum is invariant under physical layout
    val again = Corpus.all("q_s13_shard_manifest")(spark, d).collect()
    assert(m.map(r => (r.getInt(0), r.getLong(6))).toSeq ===
      again.map(r => (r.getInt(0), r.getLong(6))).toSeq)
    // incremental maintenance: merging base+delta partials reproduces the
    // from-scratch manifest bit for bit
    val incr = Corpus.all("q_s14_incr_manifest")(spark, d).collect()
    assert(incr.map(_.toSeq).toSeq === m.map(_.toSeq).toSeq)
  }

  test("chunking with overlap: gapless coverage, fixed stride, bounded width") {
    val byDoc = Corpus.all("q_t31_chunk_overlap")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      // indices dense from 0; starts advance by exactly the stride
      sorted.zipWithIndex.foreach { case ((_, idx, start, end), i) =>
        assert(idx === i.toLong && start === i * 48L)
        assert(end > start && end - start <= 64L, s"doc $doc chunk $i width")
      }
      // gapless: every next chunk starts inside the previous one (16-token
      // overlap)
      sorted.sliding(2).foreach {
        case Array((_, _, _, e1), (_, _, s2, _)) => assert(s2 < e1)
        case _ =>
      }
      val n = sorted.last._4
      if (sorted.length > 1) assert(n > 64L) // multi-chunk docs exceed one window
    }
    // the final chunk reaches the document end EXACTLY: compare each doc's
    // last end_tok against an independently computed token count — an
    // nChunks undercount would satisfy every structural assertion above
    // while silently leaving the tail of long documents unchunked
    val nTokens = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.text.TextFunctions.tokens(
          graft.text.TextFunctions.normText(col("text")))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (doc, chunks) =>
      assert(chunks.maxBy(_._2)._4 === nTokens(doc),
        s"doc $doc: last chunk must end at the token count")
    }
    // and every nonempty doc is chunked at all
    assert(byDoc.keySet === nTokens.filter(_._2 > 0).keySet)
  }

  test("code detection: planted code flags, prose and the whole corpus stay clean") {
    val rows = Corpus.all("q_t30_code_detect")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(6)))
    val flagged = rows.filter(_._2).map(_._1).toSet
    // exactly the three planted code fixtures (4980003 is the CRLF struct
    // pinning the \r?$ anchor) — the synthetic prose corpus must not trip
    // any of the three clauses
    assert(flagged === Set(4980000L, 4980001L, 4980003L))
  }

  test("manifest diff: every shard flags changed, count-preserving edits caught by checksum") {
    val rows = Corpus.all("q_s15_manifest_diff")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.map(_._1).toSeq === (0 until 8))
    // 10 re-arrived docs spread over shards; total doc delta is exactly 10
    assert(rows.map(_._4).sum === 10L)
    // the %97 updates touch every shard's content at sf scale — and in
    // particular SOME shard must flag with delta_docs == 0 (the
    // count-preserving edit only the checksum catches)
    assert(rows.forall(_._7))
    assert(rows.exists(r => r._4 === 0L && r._7),
      "expected a changed shard with zero doc delta")
    // char deltas are consistent with ' updated-v2' suffixes (11 chars
    // per updated doc) plus the re-arrived docs' full lengths
    rows.foreach { case (_, _, _, dd, dc, dt, _) =>
      assert(dc > 0L && dt > 0L && dd >= 0L)
    }
  }

  test("importance resampling: exactly n/4 selected, tilted toward the target sources") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Corpus.all("q_p17_importance_resample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.length === docs.size)
    // the Gumbel-key threshold selects EXACTLY k = n/4 (total order, no
    // ties left unbroken)
    val selected = rows.filter(_._5)
    assert(selected.length === docs.size / 4)
    // the tilt works: the target slice (src0-src4) is overrepresented
    // among the selected docs relative to its corpus share
    val tgt = Set("src0", "src1", "src2", "src3", "src4")
    val shareAll = docs.values.count(tgt).toDouble / docs.size
    val shareSel = selected.count(r => tgt(docs(r._1))).toDouble / selected.length
    assert(shareSel > shareAll,
      s"target share $shareSel should exceed corpus share $shareAll")
    // weights: a doc made ONLY of target-leaning grams scores above one
    // of raw-only grams — proxy: selected docs' mean weight > global mean
    val meanSel = selected.map(_._3).sum.toDouble / selected.length
    val meanAll = rows.map(_._3).sum.toDouble / rows.length
    assert(meanSel > meanAll)
  }
}
