package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's default tuning.
  *
  * Mirrors the reference's bootstrap (Sales_forecast_pyspark.py:47-53: local
  * master, small fixed shuffle-partition count, quiet UI) but sized for this
  * harness (local[32]) and with AQE on — at cluster scale AQE subsumes manual
  * shuffle-partition tuning via runtime coalescing and skew-join splitting.
  */
object GraftSession {

  /** Every setting the engine tunes, for a session with `cores` task slots
    * in total: the only source of session config. [[local]] adds its
    * master, app name and warehouse path; other deployments
    * (tools/ClusterEvidence) add only their own master, executor and path
    * keys. The shuffle, AQE and skew keys are runtime SQL confs, so a run
    * can change any of them with `spark.conf.set`. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      // Reducer sizing is AQE's job, not a constant's (r15 directive #1
      // closed the r14 qpart question): seed partition coalescing WIDE
      // (8x cores) and let the 64 MB advisory target coalesce each
      // stage DOWN to its data volume. This is the per-stage,
      // data-volume-aware sizing a real cluster runs with, and it is
      // MEASURED to dominate the old fixed-cores default: at 100x
      // (nothing spills) seeded AQE is 1.27x FASTER than fixed-32
      // (347.1 vs 440.4 s, same host); at 1000x it completes the q_tp1
      // chain 1.14x faster than fixed-32 where a blanket fixed-256
      // OOMs. Two sizing caveats from the same measurement: (a) seed
      // width should track the biggest stage, not the max (init=1024 at
      // 100x pays map-side bucket overhead for nothing — 509.6 s); (b)
      // the advisory is COMPRESSED shuffle bytes, so on chains with
      // 4-8x decompression ratios a 64 MB advisory still spills at
      // 1000x (386 GB); adv=16m cuts that 8.7x at the cost of 4x the
      // reduce tasks — size adv ~= executorMemPerTask / decompression
      // ratio on a real deployment (PERF.md r15 directive #1 table).
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cores * 8).toString,
      // parallelismFirst=true is NOT the "ignore the advisory" mode its
      // name suggests: it sets the coalescing floor to defaultParallelism
      // partitions, and the per-partition target stays
      // min(total/defaultParallelism, advisory) — so on any stage bigger
      // than cores x advisory (every stage that matters at 100 TB) the
      // advisory governs identically to parallelismFirst=false. It only
      // changes SMALL stages (< ~2 GB at 32 cores), where coalescing to
      // the full 64 MB advisory serializes high-compute-per-byte work:
      // measured at sf0.1, parallelismFirst=false collapsed the shared
      // daily frame's shuffles to 1-3 partitions and cost the window/agg
      // family 3-5x (q_w1 5.65->1.16 s, q_j2 8.01->1.68 s when restored;
      // OPTIMIZATION_r15.md). The 1000x q_tp1 chain wall is unchanged
      // (PERF.md r15 A/B) because there the advisory binds either way.
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
      // The 1 MB default floor re-serializes tiny-bytes/high-compute
      // stages (a 6 MB compressed shuffle -> 6 tasks on 32 cores); a
      // smaller floor lets the parallelism-first target
      // (total/defaultParallelism) govern further down. Only stages under
      // cores x 1 MB total bytes even see this knob, so it is invisible
      // at 100 TB stage sizes. 256k is the measured balance on both
      // gauges (OPTIMIZATION_r15.md): the sf0.1 window/agg subset runs
      // 27.2 s @1m -> 20.4 @64k -> 18.6 @256k, while the 100x q_tp1
      // chain runs ~116-131 s @1m -> ~128-154 @256k -> 186 @64k on a
      // host paying ~20x on first-touch allocation (more reduce tasks =
      // more fresh task buffers; a healthy host does not pay this).
      // Allocation-crippled deployments can restore 1m with spark.conf.set.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
      // AQE coalescing for CACHED plans (SPARK-42101 conf, default false):
      // persist()/cache() otherwise compiles its materialization plan with
      // coalescing suppressed — the cache fills at initialPartitionNum
      // (cores×8) partitions no matter how tiny the data, and every scan
      // of the cache, plus every broadcast-join stage downstream of it,
      // inherits that bloated partitioning (there is no exchange left for
      // AQE to re-coalesce). Measured r16: the iterative loop families
      // (graph, CC dedup, the ml1 pin, the shared daily cache) ran ALL
      // their per-round stages at 256 tasks over <1 MB. Flipping it on
      // sizes cached plans by data volume like everything else; it only
      // changes partitioning, never rows (oracle-gated 214/214).
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // AQE skew-join at harness scale: the default 256MB skew threshold
      // is sized for cluster executors; local hot partitions (e.g. one
      // canonical URL holding 80% of a 20M-row frame — q_t25b's planted
      // experiment) compress under it and would never split. 64MB trips
      // on genuinely hot keys while leaving balanced plans untouched;
      // splits aim at the 64MB advisory target, i.e. executor-memory-
      // bounded tasks — the same knob a 100 TB deployment sizes to its
      // executors. Factor default "5" (not "5.0"): the conf was intConf
      // before Spark 3.5 and "5" parses under both readers.
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // The reference ran Spark 3.5 (pre-ANSI default): APE = abs_err/actual
      // yields Infinity on actual=0 rather than erroring
      // (Sales_forecast_pyspark.py:1343-1344). Queries themselves guard
      // divisions, but keep parity for library users.
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  def local(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config(settings(cores).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
