package graft.tools

import org.apache.spark.ListenerBusDrain

import graft.GraftSession

/** Builder-side plan audit for slow-query diagnosis (not part of the
  * library surface; the driver never runs it).
  *
  * Usage: `Scratch <sfDir> <mode> <query>...` with mode one of
  *  - `explain`     the formatted physical plan, before execution
  *  - `explainexec` the final adaptive plan, after a noop-sink run
  *  - `stageprof`   per-stage wall, task count and I/O of a noop-sink run
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "explain"
    val spark = GraftSession.local(appName = "graft-scratch")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    what match {
      case "explain" =>
        // plan audit: print the formatted physical plan of any corpus query
        args.drop(2).foreach { name =>
          println(s"===== $name =====")
          graft.queries.Corpus.all(name)(spark, d).explain("formatted")
        }

      case "explainexec" =>
        // plan audit AFTER execution: run the query through the noop sink
        // (the bench's own action), then print the FINAL adaptive plan —
        // the only form in which AQE decisions (AQEShuffleRead coalescing,
        // runtime join rewrites, skew splits) are visible. `explain` on an
        // unexecuted frame prints isFinalPlan=false with none of that.
        args.drop(2).foreach { name =>
          val df = graft.queries.Corpus.all(name)(spark, d)
          df.write.format("noop").mode("overwrite").save()
          df.collect() // finalizes THIS frame's own QueryExecution
          println(s"===== $name (final adaptive plan) =====")
          df.explain("formatted")
          // formatted explain prints AQEShuffleRead as just "coalesced" —
          // surface the actual post-coalescing partition counts
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{
            AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
          def reads(p: SparkPlan): Seq[Int] = p.collect {
            case a: AQEShuffleReadExec => Seq(a.partitionSpecs.length)
            case s: QueryStageExec => reads(s.plan)
            case ap: AdaptiveSparkPlanExec => reads(ap.executedPlan)
          }.flatten
          println(s"[scratch] $name AQEShuffleRead partition counts: " +
            reads(df.queryExecution.executedPlan).mkString(", "))
        }

      case "stageprof" =>
        // per-stage wall/task/IO breakdown for one or more queries — the
        // no-UI stand-in for the stage page (guide §7.1): which stages a
        // query's wall actually goes to, with task counts and shuffle bytes
        val rows = java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]())
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = ev.stageInfo
              val wall = (for {
                a <- si.completionTime; b <- si.submissionTime
              } yield (a - b) / 1000.0).getOrElse(-1.0)
              val m = si.taskMetrics
              rows.add(f"${si.stageId}%5d ${si.numTasks}%5d ${wall}%7.2fs " +
                f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
                f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
                f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
                f"spill=${m.diskBytesSpilled / 1e6}%6.0fMB  ${si.name.takeWhile(_ != '\n').take(70)}")
            }
          })
        args.drop(2).foreach { q =>
          rows.clear()
          time(s"stageprof $q")(
            graft.queries.Corpus.all(q)(spark, d)
              .write.format("noop").mode("overwrite").save())
          // every stage-completed event delivered, so no stage is credited
          // to the next query
          ListenerBusDrain(spark.sparkContext)
          println(s"===== stages for $q (stageId tasks wall io) =====")
          rows.forEach(r => println(r))
        }

      case other =>
        println(s"[scratch] unknown mode $other (explain | explainexec | stageprof)")
    }
    spark.stop()
  }
}
