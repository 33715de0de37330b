package graft

/** Interleaved A/B timing for registered gates on a drifting box:
  * alternates the named queries round-robin for N rounds in ONE JVM,
  * so ambient load hits every variant equally and the PER-ROUND
  * deltas are comparable even when absolute seconds drift. Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> runMain graft.ABProbe [rounds] name...
  * Prints per-query min/median plus every round's reading. Repeating
  * a name runs independent arms (the A/A noise-floor check). A
  * measurement tool like ScaleProbe — not part of the driver
  * contract.
  */
object ABProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val (rounds, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(n) => (math.max(1, n), args.drop(1).toSeq)
      case None    => (5, args.toSeq)
    }
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.BoundedWindow.quietBoundedWarnings()
    // index-keyed arms, not a name map: `ABProbe 5 q_x q_x` is the
    // A/A noise-floor check and must keep two independent buffers
    val timings = names.map(n =>
      n -> scala.collection.mutable.ArrayBuffer.empty[Double])
    // one untimed warmup pass (plan compile + codegen + footers)
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
    }
    (1 to rounds).foreach { r =>
      timings.foreach { case (n, buf) =>
        // Bench.quiesce between timed runs — otherwise arm A's
        // leftovers are billed to arm B on a fixed round-robin order,
        // a SYSTEMATIC bias in exactly the delta this tool measures
        Bench.quiesce(spark)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop")
          .mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        buf += sec
        println(f"[ab] round $r $n $sec%.2f")
      }
    }
    timings.foreach { case (n, buf) =>
      val ts = buf.sorted
      // even-count median averages the middle pair — the SAME
      // statistic Bench publishes, so the two are comparable
      val med =
        if (ts.length % 2 == 1) ts(ts.length / 2)
        else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2
      println(f"[ab] TOTAL $n min ${ts.head}%.2f med $med%.2f" +
        s" all ${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
