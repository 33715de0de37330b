package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timing for PRODUCTION bodies whose gate forms deliberately carry
  * validator overhead — the gate is the correctness contract, this
  * main is the honest cost of the path a pipeline actually runs.
  *
  * First resident: the per-source quality prune pair. The gate
  * `q_quality_prune_approx` runs the approximate path PLUS the exact
  * rank windows (its whole point is hashing their agreement), so its
  * bench time can never show the approximation's advantage; here the
  * two production shapes race bare. Usage mirrors Bench:
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.ScaleProbe [names...]`,
  * min-of-SPARK_GRAFT_BENCH_ITERS through the noop sink, one JSON
  * line on stdout.
  */
object ScaleProbe {

  import org.apache.spark.sql.functions._

  /** name → production body. Every entry's correctness is already
    * gate- or spec-pinned elsewhere; this registry is ONLY a cost
    * harness and never feeds Verify. */
  val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the exact per-source rank cut — identical to the q_quality_prune
    // gate body (the gate IS the production exact path)
    "quality_prune_exact" -> ((s, dir) =>
      SparkEntry.queries("q_quality_prune")(s, dir)),
    // the two-phase sketch-threshold cut, WITHOUT the gate's
    // validator windows — the 100 TB path
    "quality_prune_approx" -> ((s, dir) =>
      graft.operators.TextOps.qualityPruneApprox(
        Tables(s, dir, "documents"))),
    // the approximate ANALYZE pair carries the same shape (exact NDV
    // vs HLL) but its gate already separates the modes; the prune
    // pair is the one whose production delta only THIS main can show
    "quality_clf" -> ((s, dir) =>
      graft.operators.TextOps.qualityClassifier(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")))))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val spark = GraftSession.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val unknown = args.toSet -- probes.keySet
    require(unknown.isEmpty,
      s"unknown probe name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val wanted = if (args.isEmpty) probes.keys.toSeq.sorted else args.toSeq
    val results = wanted.map { name =>
      val secs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        probes(name)(spark, sfDir).write.format("noop")
          .mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // run isolation: the approx-prune body PINS (localCheckpoints)
        // its margins frame per invocation, so without an unpersist
        // later iterations inherit the earlier ones' resident blocks
        Bench.quiesce(spark)
        sec
      }
      name -> math.round(secs.min * 100) / 100.0
    }
    println(results.map { case (k, v) =>
      QueryDef.jsonString(k) + ":" + v
    }.mkString("{", ",", s""","sf":${QueryDef.jsonString(
      new java.io.File(sfDir).getName)}}"""))
    spark.stop()
  }
}
