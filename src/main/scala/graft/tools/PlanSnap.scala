package graft.tools

import java.nio.file.{Files, Paths}

/** Plan evidence: dump `explain("formatted")` for the named queries to
  * <outDir>/<query>_<tag>.txt so before/after plan claims are
  * mechanically checkable. The output directory is required, so a new
  * before/after run never overwrites committed evidence (plans/r13,
  * plans/r14).
  *
  * Operators ending in Release.grid / Release.checkpointed rebase their
  * result onto an ExistingRDD, which hides the computation plan from a
  * post-hoc explain — so this tool also installs the Release.planCapture
  * hook and appends every pre-release plan the query produced.
  *
  * Usage: sbt 'runMain graft.tools.PlanSnap <outDir> <before|after> q1 q2 ...'
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <tag> <query> [query ...]")
    val Array(outDir, tag) = args.take(2)
    val names = args.toSeq.drop(2)
    val spark = graft.GraftSession.get(4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val captured = scala.collection.mutable.ArrayBuffer.empty[String]
      graft.operators.Release.planCapture = Some(df =>
        captured += df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val df = graft.SparkEntry.queries(name)(spark, dir)
      graft.operators.Release.planCapture = None
      val finalPlan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val body =
        if (captured.isEmpty) finalPlan
        else captured.zipWithIndex.map { case (p, i) =>
          s"-- pre-release computation plan ${i + 1}/${captured.size} " +
            "(Release rebases the returned frame; this is the real query) --\n" + p
        }.mkString("\n") + "\n-- returned frame (post-release rebase) --\n" + finalPlan
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      Files.write(out, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plansnap] wrote $out")
    }
    spark.stop()
  }
}
