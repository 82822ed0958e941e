package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of declared queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}
  * .txt). Unlike [[Plans]] (curated PLANS.md at the headline set),
  * this takes explicit query names and writes one file per query,
  * with the POST-AQE final plan (the query is executed first so
  * `isFinalPlan=true` shapes — coalesced reads, runtime join
  * strategies — are what lands in the file).
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> <query> [query...] [--sf <dir>]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <query> [query...] [--sf <dir>]")
    val outDir = args(0)
    val suffix = args(1)
    val (opts, names) = args.drop(2).partition(_.startsWith("--sf="))
    val sfDir = opts.headOption.map(_.stripPrefix("--sf="))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // settle AQE on THIS QueryExecution (the Plans.scala rule):
      // toRdd executes the same AdaptiveSparkPlanExec the explain
      // below prints, without a driver-side collect
      df.queryExecution.toRdd.foreach(_ => ())
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(p, txt)
      println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
