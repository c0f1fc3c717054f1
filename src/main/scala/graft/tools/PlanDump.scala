package graft.tools

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (`plans/r<N>/<query>_before.txt` /
  * `_after.txt`). Usage:
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * With no query list, dumps every `SparkEntry.queries` entry. Build
  * steps are excluded: their bodies execute eagerly (write + read-back),
  * so they have no single statement plan to print. Exchange ids are
  * renumbered per file ([[stablePlanIds]]), so two runs of one commit
  * write identical files.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val spark = graft.GraftSession("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val unknown = only.diff(graft.SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"PlanDump: unknown query name(s) ${unknown.toSeq.sorted.mkString(", ")} " +
        "— a silently-skipped typo would leave the evidence file unwritten")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    var failed = List.empty[String]
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = stablePlanIds(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(t) =>
        failed ::= s"$name: ${t.getMessage}"
      }
    }
    println(s"PLANDUMP wrote ${names.size - failed.size}/${names.size} to $outDir")
    failed.foreach(f => println(s"PLANDUMP FAILED $f"))
    spark.stop()
  }

  /** `txt` with every `[plan_id=N]` renumbered 0, 1, … in order of first
    * appearance. Spark draws these ids from a JVM-global counter, so the
    * raw numbers depend on what planned before; the renumbered text keeps
    * which node each reference points to. */
  private[graft] def stablePlanIds(txt: String): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    "\\[plan_id=(\\d+)\\]".r.replaceAllIn(txt, m =>
      s"[plan_id=${ids.getOrElseUpdate(m.group(1), ids.size)}]")
  }
}
