package graft.operators

import graft.{BenchWorkloads, GraftSession}
import org.apache.spark.sql.DataFrame

/** Plan evidence tool (NOT part of the frozen bench contract): writes
  * `.explain("formatted")` output for every bench workload — plus the
  * internal stage shapes optimization claims are about — to
  * plans/r07/<name>_<suffix>.txt. Run it once on each side of a change,
  * naming the side with the suffix.
  *
  * Usage: sbt "runMain graft.operators.PlanDump before|after"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in graft.Bench.
  */
object PlanDump {

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("after")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = java.nio.file.Paths.get("plans/r07")
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt, "graft-plandump")
    import java.nio.charset.StandardCharsets.UTF_8

    def write(name: String, sections: Seq[(String, String)]): Unit = {
      val body = sections.map { case (t, s) => s"==== $t ====\n$s" }.mkString("\n")
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        body.getBytes(UTF_8))
      println(s"[plandump] wrote ${name}_$suffix.txt")
    }

    // 1) every bench workload's top-level plan (building a workload runs
    // any internal materialization its operator performs; cached results
    // render as InMemoryTableScan roots — their component shapes follow
    // as dedicated sections below)
    for ((name, _, build) <- BenchWorkloads.all(spark, sfDir)) {
      val df = build()
      write(name, Seq("workload plan" -> fmt(df)))
      Caching.release(df)
      val leaked = spark.sparkContext.getPersistentRDDs
      if (leaked.nonEmpty) {
        spark.sharedState.cacheManager.clearCache()
        leaked.values.foreach(_.unpersist(blocking = true))
      }
    }

    // 2) dedup component shapes (the minhash_dedup / dedup_clusters
    // claims): exact-dup collapse, shingle carrier, signature build,
    // band candidates, exact verify — all pre-materialization
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    write("dedup_components", dedupComponents(docs))

    // 3) one CC iteration's plan (the dedup_clusters per-iteration claim)
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 1L)).toDF("u", "v")
    write("cc_iteration", Seq(
      "smallStar(largeStar(e)) — one iteration" ->
        fmt(Components.smallStar(Components.largeStar(edges)))))

    spark.stop()
  }

  /** The stage shapes of the pair-producing dedup path, straight from
    * the operator's own stage builder.
    */
  private def dedupComponents(docs: DataFrame): Seq[(String, String)] = {
    val s = Dedup.minhashLshStages(docs, 16, 4, 1, 2, expandWithin = true)
    val sections = Seq(
      "collapse + shingle arrays: one text exchange, in-row array_distinct (shA)" -> fmt(s.shA),
      "members: narrow explode of the collapse aggregate" -> fmt(s.members),
      "signatures: in-row array_min folds over shA (no exchange added)" -> fmt(s.wide),
      "band candidates" -> fmt(s.cand),
      "exact verify: in-row array_intersect, 1 row/pair (no shingle re-join, no sizes agg)" -> fmt(s.verified))
    s.shA.unpersist(blocking = false) // plan-only: drop the cache marker
    sections
  }
}
