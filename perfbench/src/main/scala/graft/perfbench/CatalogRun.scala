package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.queries.{Dedup, Models, SimilarityQueries}
import org.apache.spark.sql.SparkSession

/** The analyst's path: catalog queries on the engine's test tables, each built
  * through `SparkEntry.queries` and its result written as parquet for the
  * oracle compare. Session fixtures are built during set-up under their own
  * names, so no query is charged for them. */
object CatalogRun {

  /** The session fixtures the catalog shares, in dependency order. */
  val Fixtures: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "coarsePq" -> Models.coarsePq _,
    "residualPq" -> Models.residualPq _,
    "pqM4" -> Models.pqM4 _,
    "opqPermCodes" -> Models.opqPermCodes _,
    "l2Truth5" -> Models.l2Truth5 _,
    "pcaAxis" -> ((s: SparkSession, d: String) =>
      Models.pcaAxis(s, d, rounds = 6, dims = SimilarityQueries.KmeansDims)),
    "dedup.canonDocs" -> Dedup.canonDocs _,
    "dedup.shingles" -> Dedup.shingles _,
    "dedup.verifiedPairs" -> Dedup.verifiedPairs _,
    "dedup.components" -> Dedup.components _,
    "dedup.bpeMerges" -> Dedup.bpeMerges _,
    // The two memos below are private to graft.queries; building (not
    // running) the query that first reads each one forces it.
    "rel:tradeflow" -> ((s: SparkSession, d: String) => SparkEntry.queries("x11_pagerank")(s, d)),
    "mortonHist" -> ((s: SparkSession, d: String) => SparkEntry.queries("x12_zorder_layout")(s, d)))

  /** One query in `Stride` is run: a full pass of all 124 queries takes about
    * a minute on 4 cores, longer than a benchmark run may last. */
  val Stride = 8

  /** Every `stride`-th query of the sorted catalog, starting at the first. */
  def sample(stride: Int): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect {
      case (n, i) if i % stride == 0 => n
    }

  def apply(run: Run): Map[String, Any] = {
    import run.{spark, trace}
    val d = run.inputDir
    val names = sample(Stride)
    val outDir = s"${run.workDir}/out"

    run.hostProbe()
    val before = run.probe.map(_.snapshot())
    val fixtureS = Fixtures.map { case (name, build) =>
      val t0 = System.nanoTime()
      trace(s"fixture:$name")(build(spark, d))
      name -> (System.nanoTime() - t0) / 1e9
    }
    val afterFixtures = run.probe.map(_.snapshot())
    // One untimed pass first, the same work as the timed one: a cold pass
    // runs 15-25% slower than the next and spreads twice as much, as JIT,
    // codegen and the parquet writer warm up.
    for (q <- names) {
      try trace(s"warmup:$q")(SparkEntry.queries(q)(spark, d).write.mode("overwrite").parquet(s"$outDir/$q"))
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $q failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    val afterWarmUp = run.probe.map(_.snapshot())
    run.markReady()

    val failed = mutable.Set.empty[String]
    var attempted, failures = 0
    val perQuery = mutable.Map.empty[String, mutable.Buffer[Double]]
    val buildS = mutable.Buffer.empty[Double]
    val passS = mutable.Buffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes while the next one is expected to end within the window
    while (passS.isEmpty || elapsed + passS.last <= run.seconds) {
      val p0 = System.nanoTime()
      trace("pass:catalog") {
        for (q <- names) {
          val q0 = System.nanoTime()
          attempted += 1
          // a query that fails here must not leave the warm-up pass's output
          // behind for the oracle compare
          deleteRecursively(new java.io.File(s"$outDir/$q"))
          try {
            val df = trace(s"query:$q")(SparkEntry.queries(q)(spark, d))
            buildS += (System.nanoTime() - q0) / 1e9
            trace(s"write:$q")(df.write.mode("overwrite").parquet(s"$outDir/$q"))
            perQuery.getOrElseUpdate(q, mutable.Buffer.empty) += (System.nanoTime() - q0) / 1e9
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
              failed += q
              failures += 1
          }
          spark.catalog.clearCache()
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
    }
    val window = run.probe.map(_.snapshot())
    run.hostProbe()

    val passes = passS.size
    val layers: Map[String, Double] = (for {
      b <- before; f <- afterFixtures; u <- afterWarmUp; w <- window
    } yield {
      val timed = Probe.delta(w, u).map { case (k, v) => k -> v / passes }
      val fix = Probe.delta(f, b)
      timed ++ Map(
        "queries.build_s" -> buildS.sum / passes,
        "fixtures.build_s" -> fixtureS.map(_._2).sum,
        "fixtures.jobs" -> fix.getOrElse("sched.jobs", 0.0))
    }).getOrElse(Map.empty)

    Json.write(java.nio.file.Paths.get(run.workDir, "oracle_sql.json"),
      names.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    Map(
      "queries" -> names,
      "attempted" -> attempted,
      "failed" -> failures,
      "failed_queries" -> failed.toSeq.sorted,
      "passes" -> passes,
      "pass_s" -> passS.toSeq,
      "query_s" -> perQuery.map { case (q, v) => q -> Stats.median(v.toSeq) }.toMap,
      "fixture_s" -> fixtureS.toMap,
      "layers" -> layers)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
