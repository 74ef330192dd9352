package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}

/** Closed loop, one query at a time, in a fixed order, over the fixed
  * testdata shipped with the benchmark (the seed does not change it).
  * Catalyst planning, codegen, executor CPU and shuffle do the work; no
  * wire layer runs.
  */
final class AnalyticsWorkload(s: Settings, tr: Tracer) extends Workload(s, tr) {
  import AnalyticsWorkload._

  def layerShape: Layers.Shape = Layers.Shape(100000, 256, 1 << 20)

  private def dataDir: String = s.data.toString

  def setUp(): Unit = {
    spark = Env.session(s)
    // JVM, scan and codegen warmup, as graft.Bench does before its entries
    spark.read.parquet(s"$dataDir/lineitem.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()
  }

  def measure(r: Report): Unit = {
    // one pass of the mix, whatever the run length: each query pays its
    // planning and codegen, as a new query does
    val results = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]
    Mix.foreach { q =>
      val err = try {
        Env.collectGarbage()
        // building the DataFrame counts: some queries run jobs while they
        // build it, as graft.Bench times them
        val (rows, schema) = r.timed("query", q, 0, 1L) {
          tr.span(s"analytics.$q") {
            val df = SparkEntry.queries(q)(spark, dataDir)
            tr.span("spark.plan")(df.queryExecution.executedPlan)
            (tr.span("spark.execute")(df.collect()), df.schema)
          }
        }
        results(q) = (rows, schema)
        None
      } catch { case e: Exception => Some(e.toString) }
      r.check(err.isEmpty, s"$q threw: ${err.getOrElse("")}")
      GraftSession.releaseCaches(spark)
    }
    // the results, for the runner's DuckDB oracle compare
    tr.span("check") {
      results.foreach { case (q, (rows, schema)) =>
        val dir = s.out.resolve("analytics").resolve(q).toString
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .write.mode("overwrite").parquet(dir)
        r.oracleChecks(q) = SparkEntry.oracleSql(q)
      }
    }
  }
}

object AnalyticsWorkload {
  /** The query mix, in its fixed order, covering every analytics module:
    * relational aggregate, join and cube; LSH dedup; k-means over
    * FloatVecArgmin; text fingerprint; n-gram repetition and dedup
    * survivorship.
    */
  val Mix = Seq("q1_agg", "q3_join_agg", "q16_cube", "d3_minhash_lsh",
    "c2_kmeans_lloyd", "a4_fingerprint", "p8_repetition",
    "p21_dedup_survivorship")
}
