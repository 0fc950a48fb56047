package perfbench

import graft.SparkEntry
import graft.functions.{MinHashBands, SetKernels, TextKernels}
import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** The batch workload, driven through `SparkEntry.queries`. One
  * query's wall is its builder call plus `queryExecution.toRdd.count()`,
  * the same operation `graft.Bench` times. */
object Batch {

  /** Set-up pass: run every query once and write its result for the oracle
    * check. This is also the JIT/codegen warm-up, so the timed passes that
    * follow measure the plans, not the first-pass compilation. Returns
    * (seconds, names of queries that threw). */
  def warmPass(spark: SparkSession, dir: String, queries: Seq[String],
      resultDir: String): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    val failed = queries.filterNot { q =>
      try {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
          .parquet(Paths.get(resultDir, q).toString)
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed in set-up: ${e.getMessage}")
          false
      }
    }
    ((System.nanoTime() - t0) / 1e9, failed)
  }

  /** Timed passes over all queries until `seconds` have elapsed (at least
    * `minPasses`). The query order rotates by one each pass, so no query
    * always runs right after the same neighbour. Each pass keeps the row
    * count `toRdd.count()` returns, for the runner to check against the
    * oracle-checked set-up result. */
  def timedPasses(spark: SparkSession, dir: String, queries: Seq[String],
      seconds: Double, minPasses: Int, clock: Clock): Seq[Map[String, Any]] = {
    val out = Seq.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val order = queries.indices.map(i => queries((i + pass) % queries.size))
      order.foreach { q =>
        val (c0, j0) = (clock.cpuMs, clock.compileMs)
        val t0 = System.nanoTime()
        val (t1, rows, ok) = try {
          val df = SparkEntry.queries(q)(spark, dir)
          val t1 = System.nanoTime()
          (t1, df.queryExecution.toRdd.count(), true)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed in pass $pass: ${e.getMessage}")
            (System.nanoTime(), -1L, false)
        }
        val t2 = System.nanoTime()
        out += Map("query" -> q, "pass" -> pass, "ok" -> ok, "rows" -> rows, "cpu_ms" -> (clock.cpuMs - c0),
          "compile_ms" -> (clock.compileMs - j0),
          "start_ms" -> clock.epochMs(t0), "built_ms" -> clock.epochMs(t1),
          "end_ms" -> clock.epochMs(t2))
      }
      pass += 1
    }
    out.result()
  }

  /** `functions` layer alone: each kernel via `selectExpr` over 100 copies
    * of the workload's documents (inputs prepared and cached first), in
    * nanoseconds per row including the cached scan. One untimed run per
    * kernel, then the median of `reps`. */
  def kernelNanos(spark: SparkSession, dir: String, reps: Int): Map[String, Double] = {
    TextKernels.register(spark)
    MinHashBands.register(spark)
    SetKernels.register(spark)
    val prepared = spark.read.parquet(Paths.get(dir, "documents.parquet").toString)
      .crossJoin(spark.range(100))
      .selectExpr("text", "word_shingles(text) AS sh",
        "array_sort(array_distinct(split(text, ' '))) AS a",
        "array_sort(array_distinct(slice(split(text, ' '), 1, 20))) AS b")
      .cache()
    val rows = prepared.count()
    def nanos(e: String): Double = Stats.median((0 to reps).map { _ =>
      val t0 = System.nanoTime()
      prepared.selectExpr(e).queryExecution.toRdd.count()
      (System.nanoTime() - t0).toDouble
    }.tail)
    val out = Seq(
      "word_count" -> "word_count(text)",
      "word_shingles" -> "word_shingles(text)",
      "minhash_bands" -> "minhash_bands(sh)",
      "sorted_overlap" -> "sorted_overlap(a, b)"
    ).map { case (name, e) => name -> nanos(e) / rows }.toMap
    prepared.unpersist()
    out
  }

  def oracleSql(queries: Seq[String]): Map[String, String] =
    queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
}
