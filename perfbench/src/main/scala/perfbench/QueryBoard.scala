package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The query_board workload: registry queries run one at a time, each
  * pass in its own seeded order, through the engine's public entry point
  * `SparkEntry.queries`. The client collects every result, as a user of
  * the analytics view would.
  *
  * Set-up is JVM and session start plus one pass over the same list at
  * the small warm-up scale and one at the timed scale, so JIT, code
  * generation and file caches are warm before timing. Then come `passes`
  * timed passes, a fixed number, so the JIT's remaining warm-up falls on
  * the same passes in every run. Outside the timed window each result is
  * reduced to a fingerprint, and the first result of every query is
  * written out for the oracle check. */
object QueryBoard {
  /** Table scale of the timed passes, and of the first set-up pass. */
  val Scale = "sf0.01"
  val WarmupScale = "sf0.001"

  /** Order-sensitive digest of a result: every registered query has a
    * total ORDER BY, so two correct runs give the same digest. */
  def fingerprint(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  def apply(run: Run): Map[String, Any] = {
    val spark = run.spark
    val names = run.opts("queries").split(",").toSeq
    val data = run.opts("data")
    val registry = graft.SparkEntry.queries
    def order(pass: Int) =
      new scala.util.Random(run.seed * 1000003L + pass).shuffle(names)

    for (scale <- Seq(WarmupScale, Scale); n <- names)
      registry(n)(spark, s"$data/$scale").collect(): Unit
    val setupS = run.uptimeS

    val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (p <- 0 until run.opts("passes").toInt) {
      run.pass(p) {
        order(p).foreach { n =>
          val (out, id, start, ns) = run.call("query", n, p) {
            try {
              val df = registry(n)(spark, s"$data/$Scale")
              Right((df.schema, df.collect()))
            } catch { case NonFatal(e) => Left(e) }
          }
          val attrs = out match {
            case Right((schema, rows)) =>
              if (!first.contains(n)) first(n) = (schema, rows)
              Map("ok" -> true, "rows" -> rows.length,
                "fingerprint" -> fingerprint(rows))
            case Left(e) =>
              errors.getOrElseUpdate(n, String.valueOf(e.getMessage).take(500))
              Map("ok" -> false)
          }
          run.tracer.call(id, "query", n, p, start, start + ns / 1000000,
            attrs + ("wall_s" -> ns / 1e9))
        }
      }
    }

    val results = s"${run.work}/results"
    Files.createDirectories(Paths.get(results))
    first.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/$n")
    }
    val oracle = graft.SparkEntry.oracleSql.filter(e => names.contains(e._1))
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Main.json(oracle))
    Map("workload" -> run.opts("workload"), "setup_s" -> setupS,
"errors" -> errors)
  }
}
