package perfbench

import graft.streaming.{BucketedState, CdcStreamPipeline}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The cdc_ingest workload: the reference pipeline's own job, driven
  * through `CdcStreamPipeline.start` with a file source. The closed-loop
  * client lands one generated file at a time, waits until both queries
  * (serving merge and DLQ) have processed it, then reads 100 recent and
  * hot keys back with one `servingLookupBatch`.
  *
  * Set-up is JVM and session start, query start and the first
  * `warmup_files` triggers, each with its lookup. The timed part is a
  * fixed number of passes over the generated stream, so every run
  * ingests the same records and the serving state grows the same way.
  * The final serving view, every lookup answer, the DLQ and the late-drop
  * count are written out for run.py to check against the generator's
  * model. */
object CdcIngest {
  val Fields = Seq("trans_id", "customer_id", "event", "sku", "amount",
    "device", "trans_datetime")

  def apply(run: Run): Map[String, Any] = {
    val spark = run.spark
    val stream = Paths.get(run.opts("stream"))
    val files = Files.list(stream.resolve("files")).iterator.asScala.toSeq.sortBy(_.toString)
    val lookups = Files.readAllLines(stream.resolve("lookups.txt")).asScala.toSeq
      .map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toLong))
    val perPass = run.opts("files_per_pass").toInt
    val dir = s"${run.work}/cdc"
    val source = Paths.get(dir, "source")
    val staging = Paths.get(dir, "staging")
    Files.createDirectories(source)
    Files.createDirectories(staging)
    val sinks = CdcStreamPipeline.Sinks(s"$dir/serving", s"$dir/archive",
      s"$dir/error", s"$dir/checkpoint")
    val (main, dlq) = CdcStreamPipeline.start(
      spark.readStream.text(source.toString), sinks, Trigger.ProcessingTime(0L))

    def commit(i: Int): Unit = {
      val name = files(i).getFileName
      Files.copy(files(i), staging.resolve(name))
      Files.move(staging.resolve(name), source.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
      main.processAllAvailable()
      dlq.processAllAvailable()
    }
    def lookup(i: Int): Array[Row] =
      CdcStreamPipeline.servingLookupBatch(spark, sinks.serving,
        lookups(i).map(k => ("testdb", "retail_trans", k))).collect()
    def servingRow(r: Row): Seq[Any] = Fields.map(f => r.get(r.fieldIndex(f)))

    val answers = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmup = run.opts("warmup_files").toInt
    for (i <- 0 until warmup) {
      commit(i)
      answers += Map("file" -> i, "rows" -> lookup(i).map(servingRow))
    }
    val setupS = run.uptimeS

    val servingDir = Paths.get(sinks.serving)
    val seenVersions = mutable.Set.empty[String]
    // (bucket directories, bytes) the serving commits since the last call
    // wrote; read from disk between calls of a traced pass
    def newServingWrites(): (Int, Long) = {
      val fresh = listDir(servingDir).map(_.getFileName.toString)
        .filter(n => n.startsWith("v=") && !seenVersions(n))
      seenVersions ++= fresh
      val buckets = fresh.flatMap(v => listDir(servingDir.resolve(v))
        .filter(_.getFileName.toString.startsWith(s"${BucketedState.BucketCol}=")))
      (buckets.size, buckets.map(dirBytes).sum)
    }

    val records = files.map(lineCount)
    val passes = (files.size - warmup) / perPass
    for (p <- 0 until passes) {
      val cycles = (0 until perPass).map(j => warmup + p * perPass + j)
      if (run.isTraced(p)) newServingWrites()
      run.pass(p) {
        cycles.foreach { i =>
          val (_, cid, cstart, cns) = run.call("commit", s"file$i", p)(commit(i))
          val (dirty, written) = if (run.isTraced(p)) newServingWrites() else (0, 0L)
          run.tracer.call(cid, "commit", s"file$i", p, cstart, cstart + cns / 1000000,
            Map("file" -> i, "records" -> records(i), "bytes" -> Files.size(files(i)),
              "wall_s" -> cns / 1e9, "dirty_buckets" -> dirty,
              "serving_bytes" -> written))
          val (rows, lid, lstart, lns) = run.call("lookup", s"file$i", p)(lookup(i))
          run.tracer.call(lid, "lookup", s"file$i", p, lstart, lstart + lns / 1000000,
            Map("file" -> i, "keys" -> lookups(i).size, "hits" -> rows.length,
              "wall_s" -> lns / 1e9))
          answers += Map("file" -> i, "rows" -> rows.map(servingRow))
        }
      }
      if (run.isTraced(p)) cycles.foreach { i =>
        val (_, id, start, ns) = run.call("parse", s"file$i", p) {
          CdcStreamPipeline.parseLines(spark.read.text(files(i).toString))
            .write.format("noop").mode("overwrite").save()
        }
        run.tracer.call(id, "parse", s"file$i", p, start, start + ns / 1000000,
          Map("file" -> i, "wall_s" -> ns / 1e9))
      }
    }

    val snapshot = CdcStreamPipeline.servingSnapshot(spark, sinks.serving)
      .collect().map(servingRow)
    val servingBytes = BucketedState.latestManifest(spark, sinks.serving)
      .map { case (_, _, buckets) =>
        buckets.toSeq.map { case (b, v) =>
          dirBytes(servingDir.resolve(s"v=$v/${BucketedState.BucketCol}=$b"))
        }.sum
      }.getOrElse(0L)
    val progress = main.recentProgress
    val lateDropped = progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    main.stop()
    dlq.stop()
    val dlqLines = listTree(Paths.get(sinks.error))
      .filter(_.getFileName.toString.startsWith("part-")).map(lineCount).sum

    val out = Paths.get(run.work, "cdc_out")
    Files.createDirectories(out)
    Files.writeString(out.resolve("answers.jsonl"),
      answers.map(Main.json).mkString("", "\n", "\n"))
    Files.writeString(out.resolve("snapshot.jsonl"),
      snapshot.map(Main.json).mkString("", "\n", "\n"))
    Map("workload" -> "cdc_ingest", "setup_s" -> setupS,
      "dlq_lines" -> dlqLines, "late_dropped" -> lateDropped,
      "serving_bytes" -> servingBytes, "serving_rows" -> snapshot.length,
      "serving_buckets" -> CdcStreamPipeline.ServingBuckets)
  }

  private def listDir(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.toVector finally s.close()
    }

  private def listTree(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  private def dirBytes(d: Path): Long =
    listTree(d).filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  private def lineCount(f: Path): Long = {
    val s = Files.lines(f)
    try s.count() finally s.close()
  }
}
