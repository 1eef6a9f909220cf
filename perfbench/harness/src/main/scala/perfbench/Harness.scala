package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.dicom.{DicomParser, Flatten, Tags}
import graft.ingest.Archives
import graft.pipeline.{Catalog, DicomPipeline}
import graft.sources.DicomSourceUtil
import graft.streaming.DicomStream

/** Drives the program through its public entry points on a generated
  * corpus and writes what it measured and observed to `<work>/result.json`.
  * Correctness is judged by the caller against the generator's
  * expectations; this side only observes.
  *
  * Usage: Harness --workload W --corpus DIR --work DIR --seconds S
  *                --trace 0|1 --cores K --max-inline BYTES
  */
object Harness {
  val Db = "dicom_db"
  val Table = "dicom_metadata"
  val SetupRounds = 3
  /** dicom reads per measured ETL iteration, and after the stream (which
    * is read once per run, so more often there) */
  val ReadRepeats = 2
  val StreamReadRepeats = 5
  /** Pause between one stream burst's commit and the next burst. */
  val BurstGapMs = 100L
  private val snake = Map(
    "sop" -> "SOPInstanceUID", "date" -> "StudyDate", "modality" -> "Modality",
    "name" -> "PatientName", "phys" -> "PhysiciansOfRecord",
    "cal" -> "DateOfLastCalibration", "pos" -> "ImagePositionPatient",
    "small" -> "SmallestImagePixelValue", "ref" -> "ReferencedStudySequence")
    .map { case (k, kw) => k -> Tags.snakeCase(kw) }

  final case class Args(workload: String, corpus: String, work: String, seconds: Double,
                        trace: Boolean, cores: Int, maxInline: String)

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(o("workload"), o("corpus"), o("work"), o("seconds").toDouble,
      o("trace") == "1", o("cores").toInt, o("max-inline"))
    val expected = new ObjectMapper().readTree(new File(s"${a.corpus}/expected.json"))
    val conf = Seq(
      "spark.master" -> s"local[${a.cores}]",
      "spark.sql.shuffle.partitions" -> a.cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> s"${a.work}/warehouse",
      "spark.local.dir" -> s"${a.work}/spark-local",
      "spark.ui.enabled" -> "false",
      "spark.graft.route.maxInlineBytes" -> a.maxInline)
    val stream = a.workload == "ingest_stream"

    // ---- set-up: session start + warm-up through the program, several times
    var spark: SparkSession = null
    val setup = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (k <- 0 until SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val b = SparkSession.builder().appName("perfbench")
      conf.foreach { case (key, v) => b.config(key, v) }
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      warm += warmUp(spark, a, k, stream)
      setup += (System.nanoTime() - t0) / 1e9
      note(f"setup round $k: ${setup.last}%.3f s")
    }

    val result = mutable.LinkedHashMap[String, Any](
      "conf" -> conf.toMap, "setup_s" -> setup, "warmup" -> warm)
    if (stream) {
      result("stream") = Seq(streamRun(spark, a, expected))
    } else {
      result("iterations") = etlIterations(spark, a, expected)
    }
    if (a.trace) {
      val dir = if (stream) s"${a.corpus}/staging" else s"${a.corpus}/input"
      result("replay") = replay(dir, spark.sparkContext.hadoopConfiguration)
    }
    spark.stop()
    result("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(a.work, "result.json"), Json.write(result).getBytes("UTF-8"))
  }

  // ------------------------------------------------------------------ ETL

  private def warmUp(spark: SparkSession, a: Args, k: Int, stream: Boolean): Map[String, Any] = {
    val in = s"${a.corpus}/warmup"
    val base = s"${a.work}/warm$k"
    val t0 = System.nanoTime()
    DicomPipeline.run(spark, in, s"$base/out", Some(s"$base/err"))
    val t1 = System.nanoTime()
    Catalog.registerTable(spark, s"$base/out", Db, Table)
    val rows = spark.sql(s"SELECT count(*) FROM $Db.$Table").first().getLong(0)
    val t2 = System.nanoTime()
    note(f"warm-up $k: run ${(t1 - t0) / 1e9}%.2f s, catalog+query ${(t2 - t1) / 1e9}%.2f s")
    // the first round also loads and compiles the dicom source and the
    // stream; later rounds set up what every iteration starts with
    val read = if (k > 0) Map.empty[String, Any] else {
      val (readRows, _) = dicomRead(spark, Seq(s"$in/d00"), new Tracer(false))
      if (stream) { // one drained micro-batch run
        DicomStream.start(spark, s"$in/*", s"$base/sout", s"$base/serr", s"$base/ckpt",
          availableNow = true).awaitTermination()
      }
      Map("read_rows" -> readRows)
    }
    cleanup(spark, base)
    Map("rows" -> rows) ++ read
  }

  private def cleanup(spark: SparkSession, dirs: String*): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    spark.sql(s"DROP TABLE IF EXISTS $Db.$Table")
    dirs.foreach(d => deleteRecursively(Paths.get(d)))
  }

  /** The pruned `format("dicom")` read: three projected columns, counted. */
  private def dicomRead(spark: SparkSession, in: Seq[String], tr: Tracer): (Long, Seq[Long]) = {
    val cols = Seq(snake("sop"), snake("date"), snake("modality"))
    val df = tr.span("DicomDataSource.load")(spark.read.format("dicom").load(in: _*))
    val r = tr.span("DicomDataSource.scan")(
      df.select(cols.map(col): _*)
        .agg(count(lit(1)), cols.map(c => count(col(c))): _*).first())
    (r.getLong(0), (1 to cols.size).map(r.getLong))
  }

  private def readDirsOf(exp: JsonNode, in: String): Seq[String] =
    exp.get("read_dirs").elements().asScala.map(d => s"$in/${d.asText()}").toSeq

  /** [[dicomRead]] `repeats` times: (row counts of the last read, the
    * wall time of each read). */
  private def timedReads(spark: SparkSession, in: Seq[String], tr: Tracer,
                         repeats: Int): (Long, Seq[Long], Seq[Double]) = {
    var last = (0L, Seq.empty[Long])
    val times = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      last = dicomRead(spark, in, tr)
      (System.nanoTime() - t0) / 1e9
    }
    (last._1, last._2, times)
  }

  /** Repeat run → registerTable → pruned count → dicom read. Iteration 0
    * warms the JIT on the full corpus and is checked but not measured; the
    * measured iterations (at least two) then repeat for the run length. In
    * a traced run the measured iterations alternate untraced / traced (at
    * least untraced, traced, untraced), so their difference is the tracing
    * overhead. */
  private def etlIterations(spark: SparkSession, a: Args,
                            exp: JsonNode): Seq[Map[String, Any]] = {
    val in = s"${a.corpus}/input"
    val probe = exp.get("probe_date").asText()
    val sops = exp.get("samples").elements().asScala.map(_.get("sop").asText()).toSeq
    val readDirs = readDirsOf(exp, in)
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var t0 = System.nanoTime()
    var i = 0
    while (i < (if (a.trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      if (i == 1) t0 = System.nanoTime()
      val traced = a.trace && i > 0 && i % 2 == 0
      val tr = new Tracer(traced)
      val listener = new JobListener
      if (traced) spark.sparkContext.addSparkListener(listener)
      val base = s"${a.work}/it$i"
      val (o, e) = (s"$base/out", s"$base/err")
      val fs0 = fsBytesRead()
      val s0 = System.nanoTime()
      tr.span("DicomPipeline.run")(DicomPipeline.run(spark, in, o, Some(e)))
      val s1 = System.nanoTime()
      val fsRead = fsBytesRead() - fs0
      val persistMb = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      tr.span("Catalog.registerTable")(Catalog.registerTable(spark, o, Db, Table))
      val s2 = System.nanoTime()
      val probeCount = tr.span("first_query")(spark.sql(
        s"SELECT count(*) FROM $Db.$Table WHERE study_date = '$probe'").first().getLong(0))
      val s3 = System.nanoTime()
      val (readRows, readCounts, readS) =
        timedReads(spark, readDirs, tr, if (i == 0) 1 else ReadRepeats)
      var it = Map[String, Any](
        "warm" -> (i == 0), "traced" -> traced, "run_s" -> (s1 - s0) / 1e9, "catalog_s" -> (s2 - s1) / 1e9,
        "query_s" -> (s3 - s2) / 1e9, "ttq_s" -> (s3 - s0) / 1e9, "read_s" -> readS,
        "probe_count" -> probeCount, "read_rows" -> readRows, "read_counts" -> readCounts)
      it ++= observe(spark, o, e, sops)
      if (traced) {
        spark.sparkContext.removeSparkListener(listener)
        listener.settle()
        it ++= Map("pipeline" -> pipelineLayers(tr, listener, a.cores, fsRead, persistMb),
          "spans" -> tr.json)
      }
      out += it
      note(f"iteration $i (traced=$traced): run ${(s1 - s0) / 1e9}%.3f s, " +
        f"time to queryable ${(s3 - s0) / 1e9}%.3f s, dicom reads ${readS.mkString(" ")}")
      cleanup(spark, base)
      i += 1
    }
    out.toSeq
  }

  /** What the written table holds: rows per date, errors per stage,
    * sampled typed values, and the files it costs. */
  private def observe(spark: SparkSession, out: String, err: String,
                      sops: Seq[String]): Map[String, Any] = {
    val hist = spark.sql(
      s"SELECT CAST(study_date AS STRING), count(*) FROM $Db.$Table GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val errors =
      if (!Files.exists(Paths.get(err))) Map.empty[String, Long]
      else spark.read.parquet(err).groupBy("stage").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = snake
    val samples = spark.sql(
      s"""SELECT ${s("sop")}, CAST(${s("date")} AS STRING),
         |  ${s("name")}.family_name, ${s("name")}.given_name, size(${s("phys")}),
         |  transform(${s("cal")}, d -> CAST(d AS STRING)), ${s("pos")}, ${s("small")},
         |  ${s("ref")}['ReferencedSOPInstanceUID']
         |FROM $Db.$Table WHERE ${s("sop")} IN (${sops.map(x => s"'$x'").mkString(",")})"""
        .stripMargin).collect().map { r =>
      Map("sop" -> r.getString(0), "study_date" -> r.getString(1),
        "patient_name" -> Seq(r.getString(2), r.getString(3)), "physicians" -> r.getInt(4),
        "calibration" -> r.getSeq[String](5), "position" -> r.getSeq[String](6),
        "smallest" -> r.getString(7), "ref_sop" -> r.getString(8))
    }
    val files = walk(Paths.get(out)).filter(_.getFileName.toString.endsWith(".parquet"))
    Map("hist" -> hist, "errors" -> errors, "samples" -> samples.toSeq,
      "out_files" -> files.size, "out_bytes" -> files.map(Files.size).sum)
  }

  /** The run span split along its blocking steps by the jobs inside it:
    * before the first job (listing, planning) → list; the observed-keys
    * collect, which drives scan + expand + parse + flatten → extract; from
    * the first job that is neither that collect nor an emptiness probe (the
    * partitioned write, whose rebalance shuffle AQE submits from a pool
    * thread with no program call site) to the end of `run` → write; the
    * rest (schema build, emptiness probes) → finalize. */
  private def pipelineLayers(tr: Tracer, l: JobListener, cores: Int, fsRead: Long,
                             persistMb: Double): Map[String, Any] = {
    val run = tr.last("DicomPipeline.run").get
    val jobs = l.snapshot.filter(j => j.start >= run.start && j.start <= run.end)
    def dur(j: l.Job) = (if (j.end.isNaN) run.end else j.end) - j.start
    val firstJob = jobs.map(_.start).minOption.getOrElse(run.end)
    def site(j: l.Job, call: String) = j.callSite.startsWith(s"$call at DicomPipeline")
    val extractJobs = jobs.filter(site(_, "collect"))
    val writeStart = jobs.filterNot(j => site(j, "collect") || site(j, "isEmpty"))
      .map(_.start).minOption.getOrElse(run.end)
    val wall = (run.end - run.start) / 1e3
    val list = (firstJob - run.start) / 1e3
    val extract = extractJobs.map(dur).sum / 1e3
    val write = (run.end - writeStart) / 1e3
    val t = l.totals(jobs)
    val catalog = tr.last("Catalog.registerTable").get
    val query = tr.last("first_query").get
    val load = tr.last("DicomDataSource.load").get
    val scan = tr.last("DicomDataSource.scan").get
    val scanJobs = l.snapshot.filter(j => j.start >= scan.start && j.start <= scan.end)
    Map(
      "list_s" -> list, "extract_s" -> extract, "write_s" -> write,
      "finalize_s" -> (wall - list - extract - write),
      "catalog_s" -> (catalog.end - catalog.start) / 1e3,
      "first_query_s" -> (query.end - query.start) / 1e3,
      "run_s" -> wall, "busy_share" -> t("task_s") / (wall * cores),
      "fs_read_mb" -> fsRead / 1048576.0, "persist_mb" -> persistMb,
      "job_sites" -> jobs.map(_.callSite).distinct,
      "sources_infer_s" -> (load.end - load.start) / 1e3,
      "sources_scan_s" -> (scan.end - scan.start) / 1e3,
      "sources_tasks" -> l.totals(scanJobs)("tasks")) ++ t
  }

  // ------------------------------------------------------------------ streaming

  /** A closed loop of uploads: the feeder publishes one burst (a staged
    * directory of objects, moved into the stream's input with one atomic
    * rename), waits until every object of it sits in a committed
    * micro-batch, pauses [[BurstGapMs]] and publishes the next, while
    * `DicomStream.start(availableNow = false)` ingests them. Burst 0 warms
    * the running query and is checked but not measured. Each object is
    * mapped to its micro-batch through the file source's checkpoint log,
    * and each batch to its start and end through the progress events. In a
    * traced run the job listener joins halfway through the bursts, so the
    * two halves give the tracing overhead. */
  private def streamRun(spark: SparkSession, a: Args, exp: JsonNode): Map[String, Any] = {
    val base = s"${a.work}/stream"
    val in = Paths.get(base, "in")
    val stage = Paths.get(base, "stage")
    // the glob needs one match before the first burst arrives
    Files.createDirectories(in.resolve("empty"))
    Files.createDirectories(stage)
    val (out, err, ckpt) = (s"$base/out", s"$base/err", s"$base/ckpt")
    val bursts = exp.get("bursts").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toIndexedSeq).toIndexedSeq
    val feed = bursts.flatten
    val sops = exp.get("samples").elements().asScala.map(_.get("sop").asText()).toSeq
    val probe = exp.get("probe_date").asText()
    val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
    val progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (key, v) => key -> v.longValue() }.toMap
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.synchronized {
          progress += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
            "start_ms" -> startMs.toDouble,
            "end_ms" -> (startMs + d.getOrElse("triggerExecution", 0L)).toDouble,
            "durations" -> d)
        }
      }
    }
    val tr = new Tracer(a.trace)
    val jobs = new JobListener
    spark.streams.addListener(progressListener)
    val query = tr.span("DicomStream.start")(
      DicomStream.start(spark, s"$in/*", out, err, ckpt, availableNow = false))
    val staging = Paths.get(a.corpus, "staging")
    val written = new Array[Double](bursts.size)
    val deadline = tr.now() + 120000.0
    var batchOf = Map.empty[String, Long]
    def committed(): Set[Long] = Option(new File(s"$ckpt/commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong).toSet
    for (b <- bursts.indices if tr.now() < deadline) {
      if (a.trace && b == bursts.size / 2) spark.sparkContext.addSparkListener(jobs)
      val dir = bursts(b).head.takeWhile(_ != '/')
      Files.createDirectories(stage.resolve(dir))
      bursts(b).foreach(k => Files.copy(staging.resolve(k), stage.resolve(k)))
      Files.move(stage.resolve(dir), in.resolve(dir), StandardCopyOption.ATOMIC_MOVE)
      written(b) = tr.now()
      var done = false
      while (!done && tr.now() < deadline) {
        Thread.sleep(10)
        batchOf = sourceLog(s"$ckpt/sources/0")
        val c = committed()
        done = bursts(b).forall(k => batchOf.get(k).exists(c.contains))
      }
      Thread.sleep(BurstGapMs)
    }
    val batches = batchOf.values.toSet
    while (progress.synchronized(!batches.forall(b => progress.exists(_("batch") == b))) &&
           tr.now() < deadline) Thread.sleep(20)
    query.stop()
    val stopped = tr.now()
    spark.streams.removeListener(progressListener)
    note(f"stream: ${feed.size} objects in ${bursts.size} bursts, ${batches.size} batches, " +
      f"${(tr.now() - written.head) / 1e3}%.1f s")

    Catalog.registerTable(spark, out, Db, Table)
    val probeCount = spark.sql(
      s"SELECT count(*) FROM $Db.$Table WHERE study_date = '$probe'").first().getLong(0)
    val (readRows, readCounts, readS) =
      timedReads(spark, readDirsOf(exp, in.toString), tr, StreamReadRepeats)
    val obs = observe(spark, out, err, sops)
    val pipeline = if (!a.trace) Map.empty else {
      spark.sparkContext.removeSparkListener(jobs)
      jobs.settle()
      val (load, scan) = (tr.last("DicomDataSource.load").get, tr.last("DicomDataSource.scan").get)
      val all = jobs.snapshot
      jobs.totals(all.filter(_.start <= stopped)) ++ Map(
        "sources_infer_s" -> (load.end - load.start) / 1e3,
        "sources_scan_s" -> (scan.end - scan.start) / 1e3,
        "sources_tasks" -> jobs.totals(all.filter(j => j.start >= scan.start &&
          j.start <= scan.end))("tasks"))
    }
    val res = Map[String, Any](
      "feed" -> feed, "burst_of" -> bursts.indices.flatMap(b => bursts(b).map(_ => b)),
      "written_ms" -> written.toSeq, "batch_of" -> feed.map(f => batchOf.getOrElse(f, -1L)),
      "committed" -> committed().toSeq.sorted,
      "progress" -> progress.synchronized(progress.toSeq.sortBy(_("batch").asInstanceOf[Long])),
      "probe_count" -> probeCount, "read_s" -> readS, "read_rows" -> readRows,
      "read_counts" -> readCounts,
      "pipeline" -> pipeline) ++ obs
    cleanup(spark, base)
    res
  }

  /** `burst/object` name → batch id, from the file source's metadata log
    * (plain per-batch files and compacted `N.compact` files alike). */
  private def sourceLog(dir: String): Map[String, Long] = {
    val m = new ObjectMapper()
    val files = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
    files.flatMap { f =>
      val lines = try Files.readAllLines(f.toPath).asScala.toSeq catch {
        case _: java.io.IOException => Nil
      }
      lines.filter(_.startsWith("{")).flatMap { l =>
        scala.util.Try(m.readTree(l)).toOption.map { n =>
          val p = n.get("path").asText()
          p.split('/').takeRight(2).mkString("/") -> n.get("batchId").asLong()
        }
      }
    }.toMap
  }

  // ------------------------------------------------------------------ replay

  /** Single-thread, JVM-only replay of expand → parse → flatten over the
    * corpus: CPU cost per layer without any Spark in the way. */
  private def replay(dir: String, conf: org.apache.hadoop.conf.Configuration): Map[String, Any] = {
    var (expandNs, parseNs, flattenNs) = (0L, 0L, 0L)
    var (bytes, members, ignored, images, elements, values, failed) =
      (0L, 0L, 0L, 0L, 0L, 0L, 0L)
    def countElements(es: Seq[DicomParser.DicomElement]): Long =
      es.map(e => 1L + e.items.map(countElements).sum).sum
    val files = walk(Paths.get(dir)).map(_.toString).sorted
    files.foreach { p =>
      val content = DicomSourceUtil.readBytes(p, conf, DicomSourceUtil.capFor(p))
      bytes += content.length
      try {
        val t0 = System.nanoTime()
        val x = Archives.expand(p, content)
        expandNs += System.nanoTime() - t0
        x match {
          case Archives.Ignored => ignored += 1
          case Archives.Entries(es) =>
            members += es.size
            es.foreach { case (name, b) =>
              val t1 = System.nanoTime()
              val f = DicomParser.parse(b)
              val t2 = System.nanoTime()
              val row = Flatten.flatten(f, "local", "local", p, name)
              val t3 = System.nanoTime()
              parseNs += t2 - t1; flattenNs += t3 - t2
              images += 1; elements += countElements(f.elements); values += row.size
            }
        }
      } catch { case scala.util.control.NonFatal(_) => failed += 1 }
    }
    Map("expand_s" -> expandNs / 1e9, "parse_s" -> parseNs / 1e9, "flatten_s" -> flattenNs / 1e9,
      "bytes" -> bytes, "members" -> members, "ignored" -> ignored, "images" -> images,
      "elements" -> elements, "values" -> values, "failed_objects" -> failed)
  }

  // ------------------------------------------------------------------ util

  private def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
