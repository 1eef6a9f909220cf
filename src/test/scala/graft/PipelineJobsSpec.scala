package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.DicomPipeline
import graft.streaming.DicomStream

/** The batch sink's job budget: [[DicomPipeline.writeBatch]] (behind
  * `run` and every stream micro-batch) summarises the extraction in ONE
  * `collect` job, writes the data only when a key was observed and the
  * errors only when there are any, never probes emptiness with a job of
  * its own, and leaves no persisted RDD behind. */
class PipelineJobsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-jobs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def dcm(i: Int): Array[Byte] = DicomWriter.file(Seq(
    DicomWriter.strElement(0x0008, 0x0020, "DA", f"202402${i % 3 + 1}%02d"),
    DicomWriter.strElement(0x0008, 0x0060, "CS", "MR"),
    DicomWriter.strElement(0x0010, 0x0020, "LO", f"J$i%04d"),
    DicomWriter.strElement(0x0020, 0x000d, "UI", s"4.5.6.$i")))

  private def zipOf(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bo)
    members.foreach { case (name, bytes) =>
      zo.putNextEntry(new java.util.zip.ZipEntry(name)); zo.write(bytes); zo.closeEntry()
    }
    zo.close()
    bo.toByteArray
  }

  private def good(dir: Path): Unit = {
    (0 until 6).foreach(i => Files.write(dir.resolve(f"img-$i.dcm"), dcm(i)))
    Files.write(dir.resolve("study.zip"), zipOf(Seq("a.dcm" -> dcm(10), "b.dcm" -> dcm(11))))
    Files.write(dir.resolve("notes.txt"), "ignored".getBytes) // no row, no error
  }

  /** One object per error stage except transform, none of them empty. */
  private def bad(dir: Path): Unit = {
    Files.write(dir.resolve("nomagic.dcm"), Array.fill[Byte](300)(7))   // parse
    Files.write(dir.resolve("broken.zip"), "not a zip".getBytes)       // expand
    Files.write(dir.resolve("scan.bmp"), dcm(20))                      // route
  }

  private def withDir[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("graft-jobs")
    try f(dir) finally graft.util.Fs.deleteRecursively(dir)
  }

  /** Call sites (result-stage name; the description for a job without
    * stages) of the jobs `f` submits, and its result. */
  private def jobsOf[A](f: => A): (Seq[String], A) = {
    val sc = spark.sparkContext
    val sites = mutable.ArrayBuffer.empty[String]
    val marker = "pipeline-jobs-spec-marker"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc == marker) seen.countDown()
        else sites.synchronized {
          sites += e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(desc)
        }
      }
    }
    sc.addSparkListener(l)
    try {
      val r = f
      // the bus delivers in order: once the marker job is seen, every
      // job `f` submitted has been seen too
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (sites.synchronized(sites.toList), r)
    } finally sc.removeSparkListener(l)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def summaries(sites: Seq[String]): Int =
    sites.count(_.startsWith("collect at DicomPipeline"))

  test("mixed corpus: one summary collect, no emptiness probe, no persisted RDD left") {
    withDir { dir =>
      val in = Files.createDirectory(dir.resolve("in"))
      good(in); bad(in)
      Files.write(in.resolve("DICOMDIR"), Array.emptyByteArray) // empty-object route
      // the zip takes the oversized streamed route: all three routes live
      val cap = Files.size(in.resolve("img-0.dcm")) + 1
      assert(Files.size(in.resolve("study.zip")) > cap)
      spark.conf.set("spark.graft.route.maxInlineBytes", cap.toString)
      try {
        val before = persisted
        val (sites, (df, errDf)) = jobsOf(DicomPipeline.run(spark, in.toString,
          dir.resolve("out").toString, Some(dir.resolve("err").toString)))
        assert(summaries(sites) == 1, s"jobs: $sites")
        assert(!sites.exists(_.startsWith("isEmpty")), s"jobs: $sites")
        assert(sites.size <= 4, s"jobs: $sites")
        assert(persisted == before, "run left a persisted RDD behind")
        // the frames run returns stay usable after the cache is released
        assert(df.count() == 8)
        assert(errDf.collect().map(_.getString(1)).sorted.toSeq ==
          Seq("expand", "parse", "parse", "route"))
        assert(spark.read.parquet(dir.resolve("out").toString).count() == 8)
        assert(spark.read.parquet(dir.resolve("err").toString).count() == 4)
      } finally spark.conf.unset("spark.graft.route.maxInlineBytes")
    }
  }

  test("all-good corpus writes no errors dir") {
    withDir { dir =>
      val in = Files.createDirectory(dir.resolve("in"))
      good(in)
      val (sites, _) = jobsOf(DicomPipeline.run(spark, in.toString,
        dir.resolve("out").toString, Some(dir.resolve("err").toString)))
      assert(summaries(sites) == 1, s"jobs: $sites")
      assert(Files.exists(dir.resolve("out")))
      assert(!Files.exists(dir.resolve("err")))
    }
  }

  test("all-bad corpus writes no data dir") {
    withDir { dir =>
      val in = Files.createDirectory(dir.resolve("in"))
      bad(in)
      val (sites, _) = jobsOf(DicomPipeline.run(spark, in.toString,
        dir.resolve("out").toString, Some(dir.resolve("err").toString)))
      assert(summaries(sites) == 1, s"jobs: $sites")
      assert(!Files.exists(dir.resolve("out")))
      assert(spark.read.parquet(dir.resolve("err").toString).count() == 3)
    }
  }

  test("empty dir submits only the summary job") {
    withDir { dir =>
      val in = Files.createDirectory(dir.resolve("in"))
      val (sites, _) = jobsOf(DicomPipeline.run(spark, in.toString,
        dir.resolve("out").toString, Some(dir.resolve("err").toString)))
      assert(sites.size == 1 && summaries(sites) == 1, s"jobs: $sites")
      assert(!Files.exists(dir.resolve("out")) && !Files.exists(dir.resolve("err")))
    }
  }

  /** Rows (columns by name, as strings) and (object, stage, message)
    * error records of a written data dir and errors dir. */
  private def written(out: Path, err: Path): (Seq[String], Seq[(String, String, String)]) = {
    val data: DataFrame = spark.read.option("mergeSchema", "true").parquet(out.toString)
    val rows = data.select(data.columns.sorted.map(data.col).toIndexedSeq: _*)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val errs = spark.read.parquet(err.toString).collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1), r.getString(2))).sorted.toSeq
    (rows, errs)
  }

  test("stream micro-batches share the sink: run's rows and errors, no persisted RDD left") {
    withDir { dir =>
      // no zero-length object: the binaryFile stream source yields no row
      // for one, so the stream cannot record it
      val in = Files.createDirectory(dir.resolve("in"))
      good(in); bad(in)
      DicomPipeline.run(spark, in.toString,
        dir.resolve("out").toString, Some(dir.resolve("err").toString))
      val before = persisted
      val q = DicomStream.start(spark, in.toString, dir.resolve("sout").toString,
        dir.resolve("serr").toString, dir.resolve("ckpt").toString,
        maxFilesPerTrigger = Some(4))
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected several micro-batches")
      assert(persisted == before, "a micro-batch left a persisted RDD behind")
      val batch = written(dir.resolve("out"), dir.resolve("err"))
      assert(batch._1.size == 8 && batch._2.size == 3)
      assert(written(dir.resolve("sout"), dir.resolve("serr")) == batch)
    }
  }
}
