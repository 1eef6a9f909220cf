package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.dicom.{DicomParser, Flatten, Tags, VrConvert}
import graft.ingest.Archives

/** The end-to-end metadata-extraction job (SURVEY.md §3 E1/E2 collapsed
  * into one Spark job):
  *
  *   binaryFile scan → flatMap(route ∘ expand ∘ parse ∘ flatten)
  *     → observed-schema finalize → snake_case rename
  *     → write.partitionBy(study_date) snappy parquet
  *   + error side-channel (the DLQ analog, SURVEY §2.1 S10).
  *
  * Failure granularity matches the reference: ANY entry failing fails the
  * whole source object (one Lambda invocation = one object = one DLQ
  * message); a failed object contributes zero rows and one error record.
  *
  * Scale design:
  *  - the parse/flatten runs entirely in executors (one task per file
  *    slice of the binaryFile scan — at 100 TB this is the linear,
  *    embarrassingly-parallel stage);
  *  - the only driver interaction is one collect of the OBSERVED KEY SET
  *    (bounded by the static tag dictionary, ~130 keywords — a few KB —
  *    never row data), which builds the batch schema, mirroring the
  *    reference's per-batch drop-all-null dynamic schema
  *    (`src/app.py:39-41`), plus an error count;
  *  - the sink ([[writeBatch]], shared with the stream) persists the
  *    extracted objects (MEMORY_AND_DISK_SER) for that collect and the
  *    writes, so binaries are parsed once, and releases them after;
  *  - the partitioned write uses Hive-style `study_date=` layout →
  *    partition-pruned reads for free (Catalyst
  *    `PruneFileSourcePartitions`).
  */
object DicomPipeline {

  /** DLQ-analog error record (stage ∈ route|expand|parse|transform). */
  final case class DicomError(source_s3_key: String, stage: String, error: String)

  /** Parsed image: lineage + keyword-keyed typed values. */
  final case class ImageRow(values: Map[String, VrConvert.DicomValue])
    extends Serializable

  /** What one source object yields: its rows, or its one error record. */
  type Outcome = Either[DicomError, Seq[ImageRow]]

  /** One outcome per source object, seen as rows and as error records. */
  final case class Extracted(outcomes: RDD[Outcome]) {
    def rows: RDD[ImageRow] = outcomes.flatMap(_.getOrElse(Nil))
    def errors: RDD[DicomError] = outcomes.flatMap(_.left.toOption)
  }

  /** Process ONE source object end-to-end (pure; runs on executors).
    * `keep` restricts value conversion to the named keywords (V2 column
    * pruning); `None` = full conversion, the pipeline's semantics. */
  def processObject(bucket: String, region: String, key: String,
                    content: Array[Byte],
                    keep: Option[Set[String]] = None): Outcome =
    guarded(key)(fromExpansion(Archives.expand(key, content), bucket, region, key, keep))

  /** Process ONE OVERSIZED object off a storage STREAM (the S11 size
    * router's dedicated path; runs on executors, one object per task).
    * Loose `.dcm` takes the ranged header read — the reference's own
    * `.dcm` bypass (`src/app.py:118`: only non-`.dcm` routes to batch
    * compute, because the ranged GET already bounds the big-file cost);
    * archives fold entry-by-entry through
    * [[Archives.mapMembersStream]], each member PARSED as soon as its
    * bytes are read, so peak task memory is the largest kept MEMBER
    * plus the accumulated metadata rows (pixel bytes drop at parse) —
    * never the container, never the member-byte sum
    * (StreamedExpansionSpec pins the no-accumulation contract with
    * weak references). Error taxonomy identical to [[processObject]]
    * — both funnel through [[guarded]] and the same member visitors,
    * and a failing object errors ATOMICALLY (no partial rows); the one
    * observable difference is a doubly-corrupt archive (member k has
    * bad DICM bytes AND the container breaks past it), where this
    * route reports the parse failure it reached first while the packed
    * route reports the later container break — both whole-object
    * errors for an object that is broken either way. */
  def processStreamedObject(bucket: String, region: String, key: String,
                            conf: org.apache.hadoop.conf.Configuration,
                            keep: Option[Set[String]] = None): Outcome =
    guarded(key) {
      if (Archives.evalExt(key) == ".dcm")
        fromExpansion(
          Archives.expand(key,
            graft.sources.DicomSourceUtil.readBytes(key, conf, Archives.DcmRangeBytes)),
          bucket, region, key, keep)
      else {
        val p = new org.apache.hadoop.fs.Path(key)
        Archives.mapMembersStream(key, p.getFileSystem(conf).open(p)) { (name, bytes) =>
          ImageRow(Flatten.flatten(DicomParser.parse(bytes), bucket, region, key, name, keep))
        }
      }
    }

  private def fromExpansion(exp: Archives.Expansion, bucket: String, region: String,
                            key: String, keep: Option[Set[String]]): Seq[ImageRow] =
    exp match {
      case Archives.Ignored => Nil
      case Archives.Entries(entries) =>
        entries.map { case (name, bytes) =>
          val parsed = DicomParser.parse(bytes)
          ImageRow(Flatten.flatten(parsed, bucket, region, key, name, keep))
        }
    }

  /** The pipeline's whole-object error taxonomy (DLQ stages). */
  private def guarded(key: String)(body: => Seq[ImageRow]): Outcome =
    try Right(body)
    catch {
      case e: DicomParser.InvalidDicomException =>
        Left(DicomError(key, "parse", e.getMessage))
      case e: Archives.UnsupportedExtensionException =>
        Left(DicomError(key, "route", e.getMessage))
      case e: Archives.InvalidArchiveException =>
        Left(DicomError(key, "expand", e.getMessage))
      case scala.util.control.NonFatal(e) =>
        Left(DicomError(key, "transform", s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** One fork-free driver walk over `inputPath`: every visible file as
    * (path, length), hidden-pruned exactly like Spark's InMemoryFileIndex
    * (`_`/`.` prefixes invisible at ANY discovered level; the explicitly
    * named root is always accepted — Spark applies its path filter to
    * discovered children, not to the path you name).
    *
    * listStatusIterator, NOT listFiles(recursive): the located variant
    * materializes a LocatedFileStatus per file, which on the local
    * filesystem loads permissions by FORKING `ls -ld` per file — the
    * 9.5k-object extraction rehearsal measured 37 s of driver time in
    * that walk (~4 ms/fork) against ~1 s for the plain status walk.
    * Only isFile/getLen are needed here, and they never fork. The `dicom`
    * source lists with this walk too, so both routes see one object set. */
  def walkFiles(conf: org.apache.hadoop.conf.Configuration,
                inputPath: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(inputPath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else {
      val files = Seq.newBuilder[(String, Long)]
      def hidden(name: String): Boolean =
        name.startsWith("_") || name.startsWith(".")
      def walk(st: org.apache.hadoop.fs.FileStatus, isRoot: Boolean): Unit =
        if (!isRoot && hidden(st.getPath.getName)) ()
        else if (st.isDirectory) {
          val it = fs.listStatusIterator(st.getPath)
          while (it.hasNext) walk(it.next(), isRoot = false)
        } else files += ((st.getPath.toString, st.getLen))
      walk(fs.getFileStatus(p), isRoot = true)
      files.result()
    }
  }

  /** Zero-length files never produce scan splits (Spark file-source
    * planning skips them), yet the reference's canonical failure fixture
    * is an EMPTY `DICOMDIR` whose error record we must emit
    * (README.md:116). One driver walk, two route lists: the empties and
    * the OVERSIZED files (> maxInline bytes) for the S11 streamed route
    * — an oversized `_temporary` leftover must not produce rows the
    * packed route would never have produced (shared hidden rule). */
  private def listRoutes(spark: SparkSession, inputPath: String,
                         maxInline: Long): (Seq[String], Seq[String]) = {
    val files = walkFiles(spark.sparkContext.hadoopConfiguration, inputPath)
    (files.collect { case (p, 0L) => p },
     files.collect { case (p, len) if len > maxInline => p })
  }

  /** Size threshold above which an object leaves the packed scan for the
    * dedicated streamed route. Default mirrors the reference's 500 MB
    * Lambda/Batch split (`src/app.py:25,118`) — with the difference that
    * OUR override actually works (the reference reads the env var as a
    * string and the `>` comparison with an int raises, so only its
    * default path ever runs; COMPAT.md). */
  private def maxInlineBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.route.maxInlineBytes",
      (500L * 1024 * 1024).toString).toLong

  /** Read binaries and run the extraction flatMap. `bucket`/`region` are
    * lineage constants (the storage coordinates of `inputPath`).
    *
    * SIZE ROUTER (reference S11, `src/app.py:118-181`, as a scan
    * strategy): objects ≤ maxInline ride the packed `binaryFile` scan
    * (many small objects per task — the "Lambda" economics); objects
    * above it are EXCLUDED from the scan by a pushed `length` filter
    * (BinaryFileFormat skips their content entirely) and take a
    * dedicated one-object-per-task streamed route instead (the
    * "Batch" economics: isolated compute, bounded memory — ranged read
    * for `.dcm`, entry-streaming for archives). Both routes share the
    * same per-object code, so WHAT is computed never depends on WHERE
    * it ran; SizeRouterSpec pins route-invariance. */
  def extract(spark: SparkSession, inputPath: String,
              bucket: String = "local", region: String = "local"): Extracted = {
    val maxInline = maxInlineBytes(spark)
    // recursiveFileLookup keeps the scan consistent with listRoutes'
    // recursive walk (nested dirs yield rows AND their empties error)
    val bin = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(inputPath)
      .filter(org.apache.spark.sql.functions.col("length") <= maxInline)
      .select("path", "content")
    val base = extractFromBinary(bin, bucket, region)
    val (empties, larges) = listRoutes(spark, inputPath, maxInline)
    if (empties.isEmpty && larges.isEmpty) base
    else {
      val confSer = new graft.sources.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      val emptyRdd = spark.sparkContext.parallelize(empties, math.max(1, empties.size min 32))
        .map(p => processObject(bucket, region, p, Array.emptyByteArray))
      // one task per oversized object: a 50 GB archive never shares its
      // task (or its memory budget) with a thousand small objects
      val largeRdd = spark.sparkContext.parallelize(larges, math.max(1, larges.size))
        .map(p => processStreamedObject(bucket, region, p, confSer.value))
      Extracted(base.outcomes ++ emptyRdd ++ largeRdd)
    }
  }

  /** Local/HDFS convenience builder for [[extractFromManifest]]: the same
    * fork-free, hidden-pruned walk the listed route uses, materialized as
    * a (path, length) DataFrame. For production 10M+-object corpora the
    * manifest should come from an INVENTORY instead (e.g. an S3 Inventory
    * parquet table, the analog of the reference's per-object S3 event
    * stream, `src/app.py:97-108`) — the whole point of the manifest entry
    * is that the driver never walks the store at all. */
  def manifestOf(spark: SparkSession, inputPath: String): DataFrame = {
    val files = walkFiles(spark.sparkContext.hadoopConfiguration, inputPath)
    spark.createDataFrame(files).toDF("path", "length")
  }

  /** DAY-2 MANIFEST DIFF — the ingestion twin of the dedup day-2 index:
    * given yesterday's PROCESSED-OBJECT LOG (path, length — length is
    * the local-FS stand-in for an etag/version: a changed object changes
    * it) and today's manifest, return the manifest subset that is NEW or
    * CHANGED. Feed the result to [[extractFromManifest]] and a 10M-object
    * corpus with a 10k-object delta pays extraction for 10k objects, not
    * 10M — the reference's event-driven model gets this incrementality
    * per-object for free (`/root/reference/src/app.py:97-108`); this is
    * the batch equivalent.
    *
    * Scale shape: ONE left-anti equi-join between two metadata relations
    * (rows are a path string + a long — a 10M-row manifest is ~1 GB
    * shuffled, or broadcast when the processed log fits); no content is
    * touched. Deletions (in the log, gone from the manifest) are
    * day-2 catalog maintenance, not extraction work — `cdc_merge` /
    * SCD2 territory, out of scope here on purpose. */
  def manifestDelta(manifest: DataFrame, processed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = manifest.select(
      col("path").cast("string").as("path"),
      col("length").cast("long").as("length"))
    val p = processed.select(
      col("path").cast("string").as("path"),
      col("length").cast("long").as("length"))
    m.join(p, Seq("path", "length"), "left_anti")
  }

  /** Manifest-driven twin of [[extract]] — the 10M+-object batch entry
    * point. Routing decisions (empty / packed / oversized) come from the
    * manifest's `length` column, and small-object content is read INSIDE
    * tasks, so the driver performs ZERO filesystem listing or metadata
    * calls: its only per-corpus state is the manifest DataFrame (itself
    * typically a parquet scan). This removes the InMemoryFileIndex
    * driver-listing ceiling the directory entry point inherits from
    * Spark's file sources.
    *
    * Route parity with [[extract]]: all three routes funnel into the same
    * [[processObject]]/[[processStreamedObject]] per-object code, and the
    * hidden rule applies SEGMENT-WISE to manifest rows (an inventoried
    * `_temporary/part.dcm` leftover stays invisible exactly as the packed
    * scan's recursive walk would hide it — inventories are produced by
    * listing stores wholesale, so Spark-job detritus WILL appear in
    * them; a corpus deliberately rooted under a dot-directory must be
    * inventoried with paths relative to that root). ManifestSpec pins
    * rows+errors equality against the listed route on the same corpus.
    *
    * Partitioning: small objects pack many-per-task, task count sized by
    * manifest byte totals (≈ `spark.sql.files.maxPartitionBytes` per
    * task — the same economics as Spark's own file packing, computed
    * from the manifest instead of a listing); oversized objects keep the
    * S11 one-object-per-task isolation. */
  def extractFromManifest(spark: SparkSession, manifest: DataFrame,
                          bucket: String = "local", region: String = "local"): Extracted = {
    // named imports: functions.bucket would shadow the lineage parameter
    import org.apache.spark.sql.functions.{coalesce, col, count, exists, lit, split, sum}
    val maxInline = maxInlineBytes(spark)
    val hiddenSegment = exists(split(col("path"), "/"),
      s => s.startsWith("_") || s.startsWith("."))
    val m = manifest
      .select(col("path").cast("string").as("path"), col("length").cast("long").as("length"))
      .filter(!hiddenSegment)
    val confSer = new graft.sources.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val small = m.filter(col("length") > 0 && col("length") <= maxInline)
    // two scalar aggregates are the ONLY driver-side materialization —
    // they size the task layout, never enumerate objects
    val st = small.agg(count(lit(1)), coalesce(sum(col("length")), lit(0L))).head()
    val (nSmall, smallBytes) = (st.getLong(0), st.getLong(1))
    val bytesPerTask = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val smallParts = math.max(1, math.min(nSmall,
      math.max(spark.sparkContext.defaultParallelism.toLong,
        1L + smallBytes / bytesPerTask)).toInt)
    val smallRdd = small.select("path").rdd.map(_.getString(0))
      .repartition(smallParts)
      .map(p => processObject(bucket, region, p,
        graft.sources.DicomSourceUtil.readBytes(p, confSer.value)))
    val emptyRdd = m.filter(col("length") === 0).select("path").rdd
      .map(_.getString(0))
      .map(p => processObject(bucket, region, p, Array.emptyByteArray))
    val large = m.filter(col("length") > maxInline).select("path")
    val nLarge = math.min(large.count(), 1L << 20).toInt
    val largeRdd =
      if (nLarge == 0)
        spark.sparkContext.emptyRDD[Outcome]
      else large.rdd.map(_.getString(0)).repartition(nLarge)
        .map(p => processStreamedObject(bucket, region, p, confSer.value))
    Extracted(smallRdd ++ emptyRdd ++ largeRdd)
  }

  /** Same extraction over an already-loaded (path, content) DataFrame —
    * shared by the batch entry point and the streaming foreachBatch. */
  def extractFromBinary(bin: DataFrame, bucket: String, region: String): Extracted =
    Extracted(bin.rdd.map { r =>
      processObject(bucket, region, r.getString(0), r.getAs[Array[Byte]](1))
    })

  /** The PN struct type (7 string fields, `tags.py:56-65` order). */
  val pnStruct: StructType = StructType(Seq(
    "FamilyName", "GivenName", "Ideographic", "MiddleName",
    "NamePrefix", "NameSuffix", "Phonetic")
    .map(f => StructField(Tags.snakeCase(f), StringType)))

  /** Spark type of a column, decided by the static dictionary VR + max VM
    * (SURVEY §1.3 table). Lineage columns are plain strings. */
  def sparkTypeFor(keyword: String): DataType =
    Tags.byKeyword.get(keyword) match {
      case None => StringType // lineage keys
      case Some(info) => (info.vr, info.vmMax > 1) match {
        case ("DA", false) => DateType
        case ("DA", true)  => ArrayType(DateType)
        case ("PN", false) => pnStruct
        case ("PN", true)  => ArrayType(pnStruct)
        case ("SQ", _)     => MapType(StringType, StringType)
        case (_, true)     => ArrayType(StringType)
        case (_, false)    => StringType
      }
    }

  private def toExternal(v: VrConvert.DicomValue): Any = v match {
    case VrConvert.DStr(s)       => s
    case VrConvert.DStrList(xs)  => xs
    case VrConvert.DDate(d)      => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
    case VrConvert.DDateList(xs) => xs.map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
    case VrConvert.DPersonName(c)      => Row.fromSeq(c)
    case VrConvert.DPersonNameList(xs) => xs.map(Row.fromSeq)
    case VrConvert.DMap(m)       => m
    case VrConvert.DNull         => null
  }

  /** One job over the outcomes: each partition reports the keywords it
    * holds a non-null value for and its error count; the driver unions
    * them. Returns (sorted observed keywords, error count). */
  private def summarise(outcomes: RDD[Outcome]): (IndexedSeq[String], Long) = {
    val parts = outcomes.mapPartitions { it =>
      val keys = scala.collection.mutable.HashSet.empty[String]
      var errors = 0L
      it.foreach {
        case Left(_) => errors += 1
        case Right(rs) => for (r <- rs; (k, v) <- r.values if v != VrConvert.DNull) keys += k
      }
      Iterator.single((keys.toArray, errors))
    }.collect()
    (parts.flatMap(_._1).distinct.sorted.toIndexedSeq, parts.map(_._2).sum)
  }

  /** Finalize the batch DataFrame: union of observed NON-NULL keys →
    * columns (this IS the reference's per-batch drop-all-null,
    * `src/app.py:41` — a keyword only becomes a column if some row holds
    * a value), typed from the static dictionary, snake_case-renamed
    * (wrangler `sanitize_columns=True` analog). */
  def toDataFrame(spark: SparkSession, rows: RDD[ImageRow]): DataFrame =
    framed(spark, rows, summarise(rows.map(r => Right(Seq(r))))._1)

  private def framed(spark: SparkSession, rows: RDD[ImageRow],
                     keywords: IndexedSeq[String]): DataFrame = {
    val schema = StructType(keywords.map(kw =>
      StructField(Tags.snakeCase(kw), sparkTypeFor(kw), nullable = true)))
    val rowRdd = rows.map { ir =>
      Row.fromSeq(keywords.map(kw => ir.values.get(kw).map(toExternal).orNull))
    }
    spark.createDataFrame(rowRdd, schema)
  }

  /** The sink of one batch, shared by [[run]] and the stream's
    * micro-batches. Persists the outcomes, summarises them in one job,
    * writes the rows (only when some key was observed: every row holds
    * the non-null lineage keys, so no keys means no rows) and the error
    * records (only when there are any), then releases the cache. Returns
    * (data, errors) as written; they recompute when used. */
  def writeBatch(spark: SparkSession, ex: Extracted, outPath: String,
                 errorPath: Option[String], maxRecordsPerFile: Long = 0L): (DataFrame, DataFrame) = {
    ex.outcomes.persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val (keywords, errors) = summarise(ex.outcomes)
      val df = framed(spark, ex.rows, keywords)
      if (keywords.nonEmpty) {
        // maxRecordsPerFile bounds output-file size (the reference's known
        // small-files weakness inverted: one file per invocation there; here
        // the writer packs rows per partition and splits only past the cap).
        // REBALANCE on the partition column first: without it every scan
        // task writes one file per date it happens to hold — the 9.5k-object
        // rehearsal produced 5,251 files for 9,500 rows (measured); with it,
        // one file per date. The AQE rebalance also SPLITS a skewed date
        // across tasks instead of funneling it into one, which a plain
        // repartition(col) would not. SMALL batches skip the shuffle: with
        // few write tasks the worst case is tasks × dates files — already
        // bounded — and the extra exchange doubled the fixture-scale write
        // (0.71 → 1.42 s measured idle-to-idle). getNumPartitions is free
        // (RDD-backed plan; no job).
        val writeTasks = df.rdd.getNumPartitions
        val arranged =
          if (writeTasks <= 8) df
          else df.hint("rebalance",
            org.apache.spark.sql.functions.col(Flatten.PartitionColSnake))
        arranged.write.mode("append")
          .partitionBy(Flatten.PartitionColSnake)
          .option("compression", "snappy")
          .option("maxRecordsPerFile", if (maxRecordsPerFile > 0) maxRecordsPerFile.toString else "0")
          .parquet(outPath)
      }
      val errDf = spark.createDataFrame(ex.errors)
      // one tiny file per scan slice is waste; coalesce(1) would funnel a
      // large batch's cached extract through one task
      if (errors > 0) errorPath.foreach { p =>
        errDf.coalesce(spark.sparkContext.defaultParallelism)
          .write.mode("append").parquet(p)
      }
      (df, errDf)
    } finally ex.outcomes.unpersist()
  }

  /** Full job: extract → finalize → partitioned snappy write (+ errors
    * parquet). Returns (data, errors) as written. */
  def run(spark: SparkSession, inputPath: String, outPath: String,
          errorPath: Option[String] = None,
          bucket: String = "local", region: String = "local",
          maxRecordsPerFile: Long = 0L): (DataFrame, DataFrame) =
    writeBatch(spark, extract(spark, inputPath, bucket, region), outPath, errorPath,
      maxRecordsPerFile)
}
