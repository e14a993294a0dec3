package graft.checkpoint

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Iceberg-style checkpointed stage store ("IcebergishStore", SURVEY §7.2-8).
  *
  * No Iceberg runtime ships in this sandbox, so the store provides the
  * subset of semantics the north rule needs on plain Parquet: an atomic
  * snapshot commit per stage (manifest written after data), per-partition
  * lineage rows (partition id, row count, bytes, wall ms) and idempotent
  * resume — a committed stage (or committed input range of a partitioned
  * stage) is never recomputed. The trait boundary is swappable for real
  * `spark.read.format("iceberg")` in production.
  *
  * All filesystem access goes through the Hadoop `FileSystem` that
  * [[graft.OutputFs]] resolves for `rootDir` (ADVICE r5): an
  * `s3a://`/`hdfs://` root works and no streams are leaked — the previous
  * java.nio implementation silently required a POSIX mount and leaked
  * `Files.list`/`Files.walk` fds. A local root is written through the
  * owner's raw local FS, snapshot data included: no `.crc` sidecars and
  * no `chmod` process per file or directory.
  */
final class CheckpointStore(spark: SparkSession, rootDir: String) {

  private val root = new Path(rootDir)
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = graft.OutputFs.fs(root, conf)

  private def stageDir(stage: String): Path = new Path(root, s"stage=$stage")
  private def manifestPath(stage: String): Path = new Path(stageDir(stage), "_manifest.json")

  def isCommitted(stage: String): Boolean = fs.exists(manifestPath(stage))

  /** Write `df` as the stage snapshot + lineage manifest; returns the
    * read-back DataFrame (so downstream reads the committed snapshot, not
    * the recomputed plan). A commit is [[prepare]] then [[publish]]: the
    * data, the footer reads and the read-back frame first, the manifest
    * last. The read-back takes the written frame's schema (made nullable,
    * as Parquet stores it), so no schema is inferred from files this store
    * just wrote. The manifest's per-file rows and bytes come from the
    * written files' Parquet footers and listing: O(files) on the driver,
    * no scan of the snapshot. Overwrites any partial previous attempt —
    * the manifest is the commit point, so a crash before it leaves the
    * stage uncommitted and a rerun redoes it (idempotent). */
  def commit(stage: String, df: DataFrame): DataFrame = publish(prepare(stage, df))

  /** Everything of a commit but its commit point: writes `df`'s Parquet
    * data, reads the footers, builds the manifest text and the read-back
    * frame. The stage stays uncommitted until [[publish]]; [[drop]]
    * discards a prepared stage that will not be published. */
  def prepare(stage: String, df: DataFrame): CheckpointStore.Prepared = {
    val dir = stageDir(stage)
    val t0 = System.nanoTime()
    // no `_SUCCESS` marker: the manifest is the commit point
    df.write.options(graft.OutputFs.writeOptions(dir.toString, conf)).mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir.toString)
    val wallMs = (System.nanoTime() - t0) / 1000000
    // per-file (= per committed partition) lineage rows; files without
    // rows (an empty partition's schema-only file) are not listed
    val perFile = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val rows = try reader.getRecordCount finally reader.close()
        (st.getPath.getName, rows, st.getLen)
      }
      .filter(_._2 > 0).sortBy(_._1)
    val files = perFile.map { case (name, rows, bytes) =>
      s"""{"file":${q(name)},"rows":$rows,"bytes":$bytes}"""
    }
    val manifest =
      s"""{"stage":${q(stage)},"wall_ms":$wallMs,"n_files":${files.length},
         |"total_rows":${perFile.map(_._2).sum},
         |"partitions":[${files.mkString(",")}]}""".stripMargin.replace("\n", "")
    new CheckpointStore.Prepared(stage, manifest,
      spark.read.schema(CheckpointStore.nullable(df.schema)).parquet(dir.toString))
  }

  /** The commit point of a [[prepare]]d stage: writes its manifest and
    * returns its read-back frame. */
  def publish(p: CheckpointStore.Prepared): DataFrame = {
    graft.OutputFs.write(manifestPath(p.stage), p.manifest, conf)
    p.frame
  }

  /** Remove a snapshot, committed (compaction) or only prepared; no-op
    * when absent. */
  def drop(stage: String): Unit = {
    val dir = stageDir(stage)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Read a committed snapshot (stage must be committed). With the
    * snapshot's `schema` given, no schema is inferred from its files. */
  def read(stage: String, schema: Option[StructType] = None): DataFrame = {
    require(isCommitted(stage), s"stage $stage is not committed")
    schema.fold(spark.read)(spark.read.schema).parquet(stageDir(stage).toString)
  }

  /** Read the committed snapshot, or compute + commit it. */
  def readOrCompute(stage: String)(compute: => DataFrame): DataFrame =
    if (isCommitted(stage)) spark.read.parquet(stageDir(stage).toString)
    else commit(stage, compute)

  /** Partition-range processing with resume: each (lo, hi) input range is a
    * separately committed sub-snapshot; on rerun only uncommitted ranges
    * execute (anti-join of planned vs committed, driver-side). */
  def runRanges(stage: String, ranges: Seq[(Long, Long)])(f: ((Long, Long)) => DataFrame): DataFrame = {
    ranges.foreach { case (lo, hi) =>
      val sub = s"$stage/range=$lo-$hi"
      if (!isCommitted(sub)) commit(sub, f((lo, hi)))
    }
    val paths = ranges.map { case (lo, hi) => stageDir(s"$stage/range=$lo-$hi").toString }
    spark.read.parquet(paths: _*)
  }

  /** Which ranges of a partitioned stage are already committed. */
  def committedRanges(stage: String): Seq[(Long, Long)] = {
    val base = stageDir(stage)
    if (!fs.exists(base)) return Nil
    fs.listStatus(base).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("range=") =>
        val Array(lo, hi) = s.stripPrefix("range=").split("-", 2)
        (lo.toLong, hi.toLong)
      }
      .filter { case (lo, hi) => isCommitted(s"$stage/range=$lo-$hi") }
      .toSeq.sorted
  }

  /** Committed `v<N>` sub-snapshots of a versioned stage (e.g. the
    * KgSession seen-set key spaces): compaction deletes superseded
    * versions, so the live version is `committedVersions(space).maxOption`
    * and lower numbers may be holes. */
  def committedVersions(stage: String): Seq[Int] = {
    val base = stageDir(stage)
    if (!fs.exists(base)) return Nil
    fs.listStatus(base).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.length > 1 && s.drop(1).forall(_.isDigit) =>
        s.drop(1).toInt }
      .filter(n => isCommitted(s"$stage/v$n"))
      .toSeq.sorted
  }

  /** All lineage manifests as a DataFrame (stage, wall_ms, n_files,
    * total_rows) — the per-partition metrics surface. */
  def lineage(): DataFrame = {
    import spark.implicits._
    val rows =
      if (!fs.exists(root)) Nil
      else {
        val it = fs.listFiles(root, /* recursive = */ true)
        val buf = scala.collection.mutable.ListBuffer[String]()
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName == "_manifest.json") buf += readString(st.getPath)
        }
        buf.toList
      }
    spark.read.json(spark.createDataset(rows))
  }

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

object CheckpointStore {

  /** A stage whose data is written and whose manifest is not. */
  final class Prepared private[checkpoint] (private[checkpoint] val stage: String,
      private[checkpoint] val manifest: String, private[checkpoint] val frame: DataFrame)

  /** The schema Spark's Parquet writer stores for `t`: every field, array
    * element and map value nullable (Spark's own `asNullable` is internal). */
  private def nullable(t: StructType): StructType = nullableType(t).asInstanceOf[StructType]

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType   => MapType(nullableType(m.keyType), nullableType(m.valueType), valueContainsNull = true)
    case other        => other
  }
}
