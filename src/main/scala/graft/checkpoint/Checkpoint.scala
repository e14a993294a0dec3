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
  * A versioned stage (`<stage>/v<N>`) is an append-only log, Iceberg's
  * append snapshots plus data-file rewrites: each version writes only its
  * own rows, and its manifest names the versions whose files make up its
  * snapshot, read as one scan over their directories. A version either
  * appends its files to the snapshot before it or, as a compaction,
  * rebases: it holds the whole snapshot and drops the versions below it.
  * Publishing a version retires the one before it (its manifest, and its
  * data once no version reads it), so only the head stays committed, and a
  * crash on either side of a manifest leaves a head whose snapshot is
  * whole. A version whose manifest names no versions (written before the
  * log) is a whole snapshot by itself.
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
  def prepare(stage: String, df: DataFrame): CheckpointStore.Prepared[DataFrame] =
    new CheckpointStore.Prepared(stage, write(stage, df, ""), () => (),
      spark.read.schema(CheckpointStore.nullable(df.schema)).parquet(stageDir(stage).toString))

  /** Writes `df` as `stage`'s data and returns its manifest text, whose
    * fields end with `extra`. */
  private def write(stage: String, df: DataFrame, extra: String): String = {
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
    s"""{"stage":${q(stage)},"wall_ms":$wallMs,"n_files":${files.length},
       |"total_rows":${perFile.map(_._2).sum},
       |"partitions":[${files.mkString(",")}]$extra}""".stripMargin.replace("\n", "")
  }

  /** The commit point of a prepared stage or version: writes its manifest,
    * then retires what it supersedes, and returns its read-back. */
  def publish[A](p: CheckpointStore.Prepared[A]): A = {
    graft.OutputFs.write(manifestPath(p.stage), p.manifest, conf)
    p.retire()
    p.result
  }

  // ------------------------------------------------------ versioned stages

  /** The committed head of the versioned stage `stage` (its `v<N>`
    * sub-stages), its snapshot read as one frame with `schema`; lists the
    * stage once. A crash between a publish and its retirement leaves
    * superseded versions committed: they are retired here. */
  def head(stage: String, schema: StructType): Option[CheckpointStore.Version] = {
    val committed = committedVersions(stage)
    committed.lastOption.map { n =>
      val reads = readsOf(stage, n)
      committed.init.foreach(v => retire(stage, v, keepData = reads.contains(v)))
      CheckpointStore.Version(n, reads, readVersions(stage, reads, Some(schema)))
    }
  }

  /** Prepares the version after `prev` (`v1` without one) of the versioned
    * stage `stage`. It appends `df`'s files to `prev`'s snapshot, or, with
    * `rebase`, holds `df` alone: a compaction, whose publish then drops
    * every lower version. Its manifest names the versions whose files make
    * up its snapshot; publishing it retires `prev`, which keeps its data
    * when the new version still reads it. [[drop]] discards a prepared
    * version that will not be published. */
  def prepareVersion(stage: String, prev: Option[CheckpointStore.Version], df: DataFrame,
      rebase: Boolean): CheckpointStore.Prepared[CheckpointStore.Version] = {
    val n = prev.fold(1)(_.n + 1)
    val reads = if (rebase) Seq(n) else prev.fold(Seq.empty[Int])(_.reads) :+ n
    val manifest = write(s"$stage/v$n", df, s""","versions":[${reads.mkString(",")}]""")
    val supersede = () =>
      if (rebase) versionDirs(stage).filter(_ < n).foreach(v => drop(s"$stage/v$v"))
      else prev.foreach(p => retire(stage, p.n, keepData = true))
    new CheckpointStore.Prepared(s"$stage/v$n", manifest, supersede, CheckpointStore.Version(n, reads,
      readVersions(stage, reads, Some(CheckpointStore.nullable(df.schema)))))
  }

  /** A superseded version leaves the snapshot: its manifest goes, and its
    * data too unless the head still reads it. */
  private def retire(stage: String, v: Int, keepData: Boolean): Unit =
    if (keepData) fs.delete(manifestPath(s"$stage/v$v"), false) else drop(s"$stage/v$v")

  /** The versions whose files make up committed version `n` of `stage`:
    * the ones its manifest names, or `n` alone (a version whose manifest
    * names none holds its whole snapshot). */
  private def readsOf(stage: String, n: Int): Seq[Int] =
    CheckpointStore.Versions.findFirstMatchIn(readString(manifestPath(s"$stage/v$n")))
      .fold(Seq(n))(_.group(1).split(',').map(_.toInt).toSeq)

  /** The snapshot made up of versions `reads` of `stage`: one scan over
    * their directories. */
  private def readVersions(stage: String, reads: Seq[Int], schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(reads.map(v => stageDir(s"$stage/v$v").toString): _*)

  /** Remove a snapshot, committed (compaction) or only prepared; no-op
    * when absent. */
  def drop(stage: String): Unit = {
    val dir = stageDir(stage)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Read a committed snapshot (stage must be committed); a version of a
    * versioned stage reads every version its manifest names. With the
    * snapshot's `schema` given, no schema is inferred from its files. */
  def read(stage: String, schema: Option[StructType] = None): DataFrame = {
    require(isCommitted(stage), s"stage $stage is not committed")
    stage match {
      case CheckpointStore.VersionStage(base, n) => readVersions(base, readsOf(base, n.toInt), schema)
      case _ => schema.fold(spark.read)(spark.read.schema).parquet(stageDir(stage).toString)
    }
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

  /** Committed `v<N>` versions of a versioned stage (e.g. the KgSession
    * seen-set key spaces). Publishing a version retires the one before, so
    * this is the head alone (a crash can leave more; the head is the max),
    * and lower numbers may be holes. */
  def committedVersions(stage: String): Seq[Int] =
    versionDirs(stage).filter(n => isCommitted(s"$stage/v$n"))

  /** Every `v<N>` directory of a versioned stage, committed or not. */
  private def versionDirs(stage: String): Seq[Int] = {
    val base = stageDir(stage)
    if (!fs.exists(base)) return Nil
    fs.listStatus(base).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.length > 1 && s.drop(1).forall(_.isDigit) =>
        s.drop(1).toInt }
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

  /** A stage whose data is written and whose manifest is not; `result` is
    * what its publish returns, `retire` what the publish then removes. */
  final class Prepared[A] private[checkpoint] (private[checkpoint] val stage: String,
      private[checkpoint] val manifest: String, private[checkpoint] val retire: () => Unit,
      private[checkpoint] val result: A)

  /** Committed version `n` of a versioned stage: the versions whose files
    * make up its snapshot (`n` last) and that snapshot as one frame. */
  final case class Version(n: Int, reads: Seq[Int], frame: DataFrame)

  private val Versions = "\"versions\":\\[([0-9,]+)\\]".r
  private val VersionStage = "(.+)/v([0-9]+)".r

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
