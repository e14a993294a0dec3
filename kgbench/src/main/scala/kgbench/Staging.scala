package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Properties
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs staged once per (workload, seed, size) under the work directory,
  * in a JVM of its own (`--stage 1`), never in a timed one. A stage
  * directory is complete when its `meta.properties` exists: written last,
  * it holds the input checksum and the expected outputs the jobs are
  * checked against. */
object Staging {

  /** Staged inputs kept on disk; the least recently staged go first. */
  val Keep = 40

  private def dirFor(work: Path, workload: String, seed: Long, size: Long): Path =
    work.resolve("inputs").resolve(s"$workload-seed$seed-n$size")

  /** Stage the input with `stage` unless it is staged already. */
  def ensure(work: Path, workload: String, seed: Long, size: Long)
      (stage: Path => Map[String, String]): Unit = {
    val dir = dirFor(work, workload, seed, size)
    val meta = dir.resolve("meta.properties")
    if (!Files.exists(meta)) {
      evict(dir.getParent)
      deleteTree(dir)
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      val props = new Properties()
      stage(dir).foreach { case (k, v) => props.setProperty(k, v) }
      val w = Files.newBufferedWriter(meta)
      try props.store(w, s"$workload seed $seed size $size") finally w.close()
      println(f"staged $dir in ${Main.secondsSince(t0)}%.1f s")
    }
  }

  /** The staged input's directory and metadata; it must have been staged. */
  def load(work: Path, workload: String, seed: Long, size: Long): (Path, Map[String, String]) = {
    val dir = dirFor(work, workload, seed, size)
    val meta = dir.resolve("meta.properties")
    require(Files.exists(meta), s"input $dir is not staged (run with --stage 1 first)")
    val props = new Properties()
    val r = Files.newBufferedReader(meta)
    try props.load(r) finally r.close()
    val m = props.asScala.toMap
    println(s"input $workload seed $seed size $size checksum ${m("checksum")}")
    (dir, m)
  }

  /** Order-insensitive content checksum of a frame (XOR of row hashes). */
  def checksum(df: DataFrame): String =
    f"${df.select(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head().getLong(0)}%016x"

  /** Write `rows` as JSON lines into `files` files under `dir`, round-robin,
    * without Spark; returns a checksum of the bytes written. */
  def writeJson(dir: Path, files: Int, rows: Iterator[Product]): String = {
    Files.createDirectories(dir)
    val md = MessageDigest.getInstance("SHA-256")
    val ws = (0 until files).map(i => Files.newBufferedWriter(dir.resolve(f"part-$i%05d.json"), UTF_8))
    try rows.zipWithIndex.foreach { case (r, i) =>
      val line = Json.of(r) + "\n"
      md.update(line.getBytes(UTF_8))
      ws(i % files).write(line)
    } finally ws.foreach(_.close())
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Read JSON lines written by [[writeJson]] with `T`'s schema. */
  def readJson[T: Encoder](spark: SparkSession, dir: Path): Dataset[T] =
    spark.read.schema(implicitly[Encoder[T]].schema).json(dir.toString).as[T]

  private def evict(root: Path): Unit = if (Files.isDirectory(root)) {
    val dirs = Files.list(root).iterator().asScala.toSeq
      .sortBy(p => Files.getLastModifiedTime(p).toMillis)
    dirs.dropRight(Keep - 1).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }
}

/** JSON for the model's case classes: a product is an object of its fields,
  * a sequence an array, a string a JSON string, null null. */
object Json {
  def of(v: Any): String = { val sb = new java.lang.StringBuilder; put(sb, v); sb.toString }

  private def put(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String =>
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c    => sb.append(c)
      }
      sb.append('"')
    case n @ (_: Int | _: Long | _: Boolean) => sb.append(n.toString)
    case xs: Seq[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); put(sb, x) }
      sb.append(']')
    case p: Product =>
      sb.append('{')
      p.productElementNames.zip(p.productIterator).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        put(sb, k); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case other => throw new IllegalArgumentException(s"no JSON for ${other.getClass}")
  }
}
