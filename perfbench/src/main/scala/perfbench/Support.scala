package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions.col

/** Row count plus two order-independent sums of per-row hashes. */
final case class Fingerprint(rows: Long, h1: Long, h2: Long)

object Consume {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Consume every row and every column of `df` through its own physical
    * plan and fingerprint the rows. A `.count()` would let the optimizer
    * drop columns and count-invariant operators, timing part of the query. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var a = 0L
      var b = 0L
      it.foreach { r =>
        val h = proj(r).hashCode().toLong
        n += 1
        a += h
        b += mix(h)
      }
      Iterator((n, a, b))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  /** `model` with the columns, column order and types of `like`. */
  def shaped(model: DataFrame, like: DataFrame): DataFrame =
    model.select(like.schema.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
}

/** Bytes on disk, read with java.nio so the walk is not counted by the
  * counting filesystem. */
object Disk {
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).values.sum

  /** Bytes of files that are new or changed in `after` relative to `before`. */
  def created(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
}

/** Minimal JSON writer for the run's result files. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }

  def writeLines(path: String, rows: Iterable[Any]): Unit =
    Files.writeString(Paths.get(path), rows.map(apply).mkString("", "\n", "\n"))

  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), apply(v) + "\n")
}

object Parallel {
  /** Run independent untimed jobs on their own threads and wait for all:
    * a cold JVM compiles the code of concurrent calls in parallel. */
  def all(jobs: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.size)
    try jobs.map(j => pool.submit(new Runnable { def run(): Unit = j() })).foreach(_.get())
    finally pool.shutdown()
  }
}

object Inputs {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def manifest(dir: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(s"$dir/manifest.json"))

  def longs(n: com.fasterxml.jackson.databind.JsonNode): Seq[Long] =
    n.elements().asScala.map(_.asLong()).toSeq
}
