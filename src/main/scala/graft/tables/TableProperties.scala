package graft.tables

import java.util.Locale

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** The table options and the `_graft/` state files — the analogue of
  * Hudi's `hoodie.properties`. This is the one module that knows the
  * option keys (README "Table options") and their value formats: the
  * `format("graft")` source, the catalog's `CREATE TABLE … TBLPROPERTIES`
  * and `_graft/config.json` all go through [[fromOptions]] /
  * [[toOptions]], and every small state file under `_graft/` is read and
  * replaced through [[readJson]] / [[writeJson]]. */
object TableProperties {

  val Key = "graft.key"
  val Precombine = "graft.precombine"
  val Partition = "graft.partition"
  val PartitionDay = "graft.partition.day.from"
  val Buckets = "graft.buckets"
  val Changelog = "graft.changelog"
  val Type = "graft.type"
  val StatsCols = "graft.statsCols"
  val RecordIndexBuckets = "graft.recordIndexBuckets"
  val SecondaryIndexCols = "graft.secondaryIndexCols"

  private val Keys = Set(Key, Precombine, Partition, PartitionDay, Buckets, Changelog,
    Type, StatsCols, RecordIndexBuckets, SecondaryIndexCols)
  private val PartitionKeys = Set(Partition, PartitionDay)

  /** SQL TBLPROPERTIES spellings, accepted at every entry point. */
  private val Aliases = Map("primaryKey" -> Key, "preCombineField" -> Precombine,
    "type" -> Type, "statsCols" -> StatsCols, "recordIndexBuckets" -> RecordIndexBuckets)

  private def lower(k: String) = k.toLowerCase(Locale.ROOT)
  private val AliasOf = Aliases.map { case (a, k) => lower(a) -> k }
  private val KeyOf = Keys.map(k => lower(k) -> k).toMap

  /** The table options among `opts`, matched in any case (Spark hands the
    * source its options lower-cased), aliases renamed to their canonical
    * keys (a canonical key wins over its alias); other options dropped. */
  private def canonical(opts: Map[String, String]): Map[String, String] = {
    def rename(to: Map[String, String]) =
      opts.flatMap { case (k, v) => to.get(lower(k)).map(_ -> v) }
    rename(AliasOf) ++ rename(KeyOf)
  }

  /** `base` overlaid by the table options of `opts`. A partition key in
    * `opts` replaces every partition key of `base`. */
  def overlay(base: Map[String, String], opts: Map[String, String]): Map[String, String] = {
    val o = canonical(opts)
    (if (o.keySet.exists(PartitionKeys)) base -- PartitionKeys else base) ++ o
  }

  private def bad(key: String, v: String, what: String) =
    new IllegalArgumentException(s"$key must be $what, got '$v'")

  /** A count option (or session conf) in [0, max]; a bad value fails
    * naming `key`. */
  def parseCount(key: String, v: String, max: Long = Long.MaxValue): Long =
    v.trim.toLongOption.filter(n => n >= 0 && n <= max)
      .getOrElse(throw bad(key, v, "a non-negative integer"))

  private def tableType(v: String): String = v.trim.toUpperCase match {
    case "COW" | "COPY_ON_WRITE" => TableType.Cow
    case "MOR" | "MERGE_ON_READ" => TableType.Mor
    case _ => throw bad(Type, v, "cow, mor, COPY_ON_WRITE or MERGE_ON_READ")
  }

  /** `field[:outCol:format]`; `:` cannot occur inside the format. */
  private def dayPartition(v: String): KeyGen = v.split(":", -1) match {
    case Array(f) if f.nonEmpty => TimestampDayPartition(f)
    case Array(f, out, fmt) if f.nonEmpty && out.nonEmpty && fmt.nonEmpty =>
      TimestampDayPartition(f, out, fmt)
    case _ => throw bad(PartitionDay, v, "field[:outCol:format]")
  }

  /** The config the options describe, aliases included. Unset keys take
    * their defaults; a bad value fails with its key named. */
  def fromOptions(path: String, opts: Map[String, String]): GraftTableConfig = {
    val o = canonical(opts)
    def count(k: String) = o.get(k).fold(0)(parseCount(k, _, Int.MaxValue).toInt)
    def cols(k: String) = o.get(k).fold(Seq.empty[String])(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val key = o.getOrElse(Key, "")
    GraftTableConfig(
      path = path,
      keyField = key,
      precombineField = o.getOrElse(Precombine, key),
      keyGen = o.get(Partition).map(FieldPartition)
        .orElse(o.get(PartitionDay).map(dayPartition)).getOrElse(NoPartition),
      numBuckets = count(Buckets),
      writeChangelog = o.get(Changelog).exists(v =>
        v.trim.toBooleanOption.getOrElse(throw bad(Changelog, v, "true or false"))),
      tableType = o.get(Type).fold(TableType.Cow)(tableType),
      statsCols = cols(StatsCols),
      recordIndexBuckets = count(RecordIndexBuckets),
      secondaryIndexCols = cols(SecondaryIndexCols))
  }

  /** The options of `cfg` under their canonical keys; [[fromOptions]]
    * reads them back to `cfg`. */
  def toOptions(cfg: GraftTableConfig): Map[String, String] =
    Map(Key -> cfg.keyField, Precombine -> cfg.precombineField,
      Buckets -> cfg.numBuckets.toString, Changelog -> cfg.writeChangelog.toString,
      Type -> cfg.tableType, StatsCols -> cfg.statsCols.mkString(","),
      RecordIndexBuckets -> cfg.recordIndexBuckets.toString,
      SecondaryIndexCols -> cfg.secondaryIndexCols.mkString(",")) ++ (cfg.keyGen match {
      case NoPartition => Nil
      case FieldPartition(f) => Seq(Partition -> f)
      case TimestampDayPartition(f, out, fmt) => Seq(PartitionDay -> s"$f:$out:$fmt")
    })

  // --------------------------------------------------------- state files

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Replace `p` atomically via temp + rename: a concurrent reader sees the
    * old content or the new, never a half-written file. (On local disk
    * rename(2) overwrites the destination in one step; on stores whose
    * rename refuses an existing destination we delete-then-rename, which
    * narrows the window to a brief not-exists that readers treat as None —
    * the same trade Hudi's hoodie.properties backup dance makes.) */
  private def atomicWrite(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(p.getParent, s".tmp-${p.getName}-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    var attempts = 0
    while (!fs.rename(tmp, p)) {
      attempts += 1
      // Losing the rename to an IDENTICAL concurrent write is success —
      // e.g. N writer handles all persist the same config.json on their
      // first commit (ConcurrencyStress hit the old single-shot
      // delete+rename losing twice in a row at 8 writers and throwing).
      val same =
        try {
          val in = fs.open(p)
          val cur = try in.readAllBytes() finally in.close()
          java.util.Arrays.equals(cur, bytes)
        } catch { case _: java.io.IOException => false }
      if (same) { fs.delete(tmp, false); return }
      if (attempts >= 5) {
        fs.delete(tmp, false)
        throw new IllegalStateException(s"could not atomically replace $p")
      }
      fs.delete(p, false)
    }
  }

  /** The JSON document at `p`, None when the file does not exist. The
    * `exists` probe keeps a missing file from costing an open (validators.json
    * is read on every commit and absent on most tables); a file gone between
    * probe and open, [[atomicWrite]]'s delete-then-rename window, is None too. */
  def readJson(fs: FileSystem, p: Path): Option[JsonNode] =
    try {
      if (!fs.exists(p)) None
      else { val in = fs.open(p); try Some(mapper.readTree(in)) finally in.close() }
    } catch { case _: java.io.FileNotFoundException => None }

  /** Replace `p` with `value` as JSON (Scala maps, seqs and scalars, or a
    * JsonNode), atomically: a reader on any handle sees the old document
    * or the new one, never a truncated file. */
  def writeJson(fs: FileSystem, p: Path, value: Any): Unit =
    atomicWrite(fs, p, mapper.writeValueAsBytes(value))

  private def fsOf(spark: SparkSession, tablePath: String): FileSystem =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def path(tablePath: String) = new Path(s"$tablePath/_graft/config.json")

  def save(spark: SparkSession, cfg: GraftTableConfig): Unit =
    writeJson(fsOf(spark, cfg.path), path(cfg.path), TreeMap.from(toOptions(cfg)))

  /** The stored options of the table at `tablePath`, None without a table. */
  def loadOptions(spark: SparkSession, tablePath: String): Option[Map[String, String]] =
    readJson(fsOf(spark, tablePath), path(tablePath))
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)

  def load(spark: SparkSession, tablePath: String): Option[GraftTableConfig] =
    loadOptions(spark, tablePath).map(fromOptions(tablePath, _))

  private def schemaPath(tablePath: String) = new Path(s"$tablePath/_graft/schema.json")

  /** Persist the table's user-visible schema (what `read()` returns) —
    * written before each data write, so the streaming source can resolve a
    * schema even for a table with no committed data yet. */
  def saveSchema(spark: SparkSession, tablePath: String, schema: StructType): Unit =
    writeJson(fsOf(spark, tablePath), schemaPath(tablePath), mapper.readTree(schema.json))

  def loadSchema(spark: SparkSession, tablePath: String): Option[StructType] =
    readJson(fsOf(spark, tablePath), schemaPath(tablePath))
      .map(n => DataType.fromJson(n.toString).asInstanceOf[StructType])
}
