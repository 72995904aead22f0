package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Keyed COW writes on record keys whose footer key strings do not order
  * like the key: a DATE key's footer holds padded epoch days while a batch
  * key casts to `2020-01-05`, and a DOUBLE's `"5.0"` sorts after a file's
  * `"100.0"`. Candidate files for such keys must not be pruned by key
  * range, so `upsert`, `deleteByKeys` and `merge` each match a plain
  * DataFrame model: no stale row kept beside its new version, no delete
  * lost. */
class KeyTypeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession
    .builder("graft-keytype-test", "4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val Cols = Seq("k", "v", "ts")

  /** Rows of `df`, sorted — small frames only. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(Cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  /** `state` with the rows of `batch`'s keys replaced by `batch`. */
  private def replaced(state: DataFrame, batch: DataFrame): DataFrame =
    state.join(batch.select("k"), Seq("k"), "leftanti").unionByName(batch)

  private def checkKeyedWrites(name: String, key: Column => Column): Unit = {
    val root = s"/tmp/graft_spec/keytype_$name"
    val t = GraftTable(spark, GraftTableConfig(root, "k", "ts"))
    t.dropIfExists()
    def frame(ids: Seq[Long], v: String, ts: Long): DataFrame =
      spark.createDataFrame(ids.map(i => (i, v, ts))).toDF("id", "v", "ts")
        .select(key(col("id")).as("k"), col("v"), col("ts"))
    val base = frame(1L to 400L, "base", 0L)
    t.insert(base, numFiles = 4)
    assert(t.timeline.liveFiles(None).size == 4)
    var model = base

    val upserts = frame(Seq(5L, 61L, 150L, 250L, 399L), "upserted", 1L)
    t.upsert(upserts)
    model = replaced(model, upserts)
    assert(rows(t.read()) == rows(model), s"$name upsert")

    val doomed = frame(Seq(7L, 120L, 333L), "", 0L).select("k")
    t.deleteByKeys(doomed)
    model = model.join(doomed, Seq("k"), "leftanti")
    assert(rows(t.read()) == rows(model), s"$name deleteByKeys")

    val source = frame(Seq(9L, 210L, 500L, 501L), "merged", 2L)
    t.merge(source)
    model = replaced(model, source)
    assert(rows(t.read()) == rows(model), s"$name merge")
    t.dropIfExists()
  }

  test("a DATE-keyed COW table: upsert, deleteByKeys and merge match the model") {
    checkKeyedWrites("date", id => date_add(lit("2020-01-01").cast("date"), id.cast("int")))
  }

  test("a DOUBLE-keyed COW table: upsert, deleteByKeys and merge match the model") {
    checkKeyedWrites("double", _.cast("double"))
  }
}
