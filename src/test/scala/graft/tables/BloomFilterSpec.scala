package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The key-column bloom filter every data file carries, sized to the file
  * it sits in: `bloomMayContain` keeps present keys and rejects an
  * absent one on a 10-row file and on a 100k-row file; the small file's
  * filter stays a few KiB, and the large file still meets parquet's 1%
  * false-positive rate. */
class BloomFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession.builder("graft-bloom-test", "4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** A one-file table of keys `0 until rows`; returns it and its file. */
  private def oneFile(name: String, rows: Long): (GraftTable, Path) = {
    val t = GraftTable(spark, GraftTableConfig(s"/tmp/graft_spec/bloom_$name", "id", "id"))
    t.dropIfExists()
    t.insert(spark.range(rows).selectExpr("id", "cast(id AS string) AS s"), numFiles = 1)
    val files = t.timeline.liveFiles(None)
    assert(files.size == 1)
    (t, new Path(s"${t.cfg.path}/${files.head.path}"))
  }

  /** Bytes of the key column's bloom filter, summed over row groups, as
    * read back from the file's footer. */
  private def keyBloomBytes(p: Path): Long = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
      b.getColumns.asScala.filter(_.getPath.toDotString == "id").map { c =>
        val bloom = reader.getBloomFilterDataReader(b).readBloomFilter(c)
        assert(bloom != null, s"no key bloom in $p")
        bloom.getBitsetSize.toLong
      }
    }.sum
    finally reader.close()
  }

  test("a 10-row file: every present key kept, an absent key rejected, bloom <= 4 KiB") {
    val (t, p) = oneFile("small", 10L)
    (0L until 10L).foreach(k => assert(t.bloomMayContain(p, Seq(k)), s"key $k dropped"))
    assert(!t.bloomMayContain(p, Seq(1000000L)))
    val bytes = keyBloomBytes(p)
    assert(bytes <= 4096L, s"10-row file carries $bytes bytes of key bloom")
    t.dropIfExists()
  }

  test("a 100k-row file: every 97th present key kept, false-positive rate <= 2% over 10k absent keys") {
    val rows = 100000L
    val (t, p) = oneFile("large", rows)
    // one call per key on a sample; one call for all keys would pass on
    // a single hit
    (0L until rows by 97L).foreach(k => assert(t.bloomMayContain(p, Seq(k)), s"key $k dropped"))
    // at most 200 of 10000 kept: the absent keys are mostly rejected
    val falsePositives = (rows until rows + 10000L).count(k => t.bloomMayContain(p, Seq(k)))
    assert(falsePositives <= 200, s"$falsePositives of 10000 absent keys kept")
    t.dropIfExists()
  }
}
