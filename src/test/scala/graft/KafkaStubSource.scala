package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types._

/** TEST-ONLY stand-in for the Kafka connector (which is not on this
  * classpath): registers the `kafka` short name, speaks the exact Kafka
  * wire schema (key/value binary, topic, partition, offset, timestamp,
  * timestampType), and records the options it was constructed with so the
  * contract test can assert DeltaStream passes consumer configs through
  * verbatim. Records come from newline-delimited files under the
  * `stub.dir` option — one line per record, offsets are line numbers, so
  * restarts replay deterministically from the checkpointed offset exactly
  * like the real consumer. `Trigger.AvailableNow` drains to the line count
  * seen when the query starts, like [[graft.sources.GraftStreamSource]]. */
class KafkaStubSource extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "kafka"

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("kafka", KafkaStubSource.WireSchema)

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    KafkaStubSource.lastOptions = parameters
    new Source with SupportsTriggerAvailableNow {
      private val dir = parameters("stub.dir")
      private val topic = parameters.getOrElse("subscribe", "stub")

      private def lines(): Seq[String] = {
        val p = Paths.get(dir)
        if (!Files.exists(p)) Seq.empty
        else Files.list(p).iterator().asScala.toSeq.map(_.toString).sorted
          .flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
      }

      override def schema: StructType = KafkaStubSource.WireSchema

      override def getOffset: Option[Offset] = {
        val n = lines().size
        if (n == 0) None else Some(LongOffset(n.toLong))
      }

      // the head recorded by prepareForTriggerAvailableNow; None = uncapped
      @volatile private var availableNowHead: Option[Option[Offset]] = None

      override def prepareForTriggerAvailableNow(): Unit =
        availableNowHead = Some(getOffset)

      override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
        availableNowHead.getOrElse(getOffset).orNull

      override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
        val from = start.map(_.json().toLong).getOrElse(0L).toInt
        val to = end.json().toLong.toInt
        val rows = lines().slice(from, to).zipWithIndex.map { case (l, i) =>
          Row(null, l.getBytes(StandardCharsets.UTF_8), topic, 0,
            (from + i).toLong, new java.sql.Timestamp(0L), 0)
        }
        val spark = sqlContext.sparkSession
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), KafkaStubSource.WireSchema)
        // a V1 Source must return a STREAMING frame
        org.apache.spark.sql.GraftSqlShim.internalCreateDataFrame(
          spark, df.queryExecution.toRdd, KafkaStubSource.WireSchema, isStreaming = true)
      }

      override def stop(): Unit = ()
    }
  }
}

object KafkaStubSource {
  @volatile var lastOptions: Map[String, String] = Map.empty

  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))
}
