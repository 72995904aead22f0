package graft.dedup

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `runNoSelfLoops` is `run` minus the final join back to the input, for
  * inputs without self-loops: on strict a < b pair lists the two must
  * label every vertex alike, and a self-loop row must fail the fast path
  * rather than lose its vertex's label. */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession.builder("graft-cc-test", "4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("runNoSelfLoops equals run on strict a < b pair lists") {
    import spark.implicits._
    val cases = Seq(
      "duplicate pairs" -> Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L), (1L, 3L)),
      "long chain" -> (0L until 300L).map(i => (i, i + 1)),
      "two disjoint components" ->
        Seq((1L, 5L), (5L, 9L), (3L, 9L), (20L, 30L), (30L, 40L), (20L, 40L)))
    for ((name, pairs) <- cases) {
      assert(pairs.forall { case (a, b) => a < b })
      val edges = pairs.toDF("a", "b")
      val fast = labels(ConnectedComponents.runNoSelfLoops(edges))
      assert(fast == labels(ConnectedComponents.run(edges)), name)
      assert(fast.keySet == pairs.flatMap { case (a, b) => Seq(a, b) }.toSet, name)
    }
    assert(labels(ConnectedComponents.runNoSelfLoops(
      Seq((1L, 5L), (5L, 9L), (20L, 30L)).toDF("a", "b"))) ==
      Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 20L -> 20L, 30L -> 20L))
  }

  test("a self-loop row fails runNoSelfLoops loudly") {
    import spark.implicits._
    val e = intercept[Exception](
      ConnectedComponents.runNoSelfLoops(Seq((1L, 2L), (3L, 3L)).toDF("a", "b")).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("self-loop")), e.toString)
    // run() labels such a vertex by itself
    assert(labels(ConnectedComponents.run(Seq((1L, 2L), (3L, 3L)).toDF("a", "b"))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }
}
