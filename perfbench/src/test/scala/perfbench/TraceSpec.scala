package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, layer: String, start: Double, end: Double) =
    Span(id, parent, layer, "op", start, end)

  test("self time is the duration minus what the child spans cover") {
    val spans = Seq(
      span(1, 0, "Pipeline", 0, 10),
      span(2, 1, "sink.JdbcUpsert", 1, 3),
      span(3, 1, "sink.JdbcUpsert", 2, 5), // overlaps its sibling: counted once
      span(4, 1, "echem.Figure", 8, 12), // runs past its parent: clipped
      span(5, 2, "core.Tables", 1.5, 2.5))
    val self = Stats.selfIntervals(spans)
    def len(id: Long) = self(id).map { case (a, b) => b - a }.sum
    assert(self(1) == Seq((0.0, 1.0), (5.0, 8.0)))
    assert(len(1) == 4.0)
    assert(len(2) == 1.0)
    assert(len(3) == 3.0)
    assert(len(5) == 1.0)
  }

  test("driver time is self time with none of the span's own jobs running") {
    assert(Stats.subtract((0.0, 10.0), Seq((2.0, 4.0), (3.0, 6.0), (9.0, 11.0))) ==
      Seq((0.0, 2.0), (6.0, 9.0)))
    assert(Stats.unionLength(Seq((0.0, 1.0), (0.5, 2.0), (3.0, 4.0))) == 3.0)
    assert(Stats.subtract((1.0, 2.0), Nil) == Seq((1.0, 2.0)))
    assert(Stats.subtract((1.0, 2.0), Seq((0.0, 3.0))).isEmpty)
  }

  test("a timing reports its median and the highest percentile with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.summary(hundred) == ((50.5, Some((90.0, 90.0)), 100)))
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.summary(thousand) == ((500.5, Some((99.0, 990.0)), 1000)))
    // 40 samples: p75 leaves exactly 10 beyond, p90 only 4
    assert(Stats.summary((1 to 40).map(_.toDouble))._2 == Some((75.0, 30.0)))
    // too few samples for any percentile beyond the median
    assert(Stats.summary(Seq(3.0, 1.0, 2.0)) == ((2.0, None, 3)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("jobs, tasks and cached blocks are billed to the span that ran them") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new SpanListener
      sc.addSparkListener(listener)
      sc.parallelize(1 to 10, 2).count() // before activation: billed nowhere
      org.apache.spark.BenchBridge.drainListeners(sc)
      listener.activate()
      val t = new Tracer(Some(sc))
      val cached = sc.parallelize(1 to 1000, 4).map(_ * 2).cache()
      t.span("core.Tables", "outer") {
        t.span("text.Dedup", "inner") {
          cached.count()
          sc.parallelize(1 to 10, 3).map(x => (x % 2, x)).reduceByKey(_ + _).collect()
        }
        sc.parallelize(1 to 10, 5).count()
      }
      sc.parallelize(1 to 10, 2).count() // outside any span
      org.apache.spark.BenchBridge.drainListeners(sc)
      assert(sc.getLocalProperty(Tracer.SpanKey) == null)
      val m = Layers.metrics(t.spans, listener.countsOf).toMap
      assert(m("text.Dedup.calls") == 1 && m("core.Tables.calls") == 1)
      assert(m("text.Dedup.jobs") == 2)
      assert(m("text.Dedup.tasks") == 4 + 3 + 3) // cache build + both shuffle stages
      assert(m("text.Dedup.shuffle_write_mb") > 0)
      assert(m("text.Dedup.cache_mb") > 0)
      assert(m("core.Tables.jobs") == 1 && m("core.Tables.tasks") == 5)
      assert(m("core.Tables.cache_mb") == 0 && m("core.Tables.shuffle_write_mb") == 0)
      assert(m("text.Similarity.calls") == 0 && m("text.Similarity.jobs") == 0)
      assert(m("core.Tables.self_s") >= m("core.Tables.driver_s"))
      assert(listener.countsOf(0L).jobs == 1) // the unspanned job
      cached.unpersist()
    } finally spark.stop()
  }
}
